"""Streaming image near-duplicate detection against a batch-built
perceptual-hash index — the online half of media dedup: "is this
incoming image a near-dup of anything already in the corpus?"

Extension beyond the reference (its streaming surface is batch Glue
jobs; flagged per SURVEY §7.2 step 7). The index side is banded
batch-side, the stream side is a pure projection followed by a
stateless stream-static equi-join, and the only state is the
watermark-bounded dedup of multi-band hits (see
:func:`dhash_near_dup_stream`). The same function accepts a BATCH frame
(parity testing: stream == batch is the correctness claim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.dedup import _bucket_cap


def dhash_near_dup_stream(
    stream_media: DataFrame,
    index_hashes: DataFrame,
    max_hamming: int = 6,
    n_bands: int | None = None,
    max_bucket: int | None = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming IMAGE near-dup against a batch-built perceptual index
    (r11).

    Matches ``(media_id, ts, index_id, hamming)``: stream images whose
    dHash is within ``max_hamming`` bits of some index image:

    - INDEX: a (media_id, dhash) frame (build batch-side with
      :func:`..operators.multimodal.media_dhash`) — banded with the
      same derived-bands recall contract as ``dhash_near_dup_pairs``
      (pigeonhole-exact unless ``max_bucket`` drops an over-full
      bucket; min_bucket=1 — the r5 singleton-index lesson: a unique
      corpus image's clone must still be flagged).
    - STREAM: (media_id, content, ts) raw containers; the dHash is
      computed INSIDE the micro-batch by the same zero-exchange Arrow
      stage (``media_dhash`` with the event-time column passed
      through), then band-exploded — a pure projection, so the join
      below is a stateless stream-static equi-join.
    - The only stateful step collapses multi-band hits for the same
      (stream, index) pair under the watermark horizon
      (``dropDuplicatesWithinWatermark`` — the unbounded-state argument
      of every other streaming operator here).

    Accepts a BATCH frame for ``stream_media`` (parity testing:
    stream == batch is the correctness claim)."""
    from ..operators.multimodal import (
        derive_dhash_bands,
        dhash_hamming,
        explode_dhash_bands,
        media_dhash,
    )

    n_bands = derive_dhash_bands(max_hamming, n_bands)
    idx = explode_dhash_bands(
        index_hashes.select(
            F.col("media_id").alias("index_id"),
            F.col("dhash").alias("index_dhash"),
        ).withColumnRenamed("index_dhash", "dhash"),
        n_bands,
    ).withColumnRenamed("dhash", "index_dhash")
    if max_bucket is not None:
        idx = _bucket_cap(idx, "val", max_bucket, min_bucket=1)
        idx = idx.drop("__n")
    probe = explode_dhash_bands(
        media_dhash(stream_media, passthrough=(ts_col,)).select(
            "media_id", "dhash", ts_col
        ),
        n_bands,
    )
    matches = (
        probe.join(idx, ["band", "val"])
        .filter(F.col("media_id") != F.col("index_id"))
        .select(
            "media_id",
            ts_col,
            "index_id",
            dhash_hamming(F.col("dhash"), F.col("index_dhash"))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if stream_media.isStreaming:
        return matches.withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(["media_id", "index_id"])
    return matches.dropDuplicates(["media_id", "index_id"])
