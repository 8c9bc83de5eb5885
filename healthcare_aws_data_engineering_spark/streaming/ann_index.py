"""Incremental ANN index maintenance — the IVF-PQ index as an
APPENDABLE artifact (r14 verdict stretch #9), completing the story the
shingle ledger started: snapshots arrive over months, each append pays
one bounded projection over the NEW vectors only, and the accrued index
serves queries with zero re-reads of earlier snapshots.

Extension beyond the reference (its ingest surface is batch Glue jobs —
``Glue_tranformation_json_parquet.py:51-56,186-199``'s bookmark
discipline is the pattern being composed here, per SURVEY §7.2 step 7).
Spark-first shape:

- **Frozen quantizers are the soundness condition.** Index rows are a
  pure per-row function of (vector, centroids, codebooks) —
  :func:`..operators.similarity.ivfpq_index_rows` — so the index of a
  union IS the union of per-snapshot indexes. Appending against frozen
  quantizers is therefore EXACT (pinned: accrued == from-scratch on
  the union, serve-from-accrued == ``ivfpq_topk`` on the union), which
  is how production systems run FAISS-style IVF serving too: the
  coarse quantizer is retrained rarely; adds go to existing cells.
- **The ingest leg is the Glue-bookmark discipline**: one
  ``availableNow`` run drains unseen snapshot files through the
  checkpoint, each micro-batch writes its own ``__batch_id`` partition
  with dynamic partition overwrite — the idempotent at-least-once sink
  (same contract as ``decontam.shingle_ledger_ingest``; a
  crash-replayed batch overwrites its previous attempt instead of
  duplicating index rows). ``index_path`` + ``checkpoint_path`` are a
  paired artifact, versioned together.
- **Retraining is a MEASURED decision, not a schedule**:
  :func:`quantizer_drift` prices how well the frozen centroids still
  fit a new snapshot (mean/max exact-grid assignment distance + cell
  occupancy skew, one projection + one bounded agg). Compare a new
  snapshot's drift row against the training snapshot's baseline row —
  when distortion or skew ratchets, retrain the quantizer and rebuild
  (the rebuild is ``ivfpq_topk``'s normal path; the ledger's
  append-vs-rebuild trade, same shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.similarity import (
    _cell_dists,
    ivfpq_index_rows,
    quantize_vec,
)


def _write_index_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    cents: list[list[float]],
    codebooks: list[list[list[int]]],
) -> None:
    """Idempotent per-micro-batch index write: the batch's
    ``(neighbor_id, cell, codes)`` rows land in their own
    ``__batch_id`` partition with dynamic partition overwrite, so an
    at-least-once replay overwrites rather than duplicates (duplicate
    index rows would surface as duplicate candidates and shift top-k
    ranks). Readers select the three payload columns and never see the
    partition key."""
    (
        ivfpq_index_rows(batch, cents, codebooks)
        .withColumn("__batch_id", F.lit(batch_id).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(index_path)
    )


def ivfpq_index_ingest(
    spark,
    raw_path: str,
    index_path: str,
    checkpoint_path: str,
    cents: list[list[float]],
    codebooks: list[list[list[int]]],
):
    """Accrue the IVF-PQ index incrementally: one ``availableNow`` run
    drains vector parquet files the checkpoint has not seen and writes
    their index rows to ``index_path`` (idempotent ``__batch_id``
    partitions — :func:`_write_index_batch`). Quantizers are FROZEN
    arguments: every snapshot codes against the same centroids and
    codebooks, which is exactly what makes the accrued index equal a
    from-scratch build on the union (pinned in
    tests/test_ann_index_ingest.py, serve-level too). Per micro-batch
    work is one projection over the new vectors — no shuffle, no state,
    no re-read of previously indexed snapshots. Returns the streaming
    query."""
    schema = spark.read.parquet(raw_path).schema
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(raw_path)
    query = (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: _write_index_batch(
                batch, batch_id, index_path, cents, codebooks
            )
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def load_index(spark, index_path: str) -> DataFrame:
    """Read the accrued index's payload columns (the ``__batch_id``
    partition key stays an ingest implementation detail)."""
    return spark.read.parquet(index_path).select(
        "neighbor_id", "cell", "codes"
    )


def quantizer_drift(snapshot: DataFrame, cents: list[list[float]]) -> DataFrame:
    """One-row drift report pricing how well FROZEN centroids fit a
    snapshot: ``(n_vectors, mean_cell_dist, max_cell_dist,
    max_cell_frac)`` — mean/max nearest-centroid squared distance on
    the exact micro-unit long grid (the same distances the assignment
    argmin ranks), plus the occupancy share of the fullest cell
    (assignment skew: drifted data piles into few cells, degrading the
    ``n_probe``-cell candidate bound). Retrain when a new snapshot's
    row ratchets above the training snapshot's baseline row — the
    decision is a comparison of two cheap aggregates, never a rebuild
    to find out. One projection + one bounded agg (|cells| rows); no
    shuffle wider than the cell-count table."""
    n_cells = len(cents)
    staged = snapshot.where(F.col("embedding").isNotNull()).select(
        quantize_vec(F.col("embedding")).alias("__q")
    )
    dists = _cell_dists(F.col("__q"), cents, exact=True)
    assigned = staged.select(
        F.array_min(dists).alias("d"),
        (F.array_position(dists, F.array_min(dists)) - 1).alias("cell"),
    )
    per_cell = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum("d").alias("ds"),
        F.max("d").alias("dm"),
    )
    return per_cell.agg(
        F.sum("cn").alias("n_vectors"),
        (F.sum("ds") / F.sum("cn")).alias("mean_cell_dist"),
        F.max("dm").alias("max_cell_dist"),
        (F.max("cn") / F.sum("cn")).alias("max_cell_frac"),
        F.lit(n_cells).alias("n_cells"),
    )
