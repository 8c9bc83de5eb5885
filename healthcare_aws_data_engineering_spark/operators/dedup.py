"""Deduplication operators for large-scale training-data pipelines.

Extensions beyond the reference (SURVEY §7.2 step 7). Four families:

- :func:`exact_dedup` — hash-groupBy on the normalized content hash.
- :func:`minhash_lsh_pairs` — MinHash + banded LSH candidate generation
  (shingle → K min-hashes → band → bucket join).
- :func:`simhash_pairs` — 32-bit SimHash with Hamming-ball candidate
  matching via band exactness.
- :func:`ngram_jaccard` — exact word-n-gram Jaccard verification on
  candidate pairs.
- embedding-cosine near-dup lives in :mod:`.similarity` (same bucketing).

Scale design notes (the point of these operators):

- Signatures are an explode of each doc's shingles plus a map-side
  combined aggregate, so each shingle is hashed once and the shuffle
  carries one fixed-width row per doc, never text.
- The remaining shuffles are (a) the (band, key) bucket — each doc emits
  B rows of small fixed-width values; (b) the verification join, which
  touches only candidate pairs.
- Bucket skew (a degenerate band bucket with millions of docs) is the real
  100 TB hazard: ``max_bucket`` caps pair fan-out per bucket; AQE skew-join
  handles the joins.
- Every hash is reproducible in DuckDB where a registry row is
  oracle-checked: MinHash has an ``md5`` backend next to the cheaper
  ``xxhash64`` one, and SimHash votes come from md5 hex digits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import normalize_text


# ----------------------------------------------------------------- exact --
def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups: md5 of the normalized text → min id kept.
    Output: ``content_hash, keep_id, dup_count``, one row per distinct
    normalized content (``dup_count`` 1 for unique docs; filter
    ``dup_count >= 2`` for the duplicate groups). A single hash
    aggregate: map-side partial aggregation keeps the shuffle to one
    fixed-width row per distinct hash per task, and no group ever
    materializes its member list."""
    h = F.md5(normalize_text(F.col(text_col)).cast("binary"))
    return docs.groupBy(h.alias("content_hash")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


# --------------------------------------------------------------- shingles --
def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string> (projection only).

    The word array is bound as a LAMBDA VARIABLE (transform over a
    one-element array wrapper) so the split evaluates once per row, and
    the grams index into that variable — a cheap attribute reference.
    (A transform whose lambda body calls ``element_at(ws, i+j)`` on the
    raw split COLUMN inlines the whole split expression per element —
    O(words²) per document, ~10x slower; the r15 measurement also
    retired the earlier zip_with-fold form, which allocated two slices
    plus two zipped arrays per row and benched ~1.5x slower than this
    index form at identical output.)"""
    ws = F.split(F.trim(text), r"\s+")

    def inner(arr: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(arr) - n)
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(arr, i + j + 1) for j in range(n)]
        )
        return F.array_distinct(
            F.when(F.size(arr) >= n, F.transform(idx, gram)).otherwise(
                F.array(F.concat_ws(" ", arr))
            )
        )

    return F.element_at(F.transform(F.array(ws), inner), 1)


def _bucket_cap(
    banded: DataFrame, key_col: str, max_bucket: int, min_bucket: int = 2
) -> DataFrame:
    """Keep rows whose (band, key) bucket has min_bucket..max_bucket
    members, via a window count over the bucket shuffle (single subtree —
    see callers). The default ``min_bucket=2`` is a SELF-join
    optimization (a singleton bucket cannot produce a within-corpus
    pair); probe-against-index callers
    (``streaming.neardup.dhash_near_dup_stream``) must pass
    ``min_bucket=1`` — there a stream doc legitimately matches an index
    doc that is alone in its bucket."""
    from pyspark.sql import Window as W

    w = W.partitionBy("band", key_col)
    return banded.withColumn("__n", F.count(F.lit(1)).over(w)).filter(
        (F.col("__n") >= min_bucket) & (F.col("__n") <= max_bucket)
    )


# ---------------------------------------------------------------- minhash --
def _shingle_hash(shingle: Column, perm: int, backend: str) -> Column:
    if backend == "xxhash64":
        return F.xxhash64(shingle, F.lit(perm))
    if backend == "md5":
        # hex strings compare lexicographically — min() works unchanged and
        # is reproducible in any engine with md5().
        return F.md5(F.concat(shingle, F.lit(f"#{perm}")).cast("binary"))
    raise ValueError(f"unknown hash backend: {backend}")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 8,
    bands: int = 4,
    backend: str = "xxhash64",
    max_bucket: int = 50,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    ``num_perm`` minhashes split into ``bands`` bands of ``num_perm/bands``
    rows; docs sharing ANY band hash become a candidate pair. Probability a
    pair with Jaccard j collides: 1-(1-j^r)^b.

    Physical plan: projection (signature) → explode to B rows/doc →
    groupBy(band_idx, band_hash) with a size cap → pair fan-out inside each
    bucket → distinct. Shuffle carries only (band_hash, id)."""
    assert num_perm % bands == 0
    r = num_perm // bands
    # Signature via explode + partial-agg min: each shingle is hashed ONCE
    # per permutation and map-side combine reduces to num_perm mins per doc
    # before the (doc_id-keyed, fixed-width) shuffle. A projection-only
    # form (array_min over a transform per permutation) re-evaluates the
    # whole shingle array per permutation in interpreted HOF eval — ~10x
    # slower as the pipeline backbone.
    shingled = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col))).alias("__s"),
    )
    sig_tbl = shingled.groupBy("doc").agg(
        *[
            F.min(_shingle_hash(F.col("__s"), p, backend)).alias(f"__h{p}")
            for p in range(num_perm)
        ]
    )
    banded = sig_tbl.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"__h{b * r + i}").cast("string")
                                for i in range(r)
                            ],
                        ).cast("binary")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    # Pair fan-out = bucket self-equi-join (size-capped buckets only).
    # NOTE: an earlier version built pairs with nested transform/filter
    # over collect_list'd buckets; nested index-capturing lambdas proved
    # non-deterministic under local[32] (codegen lambda-variable races), and
    # the join is the shape that scales anyway (AQE handles bucket skew).
    #
    # The size cap is a WINDOW count over the same (band, band_hash)
    # shuffle, not a separate groupBy branch: both self-join inputs are
    # then the identical subtree, so the signature pipeline is computed
    # once and its exchange is reused (a groupBy-sizes + join shape
    # compiled to THREE independent recomputations of the signatures).
    capped = _bucket_cap(banded, "band_hash", max_bucket).select(
        "band", "band_hash", "doc"
    )
    pairs = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
    )
    return pairs.distinct()


# ---------------------------------------------------------------- simhash --
def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_hamming: int = 6,
    max_bucket: int = 50,
) -> DataFrame:
    """Near-dup candidates whose 32-bit SimHashes agree on at least one
    of ``bands`` equal-width bands (guarantees recall for Hamming ≤
    bands-1 by pigeonhole), verified with an exact Hamming threshold.

    Per-shingle bit votes come from the first 8 hex digits of
    md5(shingle) parsed as a 32-bit integer (Spark ``conv(_,16,10)``,
    DuckDB ``('0x'||substr)::BIGINT``) — one md5 + one parse per
    shingle, then cheap shiftright votes; reproducible in any engine
    with md5(), so the DuckDB oracle replays the full pipeline. (An
    earlier form compared each hex digit with substr — 32 string ops
    per shingle, ~25% slower.)
    """
    bits = 32
    width = bits // bands
    # Explode + partial-agg bit votes: each shingle is hashed ONCE and
    # the per-bit ±1 sums combine map-side; the shuffle carries one
    # fixed-width row per doc. (A projection-only votes fold over the
    # shingle array is interpreted HOF eval — too slow here.)
    exploded = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col))).alias("__s"),
    ).select(
        "doc",
        F.conv(F.substring(F.md5(F.col("__s").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        .alias("__s"),
    )
    h = F.col("__s")
    vote = [
        F.when(F.shiftright(h, i).bitwiseAND(1) == 1, 1).otherwise(-1)
        for i in range(bits)
    ]
    votes = exploded.groupBy("doc").agg(
        *[F.sum(vote[i]).alias(f"__v{i}") for i in range(bits)]
    )
    packed = F.lit(0).cast("long")
    for i in range(bits):
        packed = packed.bitwiseOR(
            F.when(
                F.col(f"__v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    sig = votes.select("doc", packed.alias("sim"))
    banded = sig.select(
        "doc",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sim"), b * width)
                    .bitwiseAND((1 << width) - 1)
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    # Bucket self-equi-join (see minhash_lsh_pairs for why not nested
    # array lambdas and why the cap is a window, not a groupBy branch).
    capped = _bucket_cap(banded, "band_key", max_bucket).select(
        "band", "band_key", "doc", "sim"
    )
    pairs = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming64(F.col("a.sim"), F.col("b.sim")).alias("hamming"),
        )
    )
    return pairs.filter(F.col("hamming") <= max_hamming).distinct()


# ---------------------------------------------------------------- jaccard --
def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for given candidate (doc_a, doc_b) pairs —
    the verification stage after LSH. Joins the raw TEXT to the pairs
    (two broadcast-able hash joins at candidate scale) and shingles only
    the matched rows; set math is native array_intersect/array_union.

    Candidates-only shingling (r16): the prior form joined per-doc
    shingle ARRAYS to the pairs, which computed the word_shingles
    projection over the ENTIRE corpus once per join leg — two full
    corpus passes to verify a pair set that touches a fraction of the
    docs (the inner join discards the rest unread). Shingling after the
    join costs work proportional to the PAIR list instead (a doc in m
    pairs shingles m times — pair lists are corpus-fraction-sized even
    at web-crawl dup rates, so candidates ≪ corpus at any scale).
    Shingle arrays are staged as real columns so intersect/union read
    attributes, not re-evaluated subtrees."""
    a = docs.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("__ta")
    )
    b = docs.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("__tb")
    )
    staged = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            word_shingles(F.col("__ta"), n).alias("sh_a"),
            word_shingles(F.col("__tb"), n).alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return staged.select(
        "doc_a",
        "doc_b",
        inter.alias("n_intersect"),
        union.alias("n_union"),
        (inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")).alias(
            "jaccard"
        ),
    )
