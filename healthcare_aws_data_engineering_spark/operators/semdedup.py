"""Semantic (embedding-space) corpus operators: SemDeDup-style cluster
dedup and k-NN graph construction.

Extensions beyond the reference (no counterpart in
``/root/reference/`` — its similarity surface is rule thresholds over
scalar labs): these are the embedding-side curation steps of an LLM
training-data pipeline (Abbas et al. 2023, "SemDeDup"; k-NN graphs feed
connected-components clustering and retrieval indexes).

Scale design (100 TB shape):

- **No all-pairs path.** ``semantic_dedup`` pairs vectors only WITHIN a
  coarse cluster (argmin distance to a bounded literal centroid set —
  the same broadcast-projection assignment as ``similarity.ivf_topk``);
  ``knn_graph`` pairs only within LSH signature buckets. Both cap the
  per-group membership deterministically, so no degenerate group can
  explode the pair fan-out.
- **Assignment is a projection.** Centroids / hyperplanes are literal
  arrays folded into the plan — zero shuffle, zero broadcast state; the
  only shuffles are the group-keyed pairings, the pair dedup and one
  final window.
- **Exact cross-engine math.** Vectors are staged once on the scale-6
  micro-unit integer grid (``similarity.quantize_vec``); distances and
  cosines are exact long sums (+ one IEEE sqrt/divide for cosine), so
  the whole operator replays bit-identically in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .staging import staged_persist
from .similarity import (
    dot_q_arrow,
    _centroid_cell,
    _centroid_cell_two_level,
    _coarse_centroids,
    _non_null,
    _resolve_index,
    band_keys_from_chunks,
    quantize_vec,
    resolve_assign,
    sig_chunks_q,
)


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]] | int | None = None,
    threshold: float = 0.9,
    max_cluster: int = 256,
    target_cluster: int = 200,
    assign: str = "auto",
) -> DataFrame:
    """SemDeDup: coarse-cluster the embedding space, then drop the
    higher-id member of every within-cluster pair whose cosine ≥
    ``threshold``.

    Returns one row per corpus vector: ``(vec_id, cluster, keep,
    kept_by)`` — ``keep=0`` rows are semantic duplicates and ``kept_by``
    is the smallest lower-id partner that shadows them (−1 when kept; no
    NULL cells, so no engine's null rendering can enter the value hash).

    ``centroids`` — the coarse quantizer, three forms:

    - ``None`` (production default): the centroid COUNT is derived from
      the corpus at index-build time, :func:`similarity.cells_for`
      (expected cluster population ≈ ``target_cluster``), and the
      centroids themselves are a deterministic hash-stratified sample
      (:func:`similarity.sample_centroids`). This is the cell-count twin
      of the derived LSH band width: a count pinned for the gate corpus
      packs every cell past ``max_cluster`` as the corpus grows and the
      cap then silently drops members from pair generation.
    - an ``int``: explicit count, sampled centroids.
    - an explicit ``list[list[float]]`` matrix: engine-pinned literals —
      what the driver query uses, because its DuckDB oracle bakes the
      centroid values into SQL — or :func:`similarity.kmeans_centroids`
      output, which co-locates similar pairs better when the corpus is
      actually clustered.

    ``max_cluster`` caps self-join membership per cluster: members are
    ranked by ``(md5(id), id)`` — an unbiased deterministic sample — and
    only the first ``max_cluster`` participate in pair generation, so a
    degenerate cluster costs O(cap²), never O(n²). ``target_cluster``
    deliberately sits BELOW ``max_cluster`` (200 < 256) so that with
    derived cells the cap is a skew backstop, not a systematic
    truncation — the r5 recall probe measured the opposite arrangement
    (target 1000, cap 256) silently excluding ~75% of every cell's
    members from pair generation.

    ``assign`` (r14 hatch, r15 auto): ``"auto"`` (default) resolves via
    :func:`similarity.resolve_assign` — flat exact argmin at or below
    ``similarity.TWO_LEVEL_AUTO_CELLS`` cells, two-level coarse →
    children argmin above it, where the flat argmin's O(n·cells) build
    is the measured super-linear cost (SCALING.md r14). The driver
    query pins explicit literal centroids far below the bound, so gated
    behavior is the flat path. Two-level is approximate assignment: a
    vector can land one cell over, which only LOCALLY changes which
    pairs are generated (recall trade, pinned in tests) — the
    keep/kept_by semantics per cluster are unchanged.

    Scale note (100 TB): the literal-centroid projection assignment holds
    to ~10⁴ cells (plan-size bound). Past that, ``cells_for`` yields
    counts where centroids belong in a TABLE (broadcast join on argmin
    distance) rather than plan literals — same math, different transport;
    the bounded-literal form is what the probe and oracle exercise.
    """
    corpus = _non_null(corpus, "embedding")
    centroids = _coarse_centroids(
        corpus, centroids, target_cluster
    )
    assign = resolve_assign(assign, len(centroids))
    staged = corpus.select(
        # aliased: the persisted assignment keeps attribute ids of its own
        F.col("vec_id").alias("vec_id"),
        quantize_vec(F.col("embedding")).alias("__q"),
    )
    # Persisted: the assignment is the INDEX-BUILD step (SemDeDup runs it
    # once, then pairs/report/repair all read it). Three plan subtrees
    # reference it — without persistence each re-derives the quantize +
    # centroid-distance HOF tree (3× compile + compute). At cluster
    # scale this materializes to storage (write the assignment table);
    # in-memory persist is the local[*] equivalent.
    assigned = staged.select(
        "vec_id",
        "__q",
        F.aggregate(
            F.transform(F.col("__q"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        ).alias("__n2"),
        (
            _centroid_cell_two_level
            if assign == "two_level"
            else _centroid_cell
        )(F.col("__q"), centroids, exact=True).alias("cluster"),
    )
    assigned = staged_persist(assigned, "semdedup.assigned")
    rn = F.row_number().over(
        W.partitionBy("cluster").orderBy(
            F.md5(F.col("vec_id").cast("string").cast("binary")),
            F.col("vec_id"),
        )
    )
    members = assigned.withColumn("__rn", rn).filter(
        F.col("__rn") <= max_cluster
    )
    # One exact long dot per pair; the norm sums ride in from the staged
    # assignment (computed once per vector, not twice per pair; identical
    # doubles for the oracle).
    # vectorized Arrow integer dot (r15) — bit-identical to the HOF fold
    dot = dot_q_arrow()(F.col("a.__q"), F.col("b.__q"))
    sim = dot.cast("double") / (
        F.sqrt(F.col("a.__n2").cast("double"))
        * F.sqrt(F.col("b.__n2").cast("double"))
    )
    pairs = (
        members.alias("a")
        .join(
            members.alias("b"),
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
    )
    removed = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("kept_by")
    )
    return (
        assigned.join(removed, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("kept_by").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("keep"),
            F.coalesce(F.col("kept_by"), F.lit(-1).cast("long")).alias(
                "kept_by"
            ),
        )
    )


def knn_graph(
    corpus: DataFrame,
    k: int = 3,
    plane_matrix: list[list[int]] | None = None,
    bands: int | None = None,
    max_bucket: int = 200,
    target_bucket: int | None = None,
) -> DataFrame:
    """Approximate k-NN graph: for every corpus vector, its top-``k``
    cosine neighbors among vectors sharing ≥1 LSH signature band.

    Unlike :func:`similarity.lsh_topk` (bounded query set vs corpus)
    this is corpus × corpus — candidates MUST therefore come from within
    a bucket, never from a cross join. Both directions of each bucket
    pair are kept (a k-NN graph is asymmetric).

    Each ``(band, band_key)`` bucket of 2..``max_bucket`` members is
    scored once, in one grouped Arrow pass (:func:`_bucket_pairs`): the
    bucket's exact int64 Gram matrix gives every member pair's dot and
    both squared norms, so a vector crosses into Python once per band
    it belongs to, never once per candidate pair. The a<b pairs are
    deduplicated across bands, carrying ids and the cosine only, then
    mirrored. Building the graph from a pinned ``plane_matrix`` runs no
    Spark job.

    Output: ``(vec_id, neighbor_id, cosine, rank)`` with rank 1..k per
    vector (vectors sharing no bucket yield no rows — standard for an
    approximate graph; raise ``bands`` for recall).

    ``plane_matrix=None`` (the default for production callers) sizes the
    band width to the corpus at index-build time via
    :func:`similarity.width_for` — expected bucket population stays
    ≈ ``target_bucket`` under corpus growth, so recall does not collapse
    when a gate-scale constant meets a 100× corpus (the r3 SCALING probe
    measured exactly that failure for pinned width 4). When ``bands`` is
    also None, the band count scales with that width via
    :func:`similarity.bands_for` (design cosine 0.9, target recall 0.8) —
    holding the per-pair recall floor the width growth would otherwise
    erode (``tools/recall_probe.py`` measures both effects). Driver
    queries pin the matrix + bands because their DuckDB oracles bake
    them into SQL.
    """
    corpus = _non_null(corpus, "embedding")
    plane_matrix, width, bands = _resolve_index(
        corpus, "embedding", plane_matrix, bands,
        target_bucket or max_bucket, 0.9, 0.8,
    )
    staged = corpus.select(
        F.col("vec_id"),
        quantize_vec(F.col("embedding")).alias("__q"),
    ).select(
        "vec_id",
        "__q",
        # a real column: band_keys_from_chunks reads it `bands` times
        sig_chunks_q(F.col("__q"), plane_matrix, width).alias("__sigc"),
    )
    # Each vector travels once per band it is banded into, never once
    # per candidate pair: the bucket is the unit of work.
    banded = staged.select(
        "vec_id",
        "__q",
        F.posexplode(
            band_keys_from_chunks(F.col("__sigc"), width, bands)
        ).alias("band", "band_key"),
    )
    from .dedup import _bucket_cap

    # The 2..max_bucket cap stays in the JVM: the window's partitioning
    # and sort on (band, band_key) are the ones the grouped pass needs,
    # so it adds no exchange, and an oversized bucket never reaches a
    # Python worker.
    capped = _bucket_cap(banded, "band_key", max_bucket).select(
        "band", "band_key", "vec_id", "__q"
    )
    scored = (
        capped.groupBy("band", "band_key")
        .applyInArrow(
            _bucket_pairs, schema="vec_id long, neighbor_id long, cosine double"
        )
        # a pair sharing several bands is scored in each, to the same
        # bits, so its distinct rows are one row
        .distinct()
    )
    # Bucket co-membership is symmetric, so the directed candidate set is
    # the a<b pairs plus their mirror, each cosine computed once.
    sym = scored.select(
        F.explode(
            F.array(
                F.struct("vec_id", "neighbor_id", "cosine"),
                F.struct(
                    F.col("neighbor_id").alias("vec_id"),
                    F.col("vec_id").alias("neighbor_id"),
                    "cosine",
                ),
            )
        ).alias("__e")
    ).select("__e.*")
    w = W.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _bucket_pairs(bucket):
    """One LSH bucket, an Arrow table of ``(band, band_key, vec_id,
    __q)``, → its scored pairs ``(vec_id, neighbor_id, cosine)`` with
    ``vec_id < neighbor_id``.

    The bucket's Gram matrix ``G = X·Xᵀ`` is one int64 matmul, and it is
    exact while every member's squared norm ``Σ q²`` is at most
    ``2⁶³ − 1``: by Cauchy–Schwarz no entry of ``G``, nor any partial sum
    on the way to one, is larger in magnitude, so nothing overflows. On
    the micro-unit grid that bound is a vector norm of about 3,037. The
    cosine is then ``double(G[i,j]) /
    (sqrt(double(G[i,i])) · sqrt(double(G[j,j])))``, the operation order
    of the oracle's SQL, so every engine gives the same bits; a zero
    vector's cosine is NULL, as DuckDB's (1.0) and Spark's DOUBLE
    division by zero give. A NULL ``vec_id`` counted toward the bucket
    cap in the JVM and is never paired."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = pa.schema(
        [("vec_id", pa.int64()), ("neighbor_id", pa.int64()),
         ("cosine", pa.float64())]
    )
    bucket = bucket.filter(pc.is_valid(bucket["vec_id"])).sort_by("vec_id")
    n = bucket.num_rows
    if n < 2:
        return schema.empty_table()
    ids = bucket["vec_id"].to_numpy().astype(np.int64)
    q = bucket["__q"].combine_chunks()
    dims = pc.list_value_length(q).to_numpy()
    if (dims != dims[0]).any():
        raise ValueError("knn_graph: embeddings of unequal length in a bucket")
    X = q.flatten().to_numpy().reshape(n, int(dims[0]))
    G = X @ X.T
    i, j = np.triu_indices(n, 1)
    keep = ids[i] < ids[j]
    i, j = i[keep], j[keep]
    root = np.sqrt(np.diag(G).astype(np.float64))
    den = root[i] * root[j]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = G[i, j].astype(np.float64) / den
    return pa.table(
        {
            "vec_id": ids[i],
            "neighbor_id": ids[j],
            "cosine": pa.array(cos, mask=den == 0),
        },
        schema=schema,
    )
