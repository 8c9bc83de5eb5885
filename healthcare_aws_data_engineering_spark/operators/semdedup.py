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
  explode the self-join.
- **Assignment is a projection.** Centroids / hyperplanes are literal
  arrays folded into the plan — zero shuffle, zero broadcast state; the
  only shuffles are the group-keyed self-joins and one final window.
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
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    corpus = _non_null(corpus, vec_col)
    centroids = _coarse_centroids(
        corpus, centroids, target_cluster, id_col, vec_col
    )
    assign = resolve_assign(assign, len(centroids))
    staged = corpus.select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(F.col(vec_col)).alias("__q"),
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
    # assignment (same hoist as knn_graph — 3× less interpreted HOF work
    # on the pair fan-out, identical doubles for the oracle).
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
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_matrix: list[list[int]] | None = None,
    bands: int | None = None,
    max_bucket: int = 200,
    target_bucket: int | None = None,
    design_cos: float = 0.9,
    target_recall: float = 0.8,
) -> DataFrame:
    """Approximate k-NN graph: for every corpus vector, its top-``k``
    cosine neighbors among vectors sharing ≥1 LSH signature band.

    Unlike :func:`similarity.lsh_topk` (bounded query set vs corpus)
    this is corpus × corpus — the candidate generation MUST therefore be
    the bucket equi-join, never a cross join. Both directions of each
    bucket pair are kept (a k-NN graph is asymmetric).

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
    :func:`similarity.bands_for` (``design_cos``/``target_recall``) —
    holding the per-pair recall floor the width growth would otherwise
    erode (``tools/recall_probe.py`` measures both effects). Driver
    queries pin the matrix + bands because their DuckDB oracles bake
    them into SQL.
    """
    corpus = _non_null(corpus, vec_col)
    plane_matrix, width, bands = _resolve_index(
        corpus, vec_col, plane_matrix, bands,
        target_bucket or max_bucket, design_cos, target_recall,
    )
    # Persisted for the same index-build reason as semantic_dedup: the
    # staging (quantize + signature HOFs) is referenced by the banding
    # leg AND twice by the vector join-back below. The squared norm is
    # computed HERE, once per vector — the pair stage then does ONE dot
    # per candidate instead of dot + two norms (3× the HOF work on the
    # fan-out side; r3 measurement: 7.3s → 2.6s at sf0.1).
    staged = (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            quantize_vec(F.col(vec_col)).alias("__q"),
        )
        .select(
            "vec_id",
            "__q",
            F.aggregate(
                F.transform(F.col("__q"), lambda x: x * x),
                F.lit(0).cast("long"),
                lambda s, x: s + x,
            ).alias("__n2"),
            # staged: band_keys_from_chunks reads it `bands` times
            sig_chunks_q(F.col("__q"), plane_matrix, width).alias("__sigc"),
        )
    )
    staged = staged_persist(staged, "knn_graph.staged")
    # Candidate generation is ID-ONLY: corpus × corpus buckets fan out to
    # ~|bucket|² pair rows per bucket, so the banding / capping / DISTINCT
    # shuffles must carry (long, long), never the vectors — the near_dup
    # operator can afford to carry __q through its bucket join because its
    # post-cap pair count is tiny; a k-NN graph's is not (r3 measurement:
    # carrying both arrays through the pair dedup was ~7× slower).
    banded = staged.select(
        "vec_id",
        F.posexplode(
            band_keys_from_chunks(F.col("__sigc"), width, bands)
        ).alias("band", "band_key"),
    )
    from .dedup import _bucket_cap

    capped = _bucket_cap(banded, "band_key", max_bucket).select(
        "band", "band_key", "vec_id"
    )
    # Bucket co-membership is symmetric, so the directed candidate set is
    # exactly the symmetric closure of the a<b pairs — generate UNordered
    # pairs, score each cosine ONCE, and mirror the scored rows (r16;
    # was: != join scoring every pair twice — the probe measured 886k
    # directed pair rows at sf0.1, i.e. 2× the distinct shuffle and 2×
    # the 64-dim dot folds for identical output).
    cands = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
        )
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    qa = staged.select(
        F.col("vec_id").alias("vec_id"),
        F.col("__q").alias("qa"),
        F.col("__n2").alias("na"),
    )
    qb = staged.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("__q").alias("qb"),
        F.col("__n2").alias("nb"),
    )
    # dot is exact long addition; the sqrt/divide sees the identical
    # integer operands in any engine (same recipe as
    # similarity.embedding_near_dup's integer cosine, with the norm sums
    # hoisted out of the pair fan-out).
    # NOTE (r15): the Arrow dot (see semantic_dedup) was MEASURED SLOWER
    # here — the k-NN candidate fan-out is large, and shipping both
    # 64-long arrays per pair across the Arrow boundary cost more than
    # the interpreted fold it replaced (17s cold vs ~5s). The in-JVM
    # exact long fold stays. (r16 re-measured the flat element_at unroll
    # too: 64-term codegen trees fall back to interpreted eval and run
    # 4× slower than the fold — tools note in OPTIMIZATION_r16.md.)
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    sim = dot.cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    # Materialized once (slim pair-bounded rows): the mirror union below
    # references the scored table twice, and without staging each leg
    # would recompute every dot.
    scored = (
        cands.join(qa, "vec_id")
        .join(qb, "neighbor_id")
        .select("vec_id", "neighbor_id", sim.alias("cosine"))
        .localCheckpoint(eager=True)
    )
    sym = scored.unionByName(
        scored.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
        )
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
