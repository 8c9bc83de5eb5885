"""Similarity search over an embedding column (array<float>).

Extensions beyond the reference (SURVEY §7.2 step 7):

- :func:`cosine_topk` — brute-force exact top-k (the correctness baseline).
- :func:`lsh_topk`   — random-hyperplane LSH bucketed approximate top-k
  (the scale path: candidates restricted to matching signature buckets).
- :func:`embedding_near_dup` — near-duplicate pairs by cosine threshold,
  LSH-bucketed.

Scale design:
- dot products / norms are native array expressions (zip_with + aggregate)
  inside whole-stage codegen — no Python, no explode;
- brute force is queries × corpus: right for reranking or tiny query sets;
  the LSH variant turns the cross join into an equi-join on bucket ids
  (shuffle carries (bucket, id, vec));
- hyperplanes are generated DETERMINISTICALLY from xxhash64(plane, dim) so
  executors need no broadcast state and results are reproducible;
- exact-sum mode (``exact=True``) accumulates the dot product in DECIMAL —
  order-independent, used by the DuckDB oracle harness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

# Precision ≤ 18 so Spark's Decimal stays in its compact-long fast path
# (precision > 18 → BigDecimal allocation per HOF term, ~4× slower folds).
# Range check: |e_i| ≤ 0.58 on this corpus → |dot| ≤ 64·0.34 ≈ 22 and
# squared-distance sums ≤ ~90, far inside decimal(18,12)'s ±10^6 /
# decimal(18,6)'s ±10^12. The sums stay EXACT (decimal addition), so the
# DuckDB twins may accumulate at any ≥ precision — values are identical.
_DEC = "decimal(18,12)"


def _pairwise_sum(a: Column, b: Column, exact: bool) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    if exact:
        acc = F.aggregate(
            prods,
            F.lit(0).cast(_DEC),
            lambda s, x: (s + x.cast(_DEC)).cast(_DEC),
        )
        return acc.cast("double")
    return F.aggregate(prods, F.lit(0.0), lambda s, x: s + x)


def dot(a: Column, b: Column, exact: bool = False) -> Column:
    return _pairwise_sum(a, b, exact)


def norm(a: Column, exact: bool = False) -> Column:
    return F.sqrt(_pairwise_sum(a, a, exact))


def cosine(a: Column, b: Column, exact: bool = False) -> Column:
    return dot(a, b, exact) / (norm(a, exact) * norm(b, exact))


def dot_q_arrow():
    """Vectorized exact integer dot for PRE-QUANTIZED long vectors — one
    Arrow batch per partition instead of an interpreted per-pair HOF
    fold (r15). int64 multiplication/addition is exact and
    order-independent, so the value is bit-identical to the
    zip_with/aggregate form it replaces on every candidate-pair scoring
    leg (semantic_dedup)."""

    @F.pandas_udf("long")
    def dotf(a, b):
        return _dot_rows(a, b)

    return dotf


# Each Arrow UDF body here calls a module-level helper (this one,
# _sign_chunks, _nearest_cell, _pq_codes): cloudpickle ships that by
# reference, so unpickling the UDF in a Python worker imports the
# package and its zip-directory shim.
def _dot_rows(a, b):
    import numpy as np
    import pandas as pd

    if len(a) == 0:
        return pd.Series([], dtype="int64")
    A = np.vstack(a.to_numpy())
    B = np.vstack(b.to_numpy())
    return pd.Series((A * B).sum(axis=1))


def _non_null(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop rows with NULL vectors before staging — applied at the entry
    of every vector operator. A NULL embedding otherwise signs to the
    all-zero LSH signature (NULL plane dot → CASE else-0 bit), lands in
    a REAL bucket, and emits candidate rows with NULL cosine; at corpus
    scale (failed encoders are routine) that silently pollutes both
    buckets and results. NULL-vector rows are simply not index members."""
    return df.filter(F.col(vec_col).isNotNull())


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    exact: bool = False,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (excluding self).

    queries is expected to be small → broadcast; corpus streams through one
    pass computing Q cosines per row; per-query top-k via window over the
    (rank-filtered) candidates. Deterministic tiebreak on neighbor id."""
    corpus = _non_null(corpus, "embedding")
    queries = _non_null(queries, "embedding")
    # per-vector squared norms staged BEFORE the pair fan-out (r15):
    # cosine(q, c) re-folded both self-dots per PAIR — for the exact
    # decimal path that tripled the interpreted fold work; hoisted, each
    # vector's norm is computed once and the pair pays only the dot.
    # Bit-identical: the fold expression per vector is unchanged.
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        _pairwise_sum(F.col("embedding"), F.col("embedding"), exact).alias("__n2q"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        _pairwise_sum(F.col("embedding"), F.col("embedding"), exact).alias("__n2c"),
    )
    scored = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    sim = _pairwise_sum(F.col("q_vec"), F.col("c_vec"), exact) / (
        F.sqrt("__n2q") * F.sqrt("__n2c")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 8) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (query) vector, the ``k`` most cosine-similar corpus vectors whose
    ``label`` DIFFERS from the anchor's — the near-miss negatives
    that make embedding models learn (in-batch negatives are mostly
    easy; mining the hardest cross-label neighbors is the standard
    curriculum, e.g. dense-retrieval trainers like DPR/ANCE).

    Same execution shape as :func:`cosine_topk` (oracle-checked): the
    bounded anchor batch broadcasts (with its labels), the corpus
    streams through one pass, the label-mismatch predicate drops
    same-class candidates (and self) BEFORE the per-anchor top-k window,
    so the k survivors are guaranteed genuine negatives rather than a
    post-filtered shorter list. Dot products accumulate on the exact
    decimal grid, so the ranking is engine-independent.
    """
    corpus = _non_null(corpus, "embedding")
    queries = _non_null(queries, "embedding")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("anchor_label"),
        _pairwise_sum(F.col("embedding"), F.col("embedding"), True).alias("__n2q"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("neg_label"),
        _pairwise_sum(F.col("embedding"), F.col("embedding"), True).alias("__n2c"),
    )
    scored = c.crossJoin(F.broadcast(q)).filter(
        F.col("neg_label") != F.col("anchor_label")
    )
    # hoisted-norm cosine (see cosine_topk) — bit-identical, 1/3 the folds
    sim = _pairwise_sum(F.col("q_vec"), F.col("c_vec"), True) / (
        F.sqrt("__n2q") * F.sqrt("__n2c")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            "query_id", "anchor_label", "neighbor_id", "neg_label", sim.alias("sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rademacher_planes(planes: int, dim: int) -> list[list[int]]:
    """±1 hyperplane components derived from md5 (Python-side, so the SAME
    constants can be embedded as literals in both the Spark plan and a SQL
    oracle string). Rademacher (±1) components are a standard sign-random-
    projection family; integer components also make each dot-product term
    exactly ±e_i, so the decimal-folded sign is engine-independent."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"hyperplane:{p}:{i}".encode()).hexdigest()[0] >= "8"
            else -1
            for i in range(dim)
        ]
        for p in range(planes)
    ]


_DEC6 = "decimal(18,6)"  # compact-long decimal; see _DEC note
_MICRO = 1_000_000


def quantize_vec(vec: Column) -> Column:
    """array<long> of scale-6 micro-units: ``CAST(x AS DECIMAL(18,6)) · 1e6``.

    ONE decimal-grid cast per element (the proven cross-engine rounding
    grid), after which all signature / distance arithmetic is EXACT
    integer math — order-independent in any engine and ~an order of
    magnitude cheaper than per-term decimal folds in interpreted HOF eval.
    Callers must stage the result as a real column (``.alias("__q")``)
    before referencing it from HOF lambdas, or it re-evaluates per plane."""
    return F.transform(
        vec, lambda x: (x.cast("double").cast(_DEC6) * _MICRO).cast("long")
    )


def _lit_nested_long(rows: list[list[int]]) -> Column:
    """Nested array<array<long>> literal via ONE parsed SQL string.

    ``F.lit(list)`` in classic PySpark expands to per-element ``lit``
    calls — n×dim py4j round-trips (~1.8 s for 16×64, measured); a single
    ``F.expr`` parse costs milliseconds and ConstantFolding collapses the
    CreateArray tree into one Literal during optimization anyway."""
    body = ",".join(
        "array(" + ",".join(f"{int(c)}L" for c in row) + ")" for row in rows
    )
    return F.expr(f"array({body})")


def _lit_nested_double(rows: list[list[float]]) -> Column:
    """array<array<double>> literal, one parse (see _lit_nested_long);
    values as quoted shortest-repr strings cast to DOUBLE — parses to the
    identical double in any engine."""
    body = ",".join(
        "array("
        + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in row)
        + ")"
        for row in rows
    )
    return F.expr(f"array({body})")


def quantize_py(x: float) -> int:
    """Python twin of :func:`quantize_vec` for literal centroids: replicates
    cast-double-to-DECIMAL(18,6) (shortest-repr then HALF_UP at scale 6,
    matching Java BigDecimal.valueOf semantics)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(float(x))).scaleb(6).to_integral_value(ROUND_HALF_UP)
    )


def width_for(n_rows: int, target_bucket: int = 200) -> int:
    """Signature bits per LSH band so the EXPECTED bucket population under
    a uniform key distribution is ≈ ``target_bucket``:
    ``ceil(log2(n / target))``, floored at 1.

    This is the scale knob the r3 probe showed must NOT be a constant: a
    width pinned for the gate corpus (e.g. 4 bits → 16 buckets/band)
    overflows every bucket as the corpus grows, the deterministic bucket
    cap then DROPS the overflow, and recall silently collapses to zero
    while cost stays flat (SCALING.md: knn_graph width-4 → 0 rows at
    M≥4). Deriving the width at index-build time keeps expected bucket
    size — and therefore per-bucket pair cost — constant under corpus
    growth (n=60k→9 bits, n=1e10→26 bits), which prevents that
    bucket-cap recall collapse. It does NOT hold per-pair recall
    constant: a fixed-similarity pair collides in a band with
    probability p^width, so recall still declines slowly as width grows
    with n — scale ``bands`` up alongside width when a recall floor must
    hold (measured recall@k per width in SCALING.md)."""
    import math

    if n_rows <= target_bucket:
        return 1
    return max(1, math.ceil(math.log2(n_rows / target_bucket)))


_MAX_BANDS = 512


def bands_for(
    width: int,
    design_cos: float = 0.9,
    target_recall: float = 0.8,
    hamming1: bool = False,
) -> int:
    """Band count so hyperplane-LSH recall of pairs at similarity
    ``design_cos`` is ≥ ``target_recall`` at the given band width:
    the smallest L with ``1 − (1 − p^width)^L ≥ target_recall``,
    ``p = 1 − arccos(design_cos)/π`` (per-plane agreement probability).

    The second half of the LSH scale contract: :func:`width_for` sizes
    the band WIDTH from corpus size (bucket population ⇒ per-bucket pair
    cost), but per-band collision probability for a fixed-similarity
    pair is ``p^width`` — decaying as width grows with n — so holding a
    recall floor requires the band COUNT to grow alongside. For real
    near-dup work (design_cos 0.9 ⇒ p ≈ 0.90) the growth is mild:
    width 9 (n=60k) → 3 bands, width 26 (n=1e10) → 26 bands. For weakly
    similar targets it is steep (p^width collapses) — which is the
    honest cost of using LSH far below its design similarity, measured
    in ``tools/recall_probe.py`` / SCALING.md.

    ``hamming1=True`` models a Hamming-1 multi-probe reader
    (:func:`lsh_topk` ``multiprobe``): per-band hit probability becomes
    ``p^w + w·p^{w−1}(1−p)`` (exact key OR any single flipped bit), so
    far fewer bands reach the same recall — probes replace index.

    ``max_bands`` makes degenerate design points fail LOUDLY: a weak
    ``design_cos`` at a corpus-derived width (e.g. 0.5 at width 26 ⇒
    per-band ≈ 1.5e-8) would otherwise return tens of millions of
    bands, and :func:`derive_index` would then materialize a
    bands×width × dim literal plane matrix on the driver — an OOM/plan
    blowup with no warning. Realistic near-dup designs stay well under
    100 bands (0.9 at width 26 → 26); past ``max_bands`` the honest
    answers are a Hamming-1 multi-probe reader, a higher design_cos, or
    an exact method (:func:`cosine_topk` / PPJoin), so raise instead of
    silently clamping recall."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, design_cos))) / math.pi
    per_band = p ** width
    if hamming1:
        per_band += width * p ** (width - 1) * (1.0 - p)
    if per_band >= 1.0 or target_recall <= 0.0:
        return 1
    if per_band <= 0.0:
        raise ValueError("degenerate design_cos: per-band probability 0")
    bands = max(
        1,
        math.ceil(
            math.log(1.0 - target_recall) / math.log(1.0 - per_band)
        ),
    )
    if bands > _MAX_BANDS:
        raise ValueError(
            f"bands_for(width={width}, design_cos={design_cos}, "
            f"target_recall={target_recall}) needs {bands} bands "
            f"(per-band collision {per_band:.3g}) — over the "
            f"{_MAX_BANDS}-band guard. LSH is being used far below its "
            "design similarity: raise design_cos, use a Hamming-1 "
            "multi-probe reader (hamming1=True), or switch to an exact "
            "method (cosine_topk / PPJoin)."
        )
    return bands


def derive_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    target_bucket: int = 200,
    design_cos: float = 0.9,
    target_recall: float = 0.8,
    hamming1: bool = False,
) -> tuple[list[list[int]], int, int]:
    """Fully-derived LSH index geometry ``(plane_matrix, width, bands)``:
    width from corpus size (:func:`width_for` — bounds per-bucket pair
    cost), bands from the design similarity (:func:`bands_for` — holds
    the recall floor as that width grows). Same index-build-time cost
    shape as :func:`derive_planes` (one count, one first-row dim probe);
    this is what ``bands=None`` resolves to in :func:`lsh_topk`,
    ``knn_graph`` and :func:`embedding_near_dup`."""
    corpus = _non_null(corpus, vec_col)
    n_rows = corpus.count()
    head = corpus.select(vec_col).first()
    dim = len(head[0]) if head and head[0] is not None else 1
    width = width_for(n_rows, target_bucket)
    bands = bands_for(width, design_cos, target_recall, hamming1=hamming1)
    return rademacher_planes(bands * width, dim), width, bands


def _resolve_index(
    corpus: DataFrame,
    vec_col: str,
    plane_matrix: list[list[int]] | None,
    bands: int | None,
    target_bucket: int,
    design_cos: float,
    target_recall: float,
    hamming1: bool = False,
) -> tuple[list[list[int]], int, int]:
    """Shared ``(plane_matrix, width, bands)`` resolution for the banded
    operators: explicit matrix (needs explicit bands — oracle-pinned
    path) → as given; explicit bands only → width derived from corpus
    size; neither → fully derived (:func:`derive_index`)."""
    if plane_matrix is not None:
        if bands is None:
            raise ValueError(
                "an explicit plane_matrix needs an explicit bands count"
            )
        return plane_matrix, len(plane_matrix) // bands, bands
    if bands is None:
        return derive_index(
            corpus,
            vec_col=vec_col,
            target_bucket=target_bucket,
            design_cos=design_cos,
            target_recall=target_recall,
            hamming1=hamming1,
        )
    matrix = derive_planes(
        corpus, vec_col=vec_col, bands=bands, target_bucket=target_bucket
    )
    return matrix, len(matrix) // bands, bands


def cells_for(n_rows: int, target_cluster: int = 200) -> int:
    """Coarse-cluster count for SemDeDup-style cell dedup so the EXPECTED
    cluster population is ≈ ``target_cluster``: ``ceil(n / target)``,
    floored at 1.

    The cell-count twin of :func:`width_for`: a centroid count pinned for
    the gate corpus packs every cell past ``max_cluster`` as the corpus
    grows, and the deterministic membership cap then silently excludes
    the overflow from pair generation — same failure mode, same fix
    (derive the knob from the corpus at index-build time). The default
    target sits below ``semantic_dedup``'s pair cap (200 < 256) so the
    cap stays a skew backstop. n=60k → 300 cells; n=1e10 → 50M cells
    (centroid ROWS at that count, not plan literals — see
    :func:`semdedup.semantic_dedup`'s scale note)."""
    import math

    return max(1, math.ceil(n_rows / target_cluster))


def derive_planes(
    corpus: DataFrame,
    vec_col: str = "embedding",
    bands: int = 4,
    target_bucket: int = 200,
) -> list[list[int]]:
    """Size an LSH plane matrix to the corpus: ``bands ×``
    :func:`width_for` Rademacher planes of the corpus' dimensionality.

    Runs at INDEX-BUILD time, like any ANN index's training step: one
    ``count()`` (metadata-only on parquet) and one first-row dim probe —
    both O(1) driver actions, never in a per-query path. Callers that
    need engine-pinned constants (driver oracles bake the matrix into
    SQL) pass an explicit ``plane_matrix`` instead and skip this."""
    corpus = _non_null(corpus, vec_col)
    n_rows = corpus.count()
    head = corpus.select(vec_col).first()
    dim = len(head[0]) if head and head[0] is not None else 1
    return rademacher_planes(
        bands * width_for(n_rows, target_bucket), dim
    )


def _plane_signs(qvec: Column, plane_matrix: list[list[int]]) -> Column:
    """array<int> of 0/1 sign bits of a pre-quantized vector against
    LITERAL ±1 planes — the shared core of :func:`hyperplane_signature_q`
    and :func:`sig_chunks_q`. With Rademacher components the dot product
    is Σ ±q_i — exact long addition, bit-for-bit reproducible in DuckDB
    (double addition chains diverge between engines even in identical
    order; see the decimal-grid note on :func:`quantize_vec`).

    One nested transform over the (planes × dim) literal array keeps the
    zip/aggregate machinery ONCE in the expression tree (inlining it per
    plane 16×'d the tree — same lesson as _cell_dists)."""
    planes_arr = _lit_nested_long([[int(c) for c in row] for row in plane_matrix])
    return F.transform(
        planes_arr,
        lambda row: F.when(
            F.aggregate(
                F.zip_with(qvec, row, lambda q, c: q * c),
                F.lit(0).cast("long"),
                lambda s, x: s + x,
            )
            > 0,
            1,
        ).otherwise(0),
    )


def _bands_per_chunk(width: int) -> int:
    return max(1, 63 // width)


def sig_chunks_q_expr(
    qvec: Column, plane_matrix: list[list[int]], width: int
) -> Column:
    """Pure-expression form of :func:`sig_chunks_q` (HOF zip/aggregate
    folds). Kept as the zero-dependency twin and the python-model
    reference; the default entry point is the Arrow form below, which
    computes the identical values ~5× faster (r15 measurement: 2.2 s →
    0.45 s over the 2 k-vector corpus — interpreted per-element lambda
    evaluation vs one vectorized integer matmul per batch)."""
    chunk_planes = _bands_per_chunk(width) * width
    chunks = [
        plane_matrix[i : i + chunk_planes]
        for i in range(0, len(plane_matrix), chunk_planes)
    ]
    packed = []
    for ch in chunks:
        masks = F.expr(
            "array(" + ",".join(f"{1 << p}L" for p in range(len(ch))) + ")"
        )
        packed.append(
            F.aggregate(
                F.zip_with(
                    _plane_signs(qvec, ch),
                    masks,
                    lambda b, m: F.when(b == 1, m).otherwise(
                        F.lit(0).cast("long")
                    ),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a.bitwiseOR(x),
            )
        )
    return F.array(*packed)


def sig_chunks_q(
    qvec: Column, plane_matrix: list[list[int]], width: int
) -> Column:
    """array<long> of band-aligned packed sign signatures: chunk ``j``
    packs the sign bits of planes ``[j·C, (j+1)·C)`` where ``C =
    (63 // width) · width`` — i.e. as many whole bands as fit in 63 bits.
    Stage the result as a real column before
    :func:`band_keys_from_chunks` reads it ``bands`` times.

    Computed as ONE vectorized Arrow stage (r15, guide §4.2): the
    pre-quantized long vectors arrive as an Arrow batch, the plane dots
    are an int64 matmul (EXACT — integer addition is associative, so
    any summation order gives the bit-identical sign), and the chunk
    packing is a bit-weight matmul. Pinned output-identical to
    :func:`sig_chunks_q_expr` in tests; the DuckDB oracles replay the
    same integer math in SQL, so the whole pipeline stays
    cross-checkable."""
    P_rows = [[int(c) for c in row] for row in plane_matrix]
    n_planes = len(P_rows)
    chunk_planes = _bands_per_chunk(width) * width
    bounds = [
        (i, min(i + chunk_planes, n_planes))
        for i in range(0, n_planes, chunk_planes)
    ]

    # no type hints: string annotations from `from __future__ import
    # annotations` defeat pyspark's hint resolution; the unhinted form
    # maps to a scalar pandas UDF (same pattern as ml/inference.py)
    @F.pandas_udf("array<long>")
    def signs(qv):
        return _sign_chunks(qv, P_rows, bounds)

    return signs(qvec)


def _sign_chunks(qv, P_rows, bounds):
    import numpy as np
    import pandas as pd

    if len(qv) == 0:
        return pd.Series([], dtype=object)
    P = np.asarray(P_rows, dtype=np.int64)
    X = np.vstack(qv.to_numpy())  # (n, dim) int64
    bits = (X @ P.T) > 0  # (n, planes) — exact integer dots
    outs = []
    for lo, hi in bounds:
        w = 1 << np.arange(hi - lo, dtype=np.int64)
        outs.append(bits[:, lo:hi] @ w)
    return pd.Series(list(np.stack(outs, axis=1)))


def band_keys_from_chunks(chunks: Column, width: int, bands: int) -> Column:
    """array<long> of per-band LSH keys from a STAGED
    :func:`sig_chunks_q` column: band ``b`` is bits
    ``[(b mod C)·width, (b mod C + 1)·width)`` of chunk ``b div C`` —
    pure shift/AND extraction (codegen-cheap, safe to reference the
    chunk column ``bands`` times). Key values are identical to slicing
    the packed 64-bit signature of :func:`hyperplane_signature_q`
    whenever all planes fit one chunk."""
    bpc = _bands_per_chunk(width)
    return F.array(
        *[
            F.shiftrightunsigned(
                F.element_at(chunks, b // bpc + 1), (b % bpc) * width
            ).bitwiseAND((1 << width) - 1)
            for b in range(bands)
        ]
    )


def hyperplane_signature_q(qvec: Column, plane_matrix: list[list[int]]) -> Column:
    """Packed 64-bit sign signature against LITERAL ±1 planes (exact
    integer math — see :func:`_plane_signs`). Requires ≤ 64 planes; the
    banded operators use :func:`sig_chunks_q` chunk packing instead, which has no such
    ceiling."""
    signs = _plane_signs(qvec, plane_matrix)
    masks = F.expr(
        "array(" + ",".join(f"{1 << p}L" for p in range(len(plane_matrix))) + ")"
    )
    return F.aggregate(
        F.zip_with(
            signs,
            masks,
            lambda b, m: F.when(b == 1, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int | None = None,
    plane_matrix: list[list[int]] | None = None,
    exact: bool = False,
    target_bucket: int = 200,
    design_cos: float = 0.9,
    target_recall: float = 0.8,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing ≥1 signature
    band with the query, then exact cosine rerank within candidates.

    The cross join of :func:`cosine_topk` becomes an equi-join on
    (band, band_key): at 1000-executor scale the corpus is hash-partitioned
    by bucket and each query probes only its buckets.

    ``multiprobe=True`` additionally probes, per band, every bucket at
    Hamming distance 1 from the query's key (flip each of the ``width``
    sign bits — one XOR per probe; multi-probe LSH, Lv et al., VLDB'07).
    Query-side fan-out only: the CORPUS index is untouched, so recall
    rises (per-band hit rate p^w → p^w + w·p^{w−1}(1−p)) at the cost of
    ``width`` extra probe keys per query band instead of more bands —
    the right trade when the corpus index dominates memory/build cost
    and the query set is small. Pass ``bands=None`` with it and the
    derived band count shrinks accordingly (:func:`bands_for`
    ``hamming1=True``).

    ``plane_matrix``: literal ±1 planes (see :func:`rademacher_planes`) —
    engine-reproducible signatures for the DuckDB oracle (requires an
    explicit ``bands``); default (None) derives the index geometry from
    the CORPUS at index-build time — band width from corpus size
    (bucket population ⇒ probe cost, :func:`width_for`) and, when
    ``bands`` is also None, band count from ``design_cos`` /
    ``target_recall`` (:func:`bands_for` — holds the recall floor as
    width grows; see :func:`derive_index`). ``exact`` switches the
    rerank cosine to the decimal-folded form (oracle hash-equality)."""
    corpus = _non_null(corpus, vec_col)
    queries = _non_null(queries, vec_col)
    plane_matrix, width, bands = _resolve_index(
        corpus, vec_col, plane_matrix, bands,
        target_bucket, design_cos, target_recall,
        hamming1=multiprobe,
    )

    def banded(df: DataFrame, role: str, probe: bool = False) -> DataFrame:
        # two staging selects: __q before the sign lambdas touch it (or
        # the quantize tree re-evaluates per plane), __sigc before the
        # band extraction reads it `bands` times.
        staged = (
            df.select(
                F.col(id_col).alias(f"{role}_id"),
                F.col(vec_col).alias(f"{role}_vec"),
                # per-vector squared norm, hoisted out of the candidate
                # re-rank (see cosine_topk) — bit-identical
                _pairwise_sum(F.col(vec_col), F.col(vec_col), exact).alias(
                    f"__{role}_n2"
                ),
                quantize_vec(F.col(vec_col)).alias("__q"),
            )
            .select(
                f"{role}_id",
                f"{role}_vec",
                f"__{role}_n2",
                sig_chunks_q(F.col("__q"), plane_matrix, width).alias("__sigc"),
            )
        )
        keys = band_keys_from_chunks(F.col("__sigc"), width, bands)
        if not probe:
            return staged.select(
                f"{role}_id",
                f"{role}_vec",
                f"__{role}_n2",
                F.posexplode(keys).alias("band", "band_key"),
            )
        # Hamming-1 probe set per band: the key itself + every 1-bit
        # flip — XORs over the staged key, corpus side untouched.
        probed = F.transform(
            keys,
            lambda key: F.array(
                key, *[key.bitwiseXOR(F.lit(1 << j)) for j in range(width)]
            ),
        )
        return staged.select(
            f"{role}_id",
            f"{role}_vec",
            f"__{role}_n2",
            F.posexplode(probed).alias("band", "__probes"),
        ).select(
            f"{role}_id",
            f"{role}_vec",
            f"__{role}_n2",
            "band",
            F.explode(F.col("__probes")).alias("band_key"),
        )

    cq = banded(queries, "query", probe=multiprobe)
    cc = banded(corpus, "neighbor")
    cands = (
        cq.join(cc, ["band", "band_key"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_vec",
            "__query_n2",
            "neighbor_id",
            "neighbor_vec",
            "__neighbor_n2",
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    sim = _pairwise_sum(F.col("query_vec"), F.col("neighbor_vec"), exact) / (
        F.sqrt("__query_n2") * F.sqrt("__neighbor_n2")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _cell_dists(
    vec: Column, centroids: list[list[float]], exact: bool = False
) -> Column:
    """array of squared distances to each centroid — ONE transform over a
    nested literal centroid array, so the zip/aggregate machinery appears
    once in the tree instead of once per centroid (compile-time matters:
    16 copies of it pushed IVF plan construction to ~10s).

    ``exact``: integer micro-unit arithmetic — ``vec`` must then be a
    PRE-QUANTIZED staged column (see :func:`quantize_vec`) and centroids
    are Python-quantized to the same grid; squared micro-distances sum
    exactly in long (≤ 64·(1.2e6)² ≈ 9e13 ≪ 2^63), so the argmin is
    engine-reproducible for the DuckDB oracle (double chains diverge)."""
    # ONE parsed nested-array literal (not CreateArray of n×dim F.lit
    # children): a single py4j call; ConstantFolding makes it one Literal.
    if exact:
        cent_arr = _lit_nested_long(
            [[quantize_py(x) for x in c] for c in centroids]
        )
        return F.transform(
            cent_arr,
            lambda c: F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda s, x: s + x,
            ),
        )
    cent_arr = _lit_nested_double([[float(x) for x in c] for c in centroids])
    return F.transform(
        cent_arr,
        lambda c: F.aggregate(
            F.zip_with(
                vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
    )


def _centroid_cell(
    vec: Column, centroids: list[list[float]], exact: bool = False
) -> Column:
    """argmin-distance cell id (first match on ties → deterministic).

    Exact mode (quantized long carrier) runs as ONE vectorized Arrow
    stage (r15): squared distances via the integer identity
    Σ(x−c)² = Σx² + Σc² − 2·x·c — every term an exact int64, addition
    order-independent, so the argmin (numpy first-occurrence — the same
    first-match-on-ties rule as array_position) is bit-identical to the
    expression fold it replaces. The float path keeps the expression
    fold: float reassociation is not value-preserving."""
    if exact:
        return _centroid_cell_arrow(centroids)(vec)
    darr = _cell_dists(vec, centroids, exact)
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


def _centroid_cell_arrow(centroids: list[list[float]]):
    """Vectorized exact-mode cell assignment (see :func:`_centroid_cell`)."""
    cents_q = [[quantize_py(x) for x in c] for c in centroids]

    @F.pandas_udf("int")
    def assign(qv):
        return _nearest_cell(qv, cents_q)

    return assign


def _nearest_cell(qv, cents_q):
    import numpy as np
    import pandas as pd

    if len(qv) == 0:
        return pd.Series([], dtype="int32")
    X = np.vstack(qv.to_numpy())  # (n, dim) int64
    C = np.asarray(cents_q, dtype=np.int64)  # (cells, dim)
    d = (
        (X * X).sum(1)[:, None]
        + (C * C).sum(1)[None, :]
        - 2 * (X @ C.T)
    )
    return pd.Series(np.argmin(d, axis=1).astype("int32"))


def _lit_nested3_long(groups: list[list[list[int]]]) -> Column:
    """array<array<array<long>>> literal, one parse (the 3-deep sibling
    of :func:`_lit_nested_long` — per-coarse-group child centroids)."""
    body = ",".join(
        "array("
        + ",".join(
            "array(" + ",".join(f"{int(c)}L" for c in v) + ")" for v in g
        )
        + ")"
        for g in groups
    )
    return F.expr(f"array({body})")


def _lit_nested3_double(groups: list[list[list[float]]]) -> Column:
    body = ",".join(
        "array("
        + ",".join(
            "array("
            + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in v)
            + ")"
            for v in g
        )
        + ")"
        for g in groups
    )
    return F.expr(f"array({body})")


# Auto-select boundary for the assignment strategy (r14 verdict ask,
# encoded r15): the flat argmin costs O(n_cells · dim) per row and the
# heavy-scale probe measured it as THE super-linear build cost once
# derived cell counts reach the low hundreds (SCALING.md r14: 160 cells
# at M=16 ⇒ flat build 7.2× slower end-to-end than two_level; 320 cells
# at M=32 ⇒ 5.2×). Below the bound flat stays the default — it is exact
# (no 0.010 recall price) and its per-row cost is trivial at ≤128
# centroids. Every driver-oracled corpus derives ≤~10 cells, so gated
# behavior is unchanged by ``assign="auto"``.
TWO_LEVEL_AUTO_CELLS = 128


def resolve_assign(assign: str, n_cells: int) -> str:
    """Resolve an ``assign`` knob (``"auto"``/``"flat"``/``"two_level"``)
    against the index's actual cell count: ``"auto"`` picks the flat
    exact argmin at or below :data:`TWO_LEVEL_AUTO_CELLS` cells and the
    two-level coarse→children hatch above it (where the flat build's
    O(n·cells·dim) cost is measured super-linear — SCALING.md r14).
    Explicit values pass through untouched, so the driver-oracled flat
    pin and the probe's forced-hatch runs both stay expressible."""
    if assign == "auto":
        return "two_level" if n_cells > TWO_LEVEL_AUTO_CELLS else "flat"
    if assign not in ("flat", "two_level"):
        raise ValueError(
            f"assign must be 'auto', 'flat' or 'two_level', got {assign!r}"
        )
    return assign


def two_level_groups(
    cents: list[list[float]],
) -> tuple[list[int], list[list[int]]]:
    """Driver-side coarse/fine grouping for two-level cell assignment:
    coarse seeds are every stride-th fine centroid (⌈√n⌉ of them), each
    fine centroid joins its nearest seed's group (exact micro-unit long
    math, lowest seed on ties — deterministic and engine-free). A seed
    whose group would end empty (possible only when two seeds are
    bit-identical) keeps itself, so every group the assignment
    expression can reach is non-empty."""
    import math

    n = len(cents)
    n_coarse = max(1, math.isqrt(max(n - 1, 0)) + 1)
    stride = (n + n_coarse - 1) // n_coarse
    seeds = list(range(0, n, stride))[:n_coarse]
    q = [[quantize_py(x) for x in c] for c in cents]
    groups: list[list[int]] = [[] for _ in seeds]
    for i in range(n):
        ds = [
            sum((a - b) ** 2 for a, b in zip(q[i], q[s])) for s in seeds
        ]
        groups[ds.index(min(ds))].append(i)
    for j, s in enumerate(seeds):
        if not groups[j]:
            groups[j].append(s)
    return seeds, groups


def _centroid_cell_two_level(
    vec: Column, centroids: list[list[float]], exact: bool = False
) -> Column:
    """Two-level (coarse → children) argmin cell id — the linear-build
    escape hatch for the flat argmin's O(n_cells) per-row cost
    (SCALING.md r14: the one super-linear heavy-probe row). Work per
    row is O((√n_cells + max_group) · dim) instead of O(n_cells · dim).

    APPROXIMATE assignment, exactly as production IVF builds (FAISS
    assigns through its own quantizer search): a vector whose true
    nearest fine cell hangs under a different coarse seed lands in the
    best fine cell OF ITS COARSE GROUP instead — pure recall trade,
    never a correctness trade (the probe/rerank machinery is unchanged;
    agreement and recall pinned in tests/test_training_data_ops.py)."""
    seeds, groups = two_level_groups(centroids)
    coarse = _centroid_cell(vec, [centroids[s] for s in seeds], exact)
    if exact:
        kids_lit = _lit_nested3_long(
            [[[quantize_py(x) for x in centroids[i]] for i in g] for g in groups]
        )
    else:
        kids_lit = _lit_nested3_double(
            [[[float(x) for x in centroids[i]] for i in g] for g in groups]
        )
    ids_lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(str(i) for i in g) + ")" for g in groups
        )
        + ")"
    )
    kids = F.element_at(kids_lit, coarse + 1)
    if exact:
        dists = F.transform(
            kids,
            lambda c: F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda s, x: s + x,
            ),
        )
    else:
        dists = F.transform(
            kids,
            lambda c: F.aggregate(
                F.zip_with(
                    vec,
                    c,
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda s, x: s + x,
            ),
        )
    pos = F.array_position(dists, F.array_min(dists)).cast("int")
    return F.element_at(F.element_at(ids_lit, coarse + 1), pos).cast("int")


def sample_centroids(corpus: DataFrame, n: int) -> list[list[float]]:
    """Deterministic hash-stratified centroid sample: the ``n`` corpus
    vectors ranked first by md5 of their id string. Unbiased by id order
    (unlike first-n-by-id), reproducible on any engine with md5(), and the
    collect is bounded at ``n`` rows."""
    rows = (
        _non_null(corpus, "embedding").select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")), F.col("vec_id"))
        .limit(n)
        .collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


def kmeans_centroids(corpus: DataFrame, n: int) -> list[list[float]]:
    """Trained coarse quantizer: seed-fixed ``pyspark.ml.clustering.KMeans``
    centers. Centers are the only driver-side state (n × dim floats).
    Prefer over :func:`sample_centroids` when corpus geometry is
    clustered — probing trained cells recovers more true neighbors at
    equal n_probe.

    The fit is a SINGLE-TASK fit over the corpus sorted by vector:
    k-means|| seeds by sampling each partition with a per-partition
    seed and Lloyd's steps fold per partition, so a multi-partition fit
    gives centers that depend on the input layout (and so on the core
    count). One sorted partition makes them a function of the corpus
    and the fixed seed (42) alone. It runs on one core: fit a sample of a large
    corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = (
        _non_null(corpus, "embedding")
        .select(F.col("embedding").cast("array<double>").alias("__v"))
        .coalesce(1)
        .sortWithinPartitions("__v")
        .select(array_to_vector(F.col("__v")).alias("features"))
    )
    model = KMeans(k=n, seed=42, maxIter=20).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _coarse_centroids(
    corpus: DataFrame,
    centroids: list[list[float]] | int | None,
    target_cell: int,
) -> list[list[float]]:
    """The coarse quantizer of an IVF or SemDeDup index. ``None`` derives
    the cell count from the corpus at index-build time (:func:`cells_for`,
    expected cell population ≈ ``target_cell``) and an ``int`` fixes it;
    both take the :func:`sample_centroids` sample. A list of centers —
    engine-pinned literals, or :func:`kmeans_centroids` output on a
    clustered corpus — is used as given."""
    if centroids is None or isinstance(centroids, int):
        n = cells_for(corpus.count(), target_cell) if centroids is None else centroids
        return sample_centroids(corpus, n)
    return [[float(x) for x in c] for c in centroids]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    exact: bool = False,
    target_cell: int = 200,
    assign: str = "auto",
) -> DataFrame:
    """IVF-Flat approximate top-k: corpus vectors are assigned to coarse
    cells (argmin distance to centroids), each query probes only its
    ``n_probe`` nearest cells, and candidates are exactly reranked.

    ``assign``: ``"auto"`` (the default — flat at or below
    :data:`TWO_LEVEL_AUTO_CELLS` cells, two-level above, via
    :func:`resolve_assign`; every driver-oracled corpus derives ≤~10
    cells so gated behavior is the flat pin), ``"flat"`` (exact argmin
    over every centroid) or ``"two_level"`` (coarse → children argmin,
    :func:`_centroid_cell_two_level` — the linear-build hatch for
    corpus-derived cell counts, where flat assignment is
    O(n · n_cells · dim) = O(n²·dim/target); approximate assignment,
    recall-pinned in tests).

    ``n_centroids=None`` (production default) derives the cell count
    from the corpus at index-build time — :func:`cells_for`, expected
    cell population ≈ ``target_cell`` — the same derived-knob contract
    as the LSH width/bands and the SemDeDup cells: a count pinned for
    the gate corpus makes every query scan ``n_probe/n_centroids`` of
    the ENTIRE corpus forever (16 cells at n=10¹⁰ ⇒ ~4×10⁹ candidate
    rows per query), where derived cells keep the per-probe candidate
    set ≈ ``n_probe · target_cell`` rows regardless of n. Standard IVF
    practice sizes cells ∝ √n or n/target; n/target is used for
    consistency with the rest of the family.

    ``centroids``: ``None`` (default) takes ``n_centroids`` centers from
    the md5-stratified deterministic sample — engine-reproducible, so a
    SQL oracle can re-derive the same cells; an explicit list of centers
    (e.g. :func:`kmeans_centroids` — better cells on clustered corpora)
    is used as given (:func:`_coarse_centroids`). ``exact``:
    decimal-folded distances + rerank cosine (oracle hash-equality).

    Scale shape: assignment is a projection against broadcast-literal
    centroids (no shuffle; centroid counts past ~10⁴ belong in a
    broadcast TABLE instead of plan literals — same note as
    ``semantic_dedup``); the probe join is an equi-join on cell id;
    rerank cost is |candidates| dot products."""
    corpus = _non_null(corpus, "embedding")
    queries = _non_null(queries, "embedding")
    cents = _coarse_centroids(
        corpus, n_centroids if centroids is None else centroids,
        target_cell,
    )
    # exact mode: distances run on the staged quantized vector (__q)
    c_pre = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("neighbor_vec"),
        (quantize_vec(F.col("embedding")) if exact else F.col("embedding")).alias("__v"),
    )
    assign = resolve_assign(assign, len(cents))
    cell_of = (
        _centroid_cell_two_level if assign == "two_level" else _centroid_cell
    )
    c_cells = c_pre.select(
        "neighbor_id",
        "neighbor_vec",
        # per-vector squared norm, hoisted out of the candidate re-rank
        # (see cosine_topk) — bit-identical
        _pairwise_sum(
            F.col("neighbor_vec"), F.col("neighbor_vec"), exact
        ).alias("__n2c"),
        cell_of(F.col("__v"), cents, exact).alias("cell"),
    )
    # per-query: n_probe nearest cells, exploded to probe rows
    qdists = _cell_dists(F.col("__v"), cents, exact)
    indexed = F.zip_with(
        qdists,
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda d, i: F.struct(d.alias("d"), i.cast("int").alias("cell")),
    )
    ranked_cells = F.slice(
        F.transform(F.array_sort(indexed), lambda s: s["cell"]), 1, n_probe
    )
    q_probe = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            (quantize_vec(F.col("embedding")) if exact else F.col("embedding")).alias(
                "__v"
            ),
        )
        .select("query_id", "query_vec", ranked_cells.alias("__cells"))
        .select("query_id", "query_vec", F.explode("__cells").alias("cell"))
        # query-side squared norm AFTER the explode (probe rows are
        # queries × n_probe — still tiny) rather than alongside __v:
        # an identical pre-explode fold on both subtrees of the shared
        # scan tripped an attribute-binding INTERNAL_ERROR in the
        # generator pruning path on some plan orders.
        .withColumn(
            "__n2q",
            _pairwise_sum(F.col("query_vec"), F.col("query_vec"), exact),
        )
    )
    cands = (
        q_probe.join(c_cells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    sim = _pairwise_sum(F.col("query_vec"), F.col("neighbor_vec"), exact) / (
        F.sqrt("__n2q") * F.sqrt("__n2c")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dup(
    corpus: DataFrame,
    threshold: float = 0.95,
    bands: int | None = None,
    plane_matrix: list[list[int]] | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold), LSH-bucketed: pair
    fan-out happens only inside signature buckets (capped at 200).

    ``plane_matrix``: engine-reproducible literal planes, for the DuckDB
    oracle (see :func:`lsh_topk`, needs explicit ``bands``); ``None``
    (production default) derives the index geometry from the corpus at
    build time — band width from corpus size (:func:`width_for`, bucket
    population ≈ the 200-row cap) and, when
    ``bands`` is also None, band count from the dedup threshold itself
    (:func:`bands_for` with ``design_cos=threshold`` — the operator's
    own contract similarity is the recall design point), so BOTH the
    bucket-cap collapse and the p^width recall decay are held off as the
    corpus grows. Either way the scale-6 micro-unit
    vector ``__q`` is staged ONCE and is the ONLY array carried through
    banding, capping, and the bucket self-join — band keys and the exact
    integer cosine both read it (r2 carried the raw vector and re-derived
    exactness via a per-pair decimal fold, ~1.5× the cost)."""
    corpus = _non_null(corpus, "embedding")
    plane_matrix, width, bands = _resolve_index(
        corpus, "embedding", plane_matrix, bands,
        200, threshold, 0.8,
    )
    staged = corpus.select(
        F.col("vec_id").alias("doc"),
        quantize_vec(F.col("embedding")).alias("__q"),
    ).select(
        "doc",
        F.col("__q").alias("vec"),
        # staged: band_keys_from_chunks reads it `bands` times
        sig_chunks_q(F.col("__q"), plane_matrix, width).alias("__sigc"),
    )
    exact = True  # quantized carrier ⇒ integer cosine

    def _isum(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0).cast("long"),
            lambda s, v: s + v,
        )

    banded = staged.select(
        "doc",
        "vec",
        # per-vector squared norm hoisted out of the pair verify (r15):
        # exact long sum, so placement cannot change the value
        _isum(F.col("vec"), F.col("vec")).alias("__n2"),
        F.posexplode(
            band_keys_from_chunks(F.col("__sigc"), width, bands)
        ).alias("band", "band_key"),
    )
    # Bucket self-equi-join (see dedup.minhash_lsh_pairs for why not nested
    # array lambdas and why the cap is a window, not a groupBy branch).
    from .dedup import _bucket_cap

    capped = _bucket_cap(banded, "band_key", 200).select(
        "band", "band_key", "doc", "vec", "__n2"
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
            F.col("a.vec").alias("vec_a"),
            F.col("b.vec").alias("vec_b"),
            F.col("a.__n2").alias("__n2a"),
            F.col("b.__n2").alias("__n2b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sim = _isum(F.col("vec_a"), F.col("vec_b")).cast("double") / (
        F.sqrt(F.col("__n2a").cast("double"))
        * F.sqrt(F.col("__n2b").cast("double"))
    )
    return pairs.select("doc_a", "doc_b", sim.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


# ---------------------------------------------------------------- PQ-ADC --
# Product quantization (Jégou et al. 2011): split the d-dim vector into m
# subspaces, vector-quantize each against a small per-subspace codebook,
# and store only the m code bytes. Search is ADC (asymmetric distance
# computation): the query stays full precision; per query one m×codes
# lookup table of sub-distances is computed, and a candidate's distance
# is m table lookups + adds — no per-candidate vector math at all.
#
# Scale story: a 64-dim float corpus (256 B/vec) compresses to m=8 code
# bytes — the scan side shrinks ~32× and never touches raw vectors, which
# is what makes exhaustive ADC over billions of vectors feasible; compose
# with ivf_topk cells to prune further (probe then ADC-rerank).
#
# Determinism: all arithmetic is exact long math on the shared micro-unit
# grid (quantize_vec/quantize_py), codebooks derive from the
# md5-stratified sample — the WHOLE index replays in DuckDB and the
# driver's value hash checks it like an exact query.

PQ_M = 8          # subspaces
PQ_CODES = 16     # codes per subspace


def pq_codebooks(corpus: DataFrame, n_codes: int = PQ_CODES) -> list[list[list[int]]]:
    """[m][n_codes][sub_dim] QUANTIZED codebooks: the md5-stratified
    sample vectors sliced per subspace (deterministic, engine-replayable;
    a trained per-subspace KMeans drops in for clustered corpora the same
    way kmeans_centroids does for IVF)."""
    return pq_codebooks_from_sample(
        sample_centroids(corpus, n_codes), PQ_M
    )


def pq_codebooks_from_sample(
    sample: list[list[float]], m: int = PQ_M
) -> list[list[list[int]]]:
    """Slice an already-collected md5-stratified sample into [m] PQ
    codebooks — lets a caller that needs BOTH the IVF centroids and the
    PQ codebooks (ivfpq) pay the bounded sample collect once."""
    dim = len(sample[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    qs = [[quantize_py(x) for x in v] for v in sample]
    return [[v[s * d : (s + 1) * d] for v in qs] for s in range(m)]


def _pq_subdists(qvec: Column, book: list[list[int]], s: int, d: int) -> Column:
    """array<long> of exact squared sub-distances from subspace ``s`` of a
    staged quantized vector to each code of ``book``."""
    sub = F.slice(qvec, s * d + 1, d)
    book_arr = _lit_nested_long(book)
    return F.transform(
        book_arr,
        lambda row: F.aggregate(
            F.zip_with(sub, row, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def pq_encode(corpus: DataFrame, codebooks: list[list[list[int]]]) -> DataFrame:
    """``vec_id, codes`` (array<int>, one code per subspace — argmin
    sub-distance, smallest code on ties). Pure projection against the
    literal codebooks: no shuffle, no vector retained."""
    d = len(codebooks[0][0])
    staged = _non_null(corpus, "embedding").select(
        F.col("vec_id").alias("vec_id"),
        quantize_vec(F.col("embedding")).alias("__q"),
    )
    # ONE vectorized Arrow stage for all subspace argmins (r15): the
    # per-row expression form ran m × codes × sub_dim interpreted HOF
    # evaluations per vector. Same exact-integer identity and
    # first-occurrence argmin as _centroid_cell — bit-identical codes
    # (subspace codebooks are quantized already).
    @F.pandas_udf("array<int>")
    def encode(qv):
        return _pq_codes(qv, codebooks, d)

    return staged.select("vec_id", encode(F.col("__q")).alias("codes"))


def _pq_codes(qv, books, d):
    import numpy as np
    import pandas as pd

    if len(qv) == 0:
        return pd.Series([], dtype=object)
    X = np.vstack(qv.to_numpy())  # (n, dim) int64
    out = np.empty((X.shape[0], len(books)), dtype=np.int32)
    for s, book in enumerate(books):
        Xs = X[:, s * d : (s + 1) * d]
        B = np.asarray(book, dtype=np.int64)  # (codes, d)
        dm = (
            (Xs * Xs).sum(1)[:, None]
            + (B * B).sum(1)[None, :]
            - 2 * (Xs @ B.T)
        )
        out[:, s] = np.argmin(dm, axis=1)
    return pd.Series(list(out))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    codebooks: list[list[list[int]]] | None = None,
) -> DataFrame:
    """ADC top-k: ``query_id, neighbor_id, adist, rank`` (adist = exact
    long Σ of looked-up squared sub-distances; unique order adist ASC,
    neighbor_id ASC).

    Queries (bounded: a search batch) build their m×codes tables in one
    projection and BROADCAST; the corpus side is only (vec_id, codes) —
    the scan that would be 100 TB of floats is a few TB of codes."""
    if codebooks is None:
        codebooks = pq_codebooks(corpus)
    m = len(codebooks)
    d = len(codebooks[0][0])
    enc = pq_encode(corpus, codebooks)
    qstaged = _non_null(queries, "embedding").select(
        F.col("vec_id").alias("query_id"),
        quantize_vec(F.col("embedding")).alias("__q"),
    )
    qtab = qstaged.select(
        "query_id",
        F.array(
            *[_pq_subdists(F.col("__q"), codebooks[s], s, d) for s in range(m)]
        ).alias("tab"),
    )
    pairs = enc.crossJoin(F.broadcast(qtab)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    adist = F.aggregate(
        F.zip_with(
            F.col("tab"),
            F.col("codes"),
            lambda tab_s, c: F.element_at(tab_s, c + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adist.alias("adist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def residual_codebooks(
    corpus: DataFrame,
    cents: list[list[float]],
    n_codes: int = PQ_CODES,
) -> list[list[list[int]]]:
    """Shared RESIDUAL codebooks (the IVFADC form of Jégou et al. 2011):
    the md5-stratified sample vectors, each reduced to (vector − its
    nearest centroid) on the exact micro-unit grid, sliced per
    subspace. One codebook set serves every cell — residuals live in a
    common small-offset space. The argmin here is a driver-side replica
    of the engine's cell assignment (same exact long math, lowest cell
    on ties), so index and codebooks agree bit-for-bit.

    This is the PUBLIC builder for :func:`ivfpq_topk`'s
    ``residual=True`` mode: codebooks passed with ``residual=True``
    MUST come from here (built against the SAME ``cents``), never from
    :func:`pq_codebooks` — absolute books price ADC in a mismatched
    space silently (r13 advice; ``ivfpq_topk`` flags the obvious
    mismatch heuristically)."""
    sample = sample_centroids(corpus, n_codes)
    qcents = [[quantize_py(x) for x in c] for c in cents]
    res = []
    for v in sample:
        qv = [quantize_py(x) for x in v]
        dists = [sum((a - b) ** 2 for a, b in zip(qv, c)) for c in qcents]
        cell = dists.index(min(dists))
        res.append([a - b for a, b in zip(qv, qcents[cell])])
    dim = len(res[0])
    if dim % PQ_M:
        raise ValueError(f"dim {dim} not divisible by m={PQ_M}")
    d = dim // PQ_M
    return [[v[s * d : (s + 1) * d] for v in res] for s in range(PQ_M)]


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[int]]] | None = None,
    target_cell: int = 200,
    residual: bool = False,
    assign: str = "auto",
) -> DataFrame:
    """IVF-PQ top-k — the composed 100 TB serving shape (coarse IVF cells
    prune WHICH codes are scanned, PQ-ADC prices the survivors): the
    index row is ``(neighbor_id, cell, codes)`` — ~m bytes + a cell id
    per vector, raw floats never retained — a query probes its
    ``n_probe`` nearest cells and pays m table lookups + adds per
    candidate, so cost is ``n_probe · target_cell · m`` adds instead of
    |corpus| full-dim dot products.

    ``residual=False`` (the driver-oracled default): codes quantize the
    vector itself, so the query's m×codes ADC table is computed ONCE
    per query and reused across its probes — the cheapest form, and the
    one the DuckDB oracle replays. Candidate pruning is identical to
    :func:`ivf_topk` (same argmin cells, same probe order) and pricing
    is identical to :func:`pq_topk` (same ADC tables), so recall is
    bounded above by min(both) — probed in
    tests/test_training_data_ops.py.

    ``residual=True`` (the IVFADC refinement): codes quantize
    (vector − assigned centroid) against SHARED residual codebooks
    (:func:`residual_codebooks`) — residuals live in a common
    small-offset space the codebooks resolve far more finely than
    absolute positions, so recall improves on clustered corpora at the
    same (m, codes) budget. The query side pays one ADC table per
    PROBED CELL instead of per query (its residual differs per cell) —
    still bounded: n_probe × m × codes subdistances per query, computed
    in the same broadcast projection. All arithmetic stays on the exact
    micro-unit long grid in both modes.

    ``assign``: same knob as :func:`ivf_topk` — ``"auto"`` (default:
    flat at or below :data:`TWO_LEVEL_AUTO_CELLS` cells, two-level
    above, :func:`resolve_assign`), ``"flat"``, or ``"two_level"``
    (coarse → children argmin for the index-side cell assignment —
    linear build under corpus-derived cell counts, approximate
    assignment, recall-pinned in tests; SCALING.md r14 names the flat
    argmin as the probe's one super-linear cost).

    Scale shape: index build is one projection over the staged
    quantized vector (cell argmin + m code argmins share it — no
    shuffle); the query batch (bounded: a search request) broadcasts
    its probe rows WITH the m×codes ADC table; the probe join is an
    equi-join on cell id; the only wide exchange is the final
    per-query top-k window over ≈ n_probe·target_cell candidate rows.
    """
    corpus = _non_null(corpus, "embedding")
    queries = _non_null(queries, "embedding")
    cents = _coarse_centroids(
        corpus, n_centroids if centroids is None else centroids,
        target_cell,
    )
    if codebooks is None:
        codebooks = (
            residual_codebooks(corpus, cents)
            if residual
            else pq_codebooks(corpus)
        )
    elif residual:
        # r13 advice: caller-supplied books with residual=True must be
        # RESIDUAL-space books (built by residual_codebooks against
        # these same centroids) — absolute pq_codebooks output prices
        # ADC in a mismatched space with no other symptom. Absolute
        # books are corpus samples, so their magnitude matches the
        # (also corpus-sampled) centroids'; true residual entries are
        # nearest-centroid offsets and come out strictly smaller in
        # expectation. Flag the clearly-absolute case.
        code_mag = [abs(x) for book in codebooks for c in book for x in c]
        cent_mag = [abs(quantize_py(x)) for c in cents for x in c]
        if code_mag and cent_mag:
            code_mean = sum(code_mag) / len(code_mag)
            cent_mean = sum(cent_mag) / len(cent_mag)
            if code_mean >= cent_mean:
                import warnings

                warnings.warn(
                    "ivfpq_topk(residual=True): supplied codebooks have "
                    f"mean |entry| {code_mean:.0f} >= centroid mean "
                    f"{cent_mean:.0f} — they look like ABSOLUTE "
                    "pq_codebooks output, not residual_codebooks output; "
                    "ADC pricing will be computed in a mismatched space.",
                    stacklevel=2,
                )
    index = ivfpq_index_rows(
        corpus,
        cents,
        codebooks,
        residual=residual,
        assign=assign,
    )
    return ivfpq_serve(
        index,
        queries,
        cents,
        codebooks,
        k=k,
        n_probe=n_probe,
        residual=residual,
    )


def _residual_carrier(cents, residual):
    """Shared (build/serve) stager: __v is the code-space vector — __q
    itself, or the residual against the row's ``cell`` (exact long
    subtraction versus the quantized centroid literal)."""
    qcent_lit = (
        _lit_nested_long([[quantize_py(x) for x in c] for c in cents])
        if residual
        else None
    )

    def _carrier(df: DataFrame, keep: list[str]) -> DataFrame:
        if not residual:
            return df.select(*keep, F.col("__q").alias("__v"))
        return df.select(
            *keep,
            F.zip_with(
                F.col("__q"),
                F.element_at(qcent_lit, F.col("cell") + 1),
                lambda a, b: a - b,
            ).alias("__v"),
        )

    return _carrier


def ivfpq_index_rows(
    corpus: DataFrame,
    cents: list[list[float]],
    codebooks: list[list[list[int]]],
    residual: bool = False,
    assign: str = "auto",
) -> DataFrame:
    """The IVF-PQ INDEX BUILD against FROZEN quantizers, factored out of
    :func:`ivfpq_topk` (r15, for incremental index maintenance): one
    projection per corpus row yielding ``(neighbor_id, cell, codes)`` —
    a cell id plus m code bytes, raw floats never retained. Because
    ``cents``/``codebooks`` are explicit (frozen), index rows are a pure
    per-row function of the vector: the index of a union IS the union
    of the indexes, which is what makes the streaming ingest leg
    (:func:`..streaming.ann_index.ivfpq_index_ingest`) sound — pinned
    row-identical in tests/test_ann_index_ingest.py."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    _carrier = _residual_carrier(cents, residual)
    assign = resolve_assign(assign, len(cents))
    cell_of = (
        _centroid_cell_two_level if assign == "two_level" else _centroid_cell
    )
    staged = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        quantize_vec(F.col("embedding")).alias("__q"),
    ).select(
        "neighbor_id",
        "__q",
        cell_of(F.col("__q"), cents, exact=True).alias("cell"),
    )
    code_cols = []
    for s in range(m):
        darr = _pq_subdists(F.col("__v"), codebooks[s], s, d)
        code_cols.append(
            (F.array_position(darr, F.array_min(darr)) - 1).cast("int")
        )
    return _carrier(staged, ["neighbor_id", "cell"]).select(
        "neighbor_id", "cell", F.array(*code_cols).alias("codes")
    )


def ivfpq_serve(
    index: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    codebooks: list[list[list[int]]],
    k: int = 10,
    n_probe: int = 4,
    residual: bool = False,
) -> DataFrame:
    """The IVF-PQ SERVE side factored out of :func:`ivfpq_topk` (r15):
    top-k over a PREBUILT ``(neighbor_id, cell, codes)`` index table —
    the persisted-index twin of the inline path, so an index accrued
    across snapshot ingests (:func:`ivfpq_index_rows` appended per
    snapshot) serves identically to a from-scratch build (pinned in
    tests/test_ann_index_ingest.py). Quantizers must be the FROZEN
    ones the index rows were coded against."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    _carrier = _residual_carrier(cents, residual)
    qstaged = queries.select(
        F.col("vec_id").alias("query_id"),
        quantize_vec(F.col("embedding")).alias("__q"),
    )
    qdists = _cell_dists(F.col("__q"), cents, exact=True)
    indexed = F.zip_with(
        qdists,
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda dd, i: F.struct(dd.alias("d"), i.cast("int").alias("cell")),
    )
    ranked_cells = F.slice(
        F.transform(F.array_sort(indexed), lambda st: st["cell"]), 1, n_probe
    )
    def _tab(src: str):
        return F.array(
            *[_pq_subdists(F.col(src), codebooks[s], s, d) for s in range(m)]
        )

    if residual:
        # the residual (and so the ADC table) differs per probed cell —
        # explode first, then stage __v and the per-(query, cell) table
        q_probe = _carrier(
            qstaged.select(
                "query_id", "__q", ranked_cells.alias("__cells")
            ).select(
                "query_id", "__q", F.explode("__cells").alias("cell")
            ),
            ["query_id", "cell"],
        ).select("query_id", "cell", _tab("__v").alias("tab"))
    else:
        # one table per query, reused by every probe row
        q_probe = qstaged.select(
            "query_id",
            ranked_cells.alias("__cells"),
            _tab("__q").alias("tab"),
        ).select("query_id", F.explode("__cells").alias("cell"), "tab")
    cands = index.join(F.broadcast(q_probe), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    adist = F.aggregate(
        F.zip_with(
            F.col("tab"),
            F.col("codes"),
            lambda tab_s, c: F.element_at(tab_s, c + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cands.select("query_id", "neighbor_id", adist.alias("adist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
