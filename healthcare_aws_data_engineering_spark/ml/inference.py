"""Fitted-parameter inference (SURVEY §2.10).

Stages (reference ``test.py:324-343`` inference chain, artifacts decoded
by ``tools/extract_ml_params.py``):

- M1 median impute   → ``COALESCE(col, median_i)`` in the JVM
  (stored medians, NOT a refit ``pyspark.ml.feature.Imputer``)
- M2 standardize     → ``(x - mean_i) / scale_i``
- M3 PCA 19→14       → 14 folds ``Σ c_ji (x_i - m_i)``
- M4 KMeans assign   → first argmin of 4 squared-distance folds
- M5 XGB scoring ×3  → boosters traversed directly with numpy (no
  joblib/xgboost dependency); trees loaded per executor from package
  params
- M6 threshold/band  → CASE ladder (``functions.banding.risk_prob_band``,
  test.py:157-163)

M1 is JVM column math, so NULL handling is Spark's ``COALESCE``. M2–M5
run in numpy inside ONE Arrow-batched pandas UDF per query
(:func:`_pca_kmeans`, then :func:`_score_matrix`): the UDF takes the 19
imputed features and returns ``cluster`` plus the three probabilities
(``ml_preprocess`` takes z0..z13 and ``cluster`` from the same helper).

The M3/M4 folds sit on an integer micro-unit grid: each term ``t``
becomes ``floor(t·1e6 + 0.5)`` as a 64-bit integer, the integers are
summed exactly, and the fold is ``double(sum) / 1e6``. That is IEEE
multiply, add, floor and divide (correctly rounded in every engine)
around an exact integer sum, so numpy, Spark and DuckDB produce the same
bits in any summation order. :func:`pca_sql_exprs` and
:func:`kmeans_sql_expr` emit the same operations as SQL text for the
DuckDB oracle. Range: a fold's micro-unit sum must fit a signed 64-bit
integer, which bounds |z| at about 8·10^5 for the 14-term distance
folds; clinical inputs give |z| of order 10.

Scale note: per-row math, no shuffle. The scoring UDF ships 19 input
columns per row across Arrow (the 14 model inputs before M2–M4 moved
into it, so 5 more) and 4 back. Per Arrow batch of n rows
(``spark.sql.execution.arrow.maxRecordsPerBatch``, 10,000 by default)
numpy holds the n×19 float64 inputs, one n×19 term matrix per fold at a
time (about 1.5 MB at 10,000 rows), and the booster walk's five
256×trees scratch matrices (about 2 MB, reused across row blocks); M5 is
O(trees × depth) per row.
"""

from __future__ import annotations

import math
from functools import lru_cache

from pyspark.sql import DataFrame, functions as F

from ..functions.banding import risk_prob_band
from ..functions.sqltext import double_lit, lit
from .params import DISEASES, feature_names, model_features, sklearn_pipeline, xgb_trees

THRESHOLD = 0.5


# -------------------------------------------------------------------- M1 --
def _imputed_columns() -> list[str]:
    p = sklearn_pipeline()
    return [
        f"coalesce(CAST({n} AS DOUBLE), {double_lit(m)}) AS {n}"
        for n, m in zip(p["feature_names"], p["imputer"]["statistics"])
    ]


# ------------------------------------------------------------- M2–M4 numpy --
def _micro_fold(terms):
    """Sum of the last axis on the integer micro-unit grid — the numpy
    twin of :func:`_fold_sql`, operation for operation."""
    import numpy as np

    micro = np.floor(terms * 1e6 + 5e-1).astype(np.int64)
    return micro.sum(axis=-1).astype(np.float64) / 1e6


def _pca_kmeans(X):
    """Imputed features (n×19 float64) → (z: n×14 float64, cluster: n
    int32), the same operations in the same order as the SQL text of
    :func:`pca_sql_exprs` and :func:`kmeans_sql_expr`: scale, PCA terms,
    distance terms, then the first minimum (the lowest index wins ties)."""
    import numpy as np

    p = sklearn_pipeline()
    scaled = (X - np.asarray(p["scaler"]["mean"])) / np.asarray(p["scaler"]["scale"])
    centred = scaled - np.asarray(p["pca"]["mean"])
    comps = np.asarray(p["pca"]["components"])
    z = np.column_stack([_micro_fold(row * centred) for row in comps])
    dists = []
    for c in np.asarray(p["kmeans"]["centers"]):
        d = z - c
        dists.append(_micro_fold(d * d))
    return z, np.argmin(np.column_stack(dists), axis=1).astype(np.int32)


def _feature_matrix(cols):
    import numpy as np

    return np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])


def _preprocess_udf():
    """The 19 imputed features → struct<z0..z13, cluster>: M2–M4 in one
    Arrow pass."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_comp = len(sklearn_pipeline()["pca"]["components"])
    fields = ", ".join(f"z{j} double" for j in range(n_comp))

    @pandas_udf(f"struct<{fields}, cluster int>")
    def z_cluster(*cols):
        z, cluster = _pca_kmeans(_feature_matrix(cols))
        out = pd.DataFrame(z, columns=[f"z{j}" for j in range(n_comp)])
        out["cluster"] = cluster
        return out

    return z_cluster


# -------------------------------------------------------------------- M5 --
def _sigmoid(x):
    import numpy as np

    return 1.0 / (1.0 + np.exp(-x))


@lru_cache(maxsize=len(DISEASES))
def _stacked_booster(disease: str):
    """Booster compiled to ONE flat node table: all trees' nodes
    concatenated (per-tree root offsets recorded), with leaves rewritten
    to SELF-LOOP (both children their own index), so every (row, tree)
    walker can advance a fixed number of times with no per-tree
    active-mask logic. The children are interleaved, ``CH[2*i]`` left and
    ``CH[2*i + 1]`` right, so one gather ``CH[2*i + go_right]`` moves a
    walker. Leaves carry feature 0, so their gathers stay in bounds.

    ``depth`` counts BFS *levels* (a root-only tree has 1), so a walker
    at the root reaches its leaf after ``depth - 1`` advances. Cached per
    process: reading and compiling the three boosters costs about 0.09 s,
    and a Python worker scores every task's batches with the same
    tables."""
    import numpy as np

    base_score, trees = xgb_trees(disease)
    CH, Fi, C, D, roots = [], [], [], [], []
    off, depth = 0, 0
    for left, right, feat, cond, dleft in trees:
        m = len(left)
        ar = np.arange(m, dtype=np.int32)
        leaf = left == -1
        ch = np.empty((m, 2), dtype=np.int32)
        ch[:, 0] = np.where(leaf, ar, left) + off
        ch[:, 1] = np.where(leaf, ar, right) + off
        CH.append(ch.ravel())
        Fi.append(np.where(leaf, 0, feat).astype(np.int32))
        C.append(cond)
        D.append(dleft)
        roots.append(off)
        off += m
        d, frontier = 0, [0]
        while frontier:
            d += 1
            frontier = [
                c
                for i in frontier
                if left[i] != -1
                for c in (left[i], right[i])
            ]
        depth = max(depth, d)
    return (
        math.log(base_score / (1.0 - base_score)),
        np.concatenate(CH),
        np.concatenate(Fi),
        np.concatenate(C),
        np.concatenate(D),
        np.asarray(roots, dtype=np.int32),
        depth,
    )


# Rows scored per pass: a 256 × 400 int32 index matrix is 400 kB, so the
# walk's working set stays in a core's L2 cache at Arrow's 10,000-row
# batches (SCALING.md "XGBoost scoring kernel").
_ROW_BLOCK = 256


def _leaf_index(X, table, idx, f, x, c, go_right):
    """Leaf node of every (row, tree) walker for one row block ``X``
    (b × features), written into ``idx`` (b × trees); ``f``, ``x``, ``c``
    and ``go_right`` are scratch buffers of the same shape. Missing →
    default_left; ``x < cond`` → left. A block without NaN skips the
    missing-value path: ``x >= cond`` is ``not x < cond`` for every
    non-NaN value."""
    import numpy as np

    # Every index is in range by construction; mode="clip" lets take()
    # write straight into ``out``, which it buffers under mode="raise".
    _, CH, Fi, C, D, roots, depth = table
    has_nan = bool(np.isnan(X).any())
    # Level 0: every walker sits at its root, so the features are one
    # column gather.
    x0 = X[:, Fi[roots]]
    if has_nan:
        right0 = ~np.where(np.isnan(x0), D[roots], x0 < C[roots])
    else:
        right0 = x0 >= C[roots]
    np.take(CH, 2 * roots + right0, out=idx, mode="clip")
    Xf = X.ravel()
    row_off = np.arange(0, X.size, X.shape[1], dtype=np.int32)[:, None]
    for _ in range(depth - 2):
        np.take(Fi, idx, out=f, mode="clip")
        f += row_off
        np.take(Xf, f, out=x, mode="clip")
        np.take(C, idx, out=c, mode="clip")
        if has_nan:
            np.logical_not(np.where(np.isnan(x), D.take(idx), x < c), out=go_right)
        else:
            np.greater_equal(x, c, out=go_right)
        np.left_shift(idx, 1, out=f)
        f += go_right
        np.take(CH, f, out=idx, mode="clip")


def _score_matrix(X, disease: str):
    """Vectorized booster traversal: every (row, tree) pair advances down
    the stacked node table in lock-step, :data:`_ROW_BLOCK` rows at a
    time (:func:`_leaf_index`). Matches xgboost's binary:logistic margin
    accumulation + base_score; ``cond`` holds the leaf weight at leaves.
    The margin is the float32 leaves in tree order, summed per row as
    float64, so a row's probability does not depend on the block size.

    Each level costs four gathers over the block's index matrix (feature,
    value, threshold, child) plus two element-wise passes: at n = 10,000
    the three boosters take 0.33 s in one process, against 1.86-2.00 s
    for the earlier full-batch walk with separate left/right gathers
    (SCALING.md "XGBoost scoring kernel")."""
    import numpy as np

    table = _stacked_booster(disease)
    base_margin, C, roots = table[0], table[3], table[5]
    n = X.shape[0]
    shape = (min(n, _ROW_BLOCK), len(roots))
    idx, f = np.empty(shape, np.int32), np.empty(shape, np.int32)
    x, c = np.empty(shape, X.dtype), np.empty(shape, C.dtype)
    go_right = np.empty(shape, bool)
    margin = np.empty(n)
    for s in range(0, n, _ROW_BLOCK):
        b = min(_ROW_BLOCK, n - s)
        bufs = [a[:b] for a in (idx, f, x, c, go_right)]
        _leaf_index(X[s : s + b], table, *bufs)
        margin[s : s + b] = base_margin + C.take(bufs[0]).astype(np.float64).sum(axis=1)
    return _sigmoid(margin)


def _scoring_udf():
    """The 19 imputed features → struct<cluster, cvd, anemia, ckd>: M2–M5
    in one Arrow pass. The boosters read the model inputs on float32, as
    xgboost's DMatrix ingest does."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    names = feature_names()
    mf = model_features()
    fields = ", ".join(f"{d} double" for d in DISEASES)

    @pandas_udf(f"struct<cluster int, {fields}>")
    def score(*cols):
        X = _feature_matrix(cols)
        _, cluster = _pca_kmeans(X)
        M = np.column_stack(
            [cluster if n == "cluster" else X[:, names.index(n)] for n in mf]
        ).astype(np.float32)
        return pd.DataFrame(
            {"cluster": cluster, **{d: _score_matrix(M, d) for d in DISEASES}}
        )

    return score


# ------------------------------------------------------------ composition --
def preprocess(features: DataFrame) -> DataFrame:
    """features (19 raw columns, nulls allowed) → patient_id, 14 PCA
    components, cluster id: JVM imputation, then M2–M4 in one pandas UDF."""
    return features.select(
        "patient_id", _preprocess_udf()(*map(F.expr, _imputed_columns())).alias("__z")
    ).select("patient_id", "__z.*")


def predict_diseases(features: DataFrame) -> DataFrame:
    """Full M1→M6 chain as ONE linear flow (no self-join): JVM
    imputation, then M2–M5 in the scoring UDF, then flags and bands.

    The scoring input is repartitioned to the session's default
    parallelism: the 1200-tree UDF is orders of magnitude more expensive
    per byte than the shuffle heuristics assume, so AQE would otherwise
    coalesce a small feature table to ONE partition and serialize the
    scoring. Measured at sf0.1 (15,000 patients, ``session.py``'s
    session, 4 cores, ``tools/profile_queries.py``): the row takes
    0.73-0.83 s as written, and 0.92-1.05 s with a coalescable
    ``repartition(patient_id)``, where AQE put every row into one task."""
    scored_in = features.selectExpr("patient_id", *_imputed_columns()).repartition(
        features.sparkSession.sparkContext.defaultParallelism, F.col("patient_id")
    )
    out = scored_in.select(
        "patient_id", _scoring_udf()(*feature_names()).alias("__p")
    )
    cols = ["patient_id", "__p.cluster AS cluster"]
    for d in DISEASES:
        p = f"__p.{d}"
        cols += [
            f"{p} AS prob_{d}",
            f"CAST({p} >= {lit(THRESHOLD)} AS INT) AS flag_{d}",
            f"{risk_prob_band(p)} AS risk_{d}",
        ]
    return out.selectExpr(*cols)


# ------------------------------------------------------ M2–M4 DuckDB oracle --
def _fold_sql(terms: list[str]) -> str:
    """Integer micro-unit fold of per-row double term strings (module
    docstring): ``CAST(FLOOR(t * 1e6 + 5e-1) AS BIGINT)`` per term, a
    BIGINT sum, then ``CAST(sum AS DOUBLE) / 1e6``. Each term is the same
    IEEE expression in every engine and the sum is exact, so the result
    does not depend on how an engine orders the additions. The numpy twin
    is :func:`_micro_fold`."""
    micro = [f"CAST(FLOOR(({t}) * 1e6 + 5e-1) AS BIGINT)" for t in terms]
    return f"(CAST({' + '.join(micro)} AS DOUBLE) / 1e6)"


def _scaled_sql_map() -> dict[str, str]:
    p = sklearn_pipeline()
    return {
        n: f"((COALESCE(CAST({n} AS DOUBLE), {double_lit(med)})"
        f" - {double_lit(mu)}) / {double_lit(s)})"
        for n, med, mu, s in zip(
            p["feature_names"],
            p["imputer"]["statistics"],
            p["scaler"]["mean"],
            p["scaler"]["scale"],
        )
    }


def pca_sql_exprs() -> list[str]:
    """z_j = Σ_i components[j][i] * (scaled_i - pca_mean_i), j = 0..13, as
    engine-neutral SQL text over the raw feature columns (imputed and
    scaled inline), folded by :func:`_fold_sql`."""
    p = sklearn_pipeline()
    scaled = _scaled_sql_map()
    mean = p["pca"]["mean"]
    out = []
    for row in p["pca"]["components"]:
        terms = [
            f"{double_lit(c)} * ({scaled[n]} - {double_lit(mean[i])})"
            for i, (n, c) in enumerate(zip(p["feature_names"], row))
        ]
        out.append(_fold_sql(terms))
    return out


def kmeans_sql_expr(z_names: list[str]) -> str:
    """argmin_j ‖z − center_j‖² as DuckDB SQL text; ties break to the
    LOWER center index (first-match position), like ``numpy.argmin``."""
    centers = sklearn_pipeline()["kmeans"]["centers"]
    dists = []
    for c in centers:
        terms = [
            f"({z} - {double_lit(cj)}) * ({z} - {double_lit(cj)})"
            for z, cj in zip(z_names, c)
        ]
        dists.append(_fold_sql(terms))
    arr = f"[{', '.join(dists)}]"
    return f"CAST(list_position({arr}, list_min({arr})) - 1 AS INT)"


# ---------------------------------------------------- M5/M6 DuckDB oracle --
def _xgb_node_values() -> str:
    """Inline node-table literal ``(m, t, n, lf, rt, ft, cd)`` for all
    three boosters (~42k rows, ~1.6 MB of SQL): leaves carry ``lf = -1``
    and their weight in ``cd``; split conditions render as shortest
    round-trip doubles (exact parity). ``default_left`` is omitted —
    every model input is imputed upstream, so the missing-value branch is
    structurally unreachable (asserted by the COALESCE legs in the same
    generated SQL)."""
    rows = []
    for mi, d in enumerate(DISEASES):
        _, trees = xgb_trees(d)
        for ti, (left, right, feat, cond, _dleft) in enumerate(trees):
            rows.append(
                ",".join(
                    f"({mi},{ti},{n},{left[n]},{right[n]},{feat[n]},{double_lit(cond[n])})"
                    for n in range(len(left))
                )
            )
    return ",".join(rows)


def xgb_walk_sql(features_cte: str) -> str:
    """Recursive-CTE tree walk replaying :func:`_score_matrix` in DuckDB:
    every (patient, model, tree) state starts at the root and advances
    ``x < cond`` → left else right, exactly like the numpy lock-step
    traversal (feature values pass through the same float32 grid —
    ``CAST(CAST(v AS REAL) AS DOUBLE)`` — the Arrow batch applies).

    Float-determinism boundary: the 400-leaf margin sum and exp() are the
    two places engine bit-parity is NOT guaranteed (summation order /
    libm ulps), so probabilities are snapped to a 1e-5 grid on BOTH
    engines — emitted as BIGINT micro-units ``prob_*_e5 = round(p·1e5)``
    (~1e-13 residual vs the 1e-5 grid; integer cells survive any driver
    cell-rendering, unlike the r2 DECIMAL(18,5) output). Flags and bands
    compare the unrounded probability to .25/.5 in both engines.

    ``features_cte``: SQL for the raw 19-column feature table (the same
    text the ml_features oracle runs)."""
    p = sklearn_pipeline()
    mf = model_features()
    n_comp = len(p["pca"]["components"])
    znames = [f"z{j}" for j in range(n_comp)]
    zsel = ",\n  ".join(f"{e} AS {z}" for z, e in zip(znames, pca_sql_exprs()))
    med = dict(zip(p["feature_names"], p["imputer"]["statistics"]))
    arr_elems = []
    for n in mf:
        src = (
            "CAST(cluster AS DOUBLE)"
            if n == "cluster"
            else f"COALESCE(CAST({n} AS DOUBLE), {double_lit(med[n])})"
        )
        arr_elems.append(f"CAST(CAST({src} AS REAL) AS DOUBLE)")
    logits = [
        double_lit(math.log(b / (1.0 - b)))
        for b in (xgb_trees(d)[0] for d in DISEASES)
    ]
    prob_cols = []
    for mi, d in enumerate(DISEASES):
        pexpr = f"1.0/(1.0+exp(-(margin_{mi})))"
        prob_cols.append(
            f"CAST(round({pexpr} * 100000.0, 0) AS BIGINT) AS prob_{d}_e5,\n"
            f"  CAST({pexpr} >= 0.5 AS INT) AS flag_{d},\n"
            f"  CASE WHEN {pexpr} < 0.25 THEN 'Low'\n"
            f"       WHEN {pexpr} < 0.5 THEN 'Moderate'\n"
            f"       ELSE 'High' END AS risk_{d}"
        )
    return f"""
WITH RECURSIVE features AS ({features_cte}),
z AS (
  SELECT patient_id,
  {zsel}
  FROM features
),
clus AS (
  SELECT patient_id, {kmeans_sql_expr(znames)} AS cluster FROM z
),
fx AS (
  SELECT f.patient_id,
         [{", ".join(arr_elems)}] AS arr
  FROM features f JOIN clus USING (patient_id)
),
featlong AS (
  SELECT patient_id, i - 1 AS fidx, arr[i] AS val
  FROM fx, unnest(generate_series(1, {len(mf)})) AS t(i)
),
nodes(m, t, n, lf, rt, ft, cd) AS (VALUES {_xgb_node_values()}),
pids AS (SELECT DISTINCT patient_id FROM features),
w AS (
  SELECT p.patient_id, n.m, n.t, n.lf, n.rt, n.ft, n.cd
  FROM nodes n CROSS JOIN pids p WHERE n.n = 0
  UNION ALL
  SELECT w.patient_id, w.m, w.t, nx.lf, nx.rt, nx.ft, nx.cd
  FROM w
  JOIN featlong f ON f.patient_id = w.patient_id AND f.fidx = w.ft
  JOIN nodes nx ON nx.m = w.m AND nx.t = w.t
   AND nx.n = CASE WHEN f.val < w.cd THEN w.lf ELSE w.rt END
  WHERE w.lf <> -1
),
margins AS (
  SELECT patient_id, m,
         (CASE m WHEN 0 THEN {logits[0]} WHEN 1 THEN {logits[1]}
                 ELSE {logits[2]} END) + SUM(cd) AS margin
  FROM w WHERE lf = -1 GROUP BY patient_id, m
),
pm AS (
  SELECT patient_id,
         MAX(CASE WHEN m = 0 THEN margin END) AS margin_0,
         MAX(CASE WHEN m = 1 THEN margin END) AS margin_1,
         MAX(CASE WHEN m = 2 THEN margin END) AS margin_2
  FROM margins GROUP BY patient_id
)
SELECT pm.patient_id, clus.cluster,
  {",".join(prob_cols)}
FROM pm JOIN clus USING (patient_id)
"""
