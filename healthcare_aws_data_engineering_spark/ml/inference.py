"""Fitted-parameter inference as Spark expressions (SURVEY §2.10).

Stages (reference ``test.py:324-343`` inference chain, artifacts decoded
by ``tools/extract_ml_params.py``):

- M1 median impute   → ``F.coalesce(col, lit(median_i))`` (stored medians,
  NOT a refit ``pyspark.ml.feature.Imputer``)
- M2 standardize     → ``(x - mean_i) / scale_i`` column math
- M3 PCA 19→14       → 14 dot-product expressions ``Σ c_ji (x_i - m_i)``
- M4 KMeans assign   → argmin of 4 squared distances (array + array_position)
- M5 XGB scoring ×3  → Arrow-vectorized pandas UDF; trees loaded
  per-executor from package params (no joblib/xgboost dependency: the
  boosters are traversed directly with numpy)
- M6 threshold/band  → ``F.when`` ladder (``functions.banding.risk_prob_band``,
  test.py:157-163)

Everything before M5 is pure JVM column math inside whole-stage codegen —
no Python in the hot path; M5 transfers one Arrow batch per partition.

Scale note: per-row affine math scales embarrassingly; the UDF is the only
Python stage and is O(trees × depth) per row with no shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.banding import risk_prob_band
from .params import DISEASES, model_features, sklearn_pipeline, xgb_trees

THRESHOLD = 0.5


# ------------------------------------------------------------------ M1+M2 --
def impute_expr(name: str, median: float) -> Column:
    return F.coalesce(F.col(name).cast("double"), F.lit(float(median)))


def imputed_columns() -> dict[str, Column]:
    p = sklearn_pipeline()
    return {
        n: impute_expr(n, m)
        for n, m in zip(p["feature_names"], p["imputer"]["statistics"])
    }


# -------------------------------------------------------------------- M3 --
# DECIMAL(18,6): exact sums like the old 28,6, but precision ≤ 18 keeps
# Spark's Decimal on its compact-long fast path (28 → per-op BigDecimal,
# measured ~2x slower per-row math). Range: z-score-scale terms ≤ ~10²,
# vastly inside ±10^12. The chained + widens (18,6)+(18,6)→(19,6)→…→
# (37,6) ≤ 38 in BOTH engines with no precision loss, so results stay
# bit-identical without per-add cast-backs.
_DEC = "DECIMAL(18,6)"


def _f(x: float) -> str:
    """Shortest round-trip float literal, forced onto the DOUBLE parse
    path in BOTH engines via an exponent suffix. Without it, DuckDB
    parses a bare 16-digit literal as DECIMAL and its DECIMAL→DOUBLE
    conversion is not correctly rounded — e.g. bare 0.9700000286102295
    lands one ulp high (…96), which flipped an XGB split for feature
    values exactly AT the split (x < cond false where numpy said false…
    DuckDB's off-by-one-ulp cond said true) — caught at sf0.1 as a
    35-micro-unit probability jump. `…e0` parses as DOUBLE (correctly
    rounded strtod) in Spark and DuckDB alike; scientific reprs already
    carry an exponent and pass through."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s) else s + "e0"


def _fold_sql(terms: list[str], parity: bool = True) -> str:
    """Order-independent exact fold of per-row double term strings: each
    TERM is bit-identical across engines (same scalar expression), but a
    chained double ADDITION is not (engines may vectorize/reassociate the
    fold), so terms are cast to DECIMAL and summed exactly. The SAME string
    is parsed by Spark (F.expr) and DuckDB — textual identity is the parity
    argument. Building expressions as one parsed string also avoids ~1,600
    py4j round-trips per query (~3 s of plan-build).

    ``parity=False`` is the PRODUCTION fast path: plain double adds
    (~2× cheaper per-row math — no per-term decimal conversion). The
    result differs from the parity fold only by the grid itself — the
    parity path rounds every term to 1e-6, so a 19-term fold can move by
    ~1e-5 (pinned by
    ``test_ml_inference.py::test_fast_path_matches_parity``; cluster ids
    and downstream XGBoost probabilities are unaffected). Use it when no
    cross-engine hash must match — i.e. everywhere except the oracle
    gate."""
    if not parity:
        return f"({' + '.join(terms)})"
    cast_terms = [f"CAST({t} AS {_DEC})" for t in terms]
    return f"CAST({' + '.join(cast_terms)} AS DOUBLE)"


def scaled_sql(name: str, med: float, mu: float, s: float) -> str:
    return (
        f"((COALESCE(CAST({name} AS DOUBLE), {_f(med)}) - {_f(mu)}) / {_f(s)})"
    )


def _scaled_sql_map() -> dict[str, str]:
    p = sklearn_pipeline()
    return {
        n: scaled_sql(n, med, mu, s)
        for n, med, mu, s in zip(
            p["feature_names"],
            p["imputer"]["statistics"],
            p["scaler"]["mean"],
            p["scaler"]["scale"],
        )
    }


def pca_sql_exprs(
    scaled: dict[str, str] | None = None, parity: bool = True
) -> list[str]:
    """z_j = Σ_i components[j][i] * (scaled_i - pca_mean_i), j = 0..13, as
    engine-neutral SQL text (decimal-folded, see :func:`_fold_sql`).

    ``scaled`` maps feature name → SQL snippet; pass staged column names
    (see :func:`preprocess`) to keep the parsed tree small — inlining the
    impute+scale expression into every one of the 14x19 terms blows the
    codegen unit up ~20x (seconds of Janino compile time per query)."""
    p = sklearn_pipeline()
    scaled = scaled or _scaled_sql_map()
    mean = p["pca"]["mean"]
    names = p["feature_names"]
    out = []
    for row in p["pca"]["components"]:
        terms = [
            f"{_f(c)} * ({scaled[n]} - {_f(mean[i])})"
            for i, (n, c) in enumerate(zip(names, row))
        ]
        out.append(_fold_sql(terms, parity))
    return out


def pca_columns(
    scaled: dict[str, str] | None = None, parity: bool = True
) -> list[Column]:
    """Spark columns for the PCA projection — F.expr over the same strings
    the DuckDB oracle runs (``parity=False`` → plain-double production
    fold, see :func:`_fold_sql`)."""
    return [
        F.expr(e).alias(f"z{j}")
        for j, e in enumerate(pca_sql_exprs(scaled, parity))
    ]


# -------------------------------------------------------------------- M4 --
def kmeans_sql_expr(
    z_names: list[str], engine: str = "duckdb", parity: bool = True
) -> str:
    """argmin_j ‖z − center_j‖² as SQL text; ties break to the LOWER center
    index (first-match position). Distance folds are engine-identical; only
    the array/position function NAMES differ per dialect."""
    centers = sklearn_pipeline()["kmeans"]["centers"]
    dists = []
    for c in centers:
        terms = [
            f"({z} - {_f(cj)}) * ({z} - {_f(cj)})"
            for z, cj in zip(z_names, c)
        ]
        dists.append(f"({_fold_sql(terms, parity)})")
    if engine == "spark":
        arr = f"array({', '.join(dists)})"
        return (
            f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)"
        )
    arr = f"[{', '.join(dists)}]"
    return f"CAST(list_position({arr}, list_min({arr})) - 1 AS INT)"


def kmeans_cluster_expr(z_cols: list[str], parity: bool = True) -> Column:
    return F.expr(kmeans_sql_expr(z_cols, engine="spark", parity=parity))


# -------------------------------------------------------------------- M5 --
def _sigmoid(x):
    import numpy as np

    return 1.0 / (1.0 + np.exp(-x))


def _stacked_booster(disease: str):
    """Booster compiled to ONE flat node table: all trees' nodes
    concatenated (per-tree root offsets recorded), with leaves rewritten
    to SELF-LOOP (left=right=own index) so every (row, tree) walker can
    advance a fixed ``depth`` times with no per-tree active-mask logic.
    Turns scoring into ~depth × 6 numpy ops on an (n_rows × n_trees)
    matrix instead of ~n_trees × depth × 8 ops on small arrays — the
    per-call overhead of the latter dominated at Arrow batch sizes."""
    import numpy as np

    base_score, trees = xgb_trees(disease)
    L, R, Fi, C, D, roots = [], [], [], [], [], []
    off, depth = 0, 0
    for left, right, feat, cond, dleft in trees:
        m = len(left)
        ar = np.arange(m, dtype=np.int32)
        leaf = left == -1
        L.append(np.where(leaf, ar, left).astype(np.int32) + off)
        R.append(np.where(leaf, ar, right).astype(np.int32) + off)
        Fi.append(np.where(leaf, 0, feat).astype(np.int32))
        C.append(cond)
        D.append(dleft)
        roots.append(off)
        off += m
        # tree depth by BFS (root row can need `depth` advances)
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
        np.concatenate(L),
        np.concatenate(R),
        np.concatenate(Fi),
        np.concatenate(C),
        np.concatenate(D),
        np.asarray(roots, dtype=np.int32),
        depth,
    )


_STACKED_CACHE: dict[str, tuple] = {}


def _score_matrix(X, disease: str):
    """Vectorized booster traversal: every (row, tree) pair advances down
    the stacked node table in lock-step (missing → default_left; x < cond
    → left; leaves self-loop). Matches xgboost's binary:logistic margin
    accumulation + base_score; ``cond`` holds the leaf weight at leaves."""
    import numpy as np

    if disease not in _STACKED_CACHE:
        _STACKED_CACHE[disease] = _stacked_booster(disease)
    base_margin, L, R, Fi, C, D, roots, depth = _STACKED_CACHE[disease]
    n = X.shape[0]
    idx = np.broadcast_to(roots, (n, len(roots))).copy()
    for _ in range(depth):
        f = Fi[idx]
        x = np.take_along_axis(X, f, axis=1)
        go_left = np.where(np.isnan(x), D[idx], x < C[idx])
        idx = np.where(go_left, L[idx], R[idx])
    margin = base_margin + C[idx].astype(np.float64).sum(axis=1)
    return _sigmoid(margin)


def xgb_probabilities_all(feature_cols: list[str]) -> Column:
    """All three boosters in ONE pandas UDF → struct<cvd,anemia,ckd>.
    One Arrow batch transfer and one feature-matrix build instead of
    three — the production scoring path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    fields = ", ".join(f"{d} double" for d in DISEASES)

    @pandas_udf(f"struct<{fields}>")
    def score(*cols):
        import numpy as np

        X = np.column_stack([c.to_numpy(dtype=np.float32) for c in cols])
        return pd.DataFrame({d: _score_matrix(X, d) for d in DISEASES})

    return score(*[F.col(c) for c in feature_cols])


# ------------------------------------------------------------ composition --
def _z_cluster(
    features: DataFrame, id_col: str, carried: dict[str, Column], parity: bool
) -> DataFrame:
    """id + ``carried`` columns + 14 PCA components + cluster id.

    Impute+scale is staged as real columns (__s_<name>) first, so each of
    the 14 z-expressions references a cheap attribute instead of
    re-inlining the scale expression 19× (CollapseProject keeps non-cheap
    exprs used more than once staged)."""
    p = sklearn_pipeline()
    smap = _scaled_sql_map()
    staged = features.select(
        F.col(id_col),
        *[c.alias(n) for n, c in carried.items()],
        *[F.expr(smap[n]).alias(f"__s_{n}") for n in p["feature_names"]],
    )
    refs = {n: f"__s_{n}" for n in p["feature_names"]}
    z = staged.select(
        F.col(id_col), *[F.col(n) for n in carried], *pca_columns(refs, parity)
    )
    znames = [f"z{j}" for j in range(len(p["pca"]["components"]))]
    return z.withColumn("cluster", kmeans_cluster_expr(znames, parity))


def preprocess(features: DataFrame, parity: bool = True) -> DataFrame:
    """features (19 raw columns, nulls allowed) → 14 PCA components +
    cluster id. Two projection stages (scaled → z+cluster), all JVM column
    math; the z / distance folds parse from the same SQL text the DuckDB
    oracle executes.

    ``parity=False`` swaps the exact DECIMAL(18,6) folds for plain double
    sums — the production path when no cross-engine hash must match
    (~2× cheaper per-row math; ~1e-5 z drift from the grid, pinned by
    test)."""
    return _z_cluster(features, "patient_id", {}, parity)


def predict_diseases(features: DataFrame, parity: bool = True) -> DataFrame:
    """Full M1→M6 chain as ONE linear flow (no self-join): imputed model
    inputs ride along through the z/cluster stages, then the fused
    3-booster UDF scores once.

    The scoring input is repartitioned to the session's default
    parallelism: the 1200-tree UDF is orders of magnitude more expensive
    per byte than the shuffle heuristics assume, so AQE would otherwise
    coalesce a small feature table to ONE partition and serialize the
    scoring.

    ``parity=False``: production fast path — plain-double z/cluster
    folds instead of the exact DECIMAL(18,6) oracle grid (see
    :func:`_fold_sql`); the XGBoost stage is identical either way (its
    features are the raw imputed values plus the cluster id)."""
    mf = model_features()  # includes 'cluster'
    imput = imputed_columns()
    carried = {n: imput[n] for n in mf if n != "cluster"}
    scored_in = (
        _z_cluster(features, "patient_id", carried, parity)
        .select("patient_id", "cluster", *[F.col(n) for n in carried])
        .repartition(
            features.sparkSession.sparkContext.defaultParallelism, F.col("patient_id")
        )
    )
    out = scored_in.withColumn("__p", xgb_probabilities_all(mf))
    cols = [F.col("patient_id"), F.col("cluster")]
    for d in DISEASES:
        p = F.col("__p")[d]
        cols += [
            p.alias(f"prob_{d}"),
            (p >= THRESHOLD).cast("int").alias(f"flag_{d}"),
            risk_prob_band(p).alias(f"risk_{d}"),
        ]
    return out.select(*cols)


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
                    f"({mi},{ti},{n},{left[n]},{right[n]},{feat[n]},{_f(cond[n])})"
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
            else f"COALESCE(CAST({n} AS DOUBLE), {_f(med[n])})"
        )
        arr_elems.append(f"CAST(CAST({src} AS REAL) AS DOUBLE)")
    logits = [
        _f(math.log(b / (1.0 - b)))
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
