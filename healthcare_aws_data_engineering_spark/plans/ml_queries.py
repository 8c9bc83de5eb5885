"""Driver-facing ML queries (SURVEY §2.10 M1–M7) over the testdata.

- ``ml_features``   — M7 feature table (oracle-checked).
- ``ml_preprocess`` — M1–M4 impute→scale→PCA→cluster: JVM imputation,
  then one pandas UDF (``inference._pca_kmeans``) on the integer
  micro-unit grid. The oracle SQL is GENERATED from the same extracted
  parameters with the same operations in the same order
  (``inference.pca_sql_exprs`` / ``kmeans_sql_expr``), so per-row doubles
  match bit-for-bit: IEEE multiply, add and floor per term, then exact
  integer sums (no aggregation is involved — only per-row math).
- ``ml_risk_scores``— M5/M6 XGBoost probabilities + flags + bands; one
  pandas UDF computes the cluster (the same ``_pca_kmeans``) and scores
  the three boosters. The
  oracle is a GENERATED recursive-CTE tree walk over the inlined ~42k-node
  table of all three boosters (``inference.xgb_walk_sql``) — DuckDB
  replays the exact numpy lock-step traversal (float32 feature grid,
  margin + logit(base_score), sigmoid), with probabilities emitted as
  BIGINT micro-units ``prob_*_e5 = round(p·1e5)`` on both engines (the
  margin sum and exp() are the only non-bit-parity float ops; integer
  cells are immune to driver-side DECIMAL/float rendering differences).
  Independent ground truth against real xgboost remains pinned in
  ``test_xgb_golden.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..ml import inference as I
from ..ml.features import feature_table, feature_table_sql
from ..ml.params import sklearn_pipeline
from ..sources.tables import load_table


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return feature_table(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


def q_ml_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _features(spark, sf_dir)


def q_ml_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    return I.preprocess(_features(spark, sf_dir))


def q_ml_risk_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = I.predict_diseases(_features(spark, sf_dir))
    cols = [F.col("patient_id"), F.col("cluster")]
    for d in I.DISEASES:
        # 1e-5 grid as BIGINT micro-units (prob_*_e5 = round(p·1e5)): the
        # driver's value hash must survive the two engine-dependent float
        # ops (margin summation order, exp ulps) AND its cell rendering —
        # r2 showed DECIMAL cells hash differently on the driver than in
        # the local replica, so no DECIMAL/float leaves this query.
        # Flags/bands are computed on the unrounded probability upstream.
        cols += [
            F.round(F.col(f"prob_{d}") * 100000.0, 0)
            .cast("long")
            .alias(f"prob_{d}_e5"),
            F.col(f"flag_{d}"),
            F.col(f"risk_{d}"),
        ]
    return scored.select(*cols)


def _preprocess_sql() -> str:
    n_comp = len(sklearn_pipeline()["pca"]["components"])
    znames = [f"z{j}" for j in range(n_comp)]
    zsel = ",\n  ".join(
        f"{expr} AS {z}" for z, expr in zip(znames, I.pca_sql_exprs())
    )
    return f"""
WITH features AS ({feature_table_sql()}),
z AS (
  SELECT patient_id,
  {zsel}
  FROM features
)
SELECT patient_id, {', '.join(znames)},
  {I.kmeans_sql_expr(znames)} AS cluster
FROM z
"""


ML_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ml_features": q_ml_features,
    "ml_preprocess": q_ml_preprocess,
    "ml_risk_scores": q_ml_risk_scores,
}


def ml_oracle() -> dict[str, str]:
    return {
        "ml_features": feature_table_sql(),
        "ml_preprocess": _preprocess_sql(),
        "ml_risk_scores": I.xgb_walk_sql(feature_table_sql()),
    }


ML_ORACLE: dict[str, str] = ml_oracle()
