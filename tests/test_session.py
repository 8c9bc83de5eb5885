"""Fixed per-op costs the session and the package remove: DataFrame
call-site capture on the driver and recompiling generated classes evicted
from a too-small codegen cache (``session.py``), and per-task zip
directory re-reads on the Python workers (the package ``__init__``)."""

from __future__ import annotations

import importlib.util
import sys
import zipimport
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import healthcare_aws_data_engineering_spark as pkg
from healthcare_aws_data_engineering_spark.plans.testdata_queries import QUERIES

_spec = importlib.util.spec_from_file_location(
    "tools_profile_queries", Path(__file__).resolve().parents[1] / "tools" / "profile_queries.py"
)
profile_queries = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(profile_queries)


def test_session_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_codegen_cache_holds_a_batch_working_set(spark):
    """150 distinct projections generate about 300 classes, more than
    Spark's default 100-entry cache holds: at that size the second sweep
    compiles all of them again, at 1,000 it compiles none."""
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )

    def sweep() -> None:
        for i in range(150):
            spark.range(8).select((F.col("id") * 7 + i).alias("v")).collect()

    sweep()
    before = compiles.getCount()
    sweep()
    assert compiles.getCount() == before


def _tiny_events(path: str) -> None:
    n = 200
    kinds = ["click", "view", "signup", "purchase", "error"]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [1_704_067_200_000_000 + i * 3_600_000_000 * 7 for i in range(n)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([i % 9 for i in range(n)], pa.int64()),
                "event_type": [kinds[i % 5] for i in range(n)],
                "value": [float(50 + (i * 37) % 200) for i in range(n)],
                "props": ['{"k": 0}'] * n,
            }
        ),
        f"{path}/events.parquet",
    )


def _tiny_customer(path: str) -> None:
    n = 9
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(n), pa.int64()),
                "c_name": [f"c{i}" for i in range(n)],
                "c_nationkey": pa.array([i % 3 for i in range(n)], pa.int32()),
                "c_acctbal": [float(i) for i in range(n)],
                "c_mktsegment": ["A"] * n,
            }
        ),
        f"{path}/customer.parquet",
    )


def _build_commands(spark, path: str, name: str) -> int:
    """py4j commands one build of the registry row ``name`` sends over
    the tiny inputs, memory deletes not counted (py4j sends one from a
    finalizer thread for every Python-side Java object the garbage
    collector frees, so their number depends on what earlier tests left
    behind: about 2,000 more in some full runs)."""
    _tiny_events(path)
    _tiny_customer(path)
    build = QUERIES[name]
    build(spark, path)  # caches the table schemas
    sent, df = profile_queries.build_commands(lambda: build(spark, path))
    assert df.count() > 0
    return sent


def test_wellness_build_py4j_traffic_is_bounded(spark, tmp_path):
    """One build of wellness_monthly sends 7,500-8,200 py4j commands with
    call-site capture on and one withColumn call per column, about 2,200
    with capture off and one withColumns call per scoring layer, and
    127 with each scoring layer one selectExpr of SQL text."""
    sent = _build_commands(spark, str(tmp_path), "wellness_monthly")
    assert sent < 150, sent


def test_ml_risk_scores_build_py4j_traffic_is_bounded(spark, tmp_path):
    """One build of ml_risk_scores sends about 1,270 py4j commands with
    the z/cluster folds as 15 parsed Spark SQL expressions and 19 staged
    scale columns, about 1,020 with JVM imputation feeding one numpy UDF,
    and 342 with the feature table, imputation, flags and bands as
    SQL text: the feature table sends about 100 and the scoring UDF's
    call over 19 columns about 100."""
    sent = _build_commands(spark, str(tmp_path), "ml_risk_scores")
    assert sent < 375, sent


@pytest.mark.parametrize(
    ("name", "bound"),
    [("report_cvd", 110), ("report_prediabetes", 110), ("disease_confidence", 135)],
)
def test_clinical_row_build_py4j_traffic_is_bounded(spark, tmp_path, name, bound):
    """The report and confidence rows send 370-480 py4j commands per build
    with one Column call per expression node, 92-118 with each projection
    and aggregate layer built from SQL text."""
    sent = _build_commands(spark, str(tmp_path), name)
    assert sent < bound, sent


def test_ml_risk_scores_runs_one_python_node(spark, tmp_path):
    """Impute is JVM column math; scale, PCA, k-means and the three
    boosters all run in ONE Arrow-batched Python node of the executed
    plan (AQE's final plan, not the initial one it also prints)."""
    _tiny_events(str(tmp_path))
    _tiny_customer(str(tmp_path))
    df = QUERIES["ml_risk_scores"](spark, str(tmp_path))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().finalPhysicalPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_worker_shim_keeps_zip_directories_driver_untouched(spark):
    @F.pandas_udf("boolean")
    def shim_installed(ids: pd.Series) -> pd.Series:
        import zipimport

        import healthcare_aws_data_engineering_spark as pkg

        shimmed = zipimport.zipimporter.invalidate_caches is pkg._keep_zip_directories
        return pd.Series([shimmed] * len(ids))

    rows = (
        spark.range(0, 8, numPartitions=4)
        .select(shim_installed("id").alias("shimmed"))
        .collect()
    )
    assert len(rows) == 8
    assert all(r.shimmed == (sys.version_info < (3, 13)) for r in rows)
    assert zipimport.zipimporter.invalidate_caches is not pkg._keep_zip_directories
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
