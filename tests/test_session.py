"""Fixed per-op costs the session and the package remove: DataFrame
call-site capture on the driver and recompiling generated classes evicted
from a too-small codegen cache (``session.py``), and per-task zip
directory re-reads on the Python workers (the package ``__init__``)."""

from __future__ import annotations

import sys
import zipimport

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import py4j.java_gateway
import py4j.protocol
from pyspark.sql import functions as F

import healthcare_aws_data_engineering_spark as pkg
from healthcare_aws_data_engineering_spark.plans.testdata_queries import QUERIES

MEMORY_DELETE = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME


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


def _count_build_commands(monkeypatch, build) -> tuple[int, object]:
    """py4j commands one ``build()`` sends, memory deletes not counted
    (py4j sends one from a finalizer thread for every Python-side Java
    object the garbage collector frees), and its result."""
    sent = [0]
    send = py4j.java_gateway.GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(MEMORY_DELETE):
            sent[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command", counting)
    df = build()
    monkeypatch.undo()
    return sent[0], df


def test_wellness_build_py4j_traffic_is_bounded(spark, tmp_path, monkeypatch):
    """One build of wellness_monthly sends 7,500-8,200 py4j commands with
    call-site capture on and one withColumn call per column, about 2,200
    with capture off and one withColumns call per scoring layer.

    Memory-delete commands are not counted: py4j sends one for every
    Python-side Java object the garbage collector frees, from a finalizer
    thread, so their number during the build depends on what earlier
    tests left behind (about 2,000 more in some full runs)."""
    _tiny_events(str(tmp_path))
    build = QUERIES["wellness_monthly"]
    build(spark, str(tmp_path))  # caches the table schema
    sent, df = _count_build_commands(monkeypatch, lambda: build(spark, str(tmp_path)))
    assert sent < 3500, sent
    assert df.count() > 0


def test_ml_risk_scores_build_py4j_traffic_is_bounded(spark, tmp_path, monkeypatch):
    """One build of ml_risk_scores sends about 1,270 py4j commands with
    the z/cluster folds as 15 parsed Spark SQL expressions and 19 staged
    scale columns, about 1,020 with JVM imputation feeding one numpy UDF;
    the feature table is most of what remains."""
    _tiny_events(str(tmp_path))
    _tiny_customer(str(tmp_path))
    build = QUERIES["ml_risk_scores"]
    build(spark, str(tmp_path))  # caches the table schemas
    sent, df = _count_build_commands(monkeypatch, lambda: build(spark, str(tmp_path)))
    assert sent < 1150, sent
    assert df.count() > 0


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
