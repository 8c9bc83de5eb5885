"""SparkSession factory.

The reference delegates session construction to AWS Glue
(``Glue_tranformation_json_parquet.py:16-21``); here we own it. Defaults are
chosen for correctness at small scale and sane behavior at large scale:

- AQE on (runtime coalescing, skew-join splitting, auto broadcast demotion).
- ``spark.sql.shuffle.partitions`` sized for the local test harness; on a real
  cluster AQE coalesces from a high initial number, so leaving it larger is
  fine — pass ``shuffle_partitions`` explicitly.
- Arrow enabled for the few pandas_udf paths (XGBoost scoring, multimodal).
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``): left on, every
  ``Column`` function makes about five extra py4j round trips to record
  its Python call site for error messages, which nearly quadruples the driver's
  plan-building traffic. Error messages lose only that Python call site.
- Generated-code class cache at 1,000 entries
  (``spark.sql.codegen.cache.maxEntries``, Spark's default is 100): one
  pass of the batch jobs (FHIR ingest, graph_pagerank, vocab_topk) needs
  about 180 generated classes, so at 100 every op evicted the next op's
  classes and compiled its own again with Janino: 68 compiles per ingest
  op, 103-105 per graph_pagerank op and 11 per vocab_topk op, every pass.
  At 1,000 each class compiles once per JVM, and those ops compile none
  from the second pass on, except graph_pagerank's 2 and 6 in the
  second and third.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "healthcare-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # local-mode JVM heap: PySpark's 1g default OOMs array-heavy
        # bucket joins past ~10k vectors (scale-probe finding); only
        # honored by the FIRST session of the process.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Call-site capture wraps every Column function in ~5 extra py4j
        # round trips: one build of report_cvd sends 1,392 py4j commands
        # with it, 372 without. PySpark caches the flag process-wide at
        # the first Column call under an active session, so it must be
        # set here, before any plan is built, not with spark.conf.set.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache: Spark keeps 100 compiled classes, one pass
        # of the batch jobs needs about 180, so every op recompiled its
        # classes with Janino (68 compiles per ingest op, 103-105 per
        # graph_pagerank op, 0.45-0.75 s of Janino per op). At 1,000 each
        # class is compiled once per JVM. A static conf: CodeGenerator
        # reads it once per JVM, so it must be set here.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Timestamps in testdata are TIMESTAMP_NTZ-like micros; keep session
        # in UTC so Spark and the DuckDB oracle agree on rendered instants,
        # and read naive parquet timestamps as epoch instants (LTZ), not NTZ,
        # so epoch-math functions apply and both engines see the same int64.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
