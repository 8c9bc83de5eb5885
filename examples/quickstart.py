"""Quickstart: the engine as a library, no driver contract required.

Two modes, picked by what the input directory contains:

**Testdata mode** (directory has the driver's ``events.parquet``
layout, e.g. ``/root/testdata/sf0.01``) — runs the three flagship
production paths end-to-end:

1. the cardiovascular-risk report (latest-per-key pivot + CASE banding —
   the reference's Athena report, Athena_queries_for_reports.sql:3-76);
2. monthly wellness scoring (penalty binning → weighted subscores →
   wellness + trend inputs — mrp_website.py's scoring stack);
3. ML disease risk scores (impute → scale → PCA → KMeans → 3 fused
   XGBoost boosters; everything after the impute runs in one numpy pass
   inside a pandas UDF, the same code the oracle-checked query runs).

**Parquet-path mode** (any other directory, or a single ``.parquet``
file) — bring your own observations. The input must satisfy the
4-column contract (``sources.tables.OBSERVATION_CONTRACT``)::

    patient_id          any id type   grouping key
    code_display        string        analyte name (pivot key)
    value_quantity      numeric(ish)  measured value
    effective_datetime  timestamp     measurement time

Optional: ``observation_id`` (synthesized deterministically when
absent), ``value_string``. The demo pivots latest-per-patient values
for whatever analytes the CVD report knows (``plans.reports.CVD_KEYS``
code_display names) and prints the banded report; pass your own
``name → code_display`` mapping to ``cvd_report`` for other panels.

Run from the repo root:

    python examples/quickstart.py [dir]     # default /root/testdata/sf0.01
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from healthcare_aws_data_engineering_spark.ml.features import feature_table
from healthcare_aws_data_engineering_spark.ml.inference import predict_diseases
from healthcare_aws_data_engineering_spark.plans.reports import CVD_KEYS, cvd_report
from healthcare_aws_data_engineering_spark.plans.testdata_queries import (
    EVENTS_CVD_KEYS,
    _monthly_labs,
    _obs,
)
from healthcare_aws_data_engineering_spark.plans.wellness import score_rows
from healthcare_aws_data_engineering_spark.session import get_spark
from healthcare_aws_data_engineering_spark.sources.tables import (
    load_observations,
    load_table,
)

from pyspark.sql import DataFrame, SparkSession, functions as F


def run_testdata_demo(spark: SparkSession, sf_dir: str) -> None:
    """The three flagship paths over the driver's testdata layout."""
    # 1. CVD report: observations view -> latest-per-(patient, analyte)
    #    pivot -> clinical CASE bands.
    report = cvd_report(_obs(spark, sf_dir), keys=EVENTS_CVD_KEYS)
    print("\n== cardiovascular risk report (first 5 patients) ==")
    report.orderBy("patient").show(5, truncate=False)

    # 2. Monthly wellness: last lab value per (patient, month, analyte)
    #    -> penalty bins -> weighted disease subscores -> wellness score.
    labs = _monthly_labs(spark, sf_dir)
    wellness = score_rows(labs.withColumn("date", F.col("month").cast("timestamp")))
    print("== monthly wellness (first 5 rows) ==")
    wellness.select(
        "patient_id", "month", "wellness", "label_cardiovascular"
    ).orderBy("patient_id", "month").show(5, truncate=False)

    # 3. ML risk scores.
    features = feature_table(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )
    scores = predict_diseases(features)
    print("== XGBoost disease risk (first 5 patients) ==")
    scores.select(
        "patient_id", "cluster", "prob_cvd", "risk_cvd", "prob_ckd", "risk_ckd"
    ).orderBy("patient_id").show(5, truncate=False)


def run_observation_demo(
    spark: SparkSession,
    path: str,
    keys: dict[str, str] = CVD_KEYS,
    show: bool = True,
) -> DataFrame:
    """Parquet-path mode: CVD report over user-supplied observation
    parquet (4-column contract, see module docstring). Returns the
    report DataFrame so callers (and the pytest) can assert on it."""
    obs = load_observations(spark, path)
    report = cvd_report(obs, keys=keys)
    if show:
        print("\n== cardiovascular risk report (first 5 patients) ==")
        report.orderBy("patient").show(5, truncate=False)
        counts = report.groupBy("overall_cvd_risk").count().orderBy("count")
        print("== risk-band counts ==")
        counts.show(truncate=False)
    return report


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("quickstart")
    spark.sparkContext.setLogLevel("ERROR")
    if os.path.exists(os.path.join(path, "events.parquet")):
        run_testdata_demo(spark, path)
    else:
        run_observation_demo(spark, path)
    spark.stop()


if __name__ == "__main__":
    main()
