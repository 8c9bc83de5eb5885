"""``tools/explain_all.py`` prints plans that diff cleanly between
checkouts: session-global counters are renumbered per query, so building
the same query twice prints the same text."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from test_session import _tiny_events

from healthcare_aws_data_engineering_spark.plans.testdata_queries import QUERIES
from healthcare_aws_data_engineering_spark.plans.warehouse_queries import PROFILE_COLS

_spec = importlib.util.spec_from_file_location(
    "tools_explain_all", Path(__file__).resolve().parents[1] / "tools" / "explain_all.py"
)
explain_all = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(explain_all)


def test_normalize_renumbers_by_first_appearance():
    plan = (
        "a#17, b#9, a#17 lambda x_52#3 lambda x_61 [plan_id=40] [plan_id=7]"
        " MapPartitionsRDD[95] at localCheckpoint, RDD[12], RDD[95]"
        " AS _common_expr_8#20, _common_expr_4#21, _common_expr_8#20"
    )
    assert explain_all.normalize(plan) == (
        "a#0, b#1, a#0 lambda x#2 lambda x [plan_id=0] [plan_id=1]"
        " MapPartitionsRDD[0] at localCheckpoint, RDD[1], RDD[0]"
        " AS _common_expr_0#3, _common_expr_1#4, _common_expr_0#3"
    )


def test_normalize_maps_both_lambda_forms_to_one_text():
    """A lambda written as SQL text (``x -> …``) and one built by PySpark
    (``x_45``) print the same normalized plan."""
    assert explain_all.normalize("lambda x#12, lambda acc_3#13") == explain_all.normalize(
        "lambda x_45#12, lambda acc#13"
    )


def test_two_builds_print_identical_plans(spark, tmp_path):
    _tiny_events(str(tmp_path))
    build = QUERIES["wellness_monthly"]
    first, second = build(spark, str(tmp_path)), build(spark, str(tmp_path))
    raw = [df._jdf.queryExecution().toString() for df in (first, second)]
    assert raw[0] != raw[1]  # fresh expression ids and lambda variables
    assert explain_all.plan_text(first) == explain_all.plan_text(second)


def test_two_builds_of_profile_columns_print_identical_plans(spark, tmp_path):
    """profile_columns' plan names Catalyst's common subexpressions
    ``_common_expr_N`` from a session-global counter."""
    pq.write_table(
        pa.table({c: [1.0, 2.0, None] for c in PROFILE_COLS}), f"{tmp_path}/lineitem.parquet"
    )
    build = QUERIES["profile_columns"]
    first, second = (build(spark, str(tmp_path)) for _ in range(2))
    assert explain_all.plan_text(first) == explain_all.plan_text(second)
