from __future__ import annotations

import pytest

from healthcare_aws_data_engineering_spark.functions.banding import (
    case_ladder,
    range_status_with_margins,
    risk_prob_band,
)


def _eval(spark, expr, values, schema="v double"):
    df = spark.createDataFrame([(v,) for v in values], schema)
    return [r.out for r in df.selectExpr(f"{expr} AS out").collect()]


def test_case_ladder_first_match_wins(spark):
    expr = case_ladder(
        [("v < 10", "'small'"), ("v < 20", "'medium'")],
        otherwise="'big'",
    )
    assert _eval(spark, expr, [5.0, 15.0, 25.0]) == ["small", "medium", "big"]


def test_case_ladder_no_otherwise_yields_null(spark):
    expr = case_ladder([("v < 10", "'small'")])
    assert _eval(spark, expr, [50.0]) == [None]


def test_case_ladder_empty_raises():
    with pytest.raises(ValueError):
        case_ladder([])


def test_risk_prob_band(spark):
    expr = risk_prob_band("v")
    assert _eval(spark, expr, [0.0, 0.249, 0.25, 0.49, 0.5, 0.9]) == [
        "Low",
        "Low",
        "Moderate",
        "Moderate",
        "High",
        "High",
    ]


def test_range_status_with_margins(spark):
    # reference semantics test.py:166-183 with low=10, high=20
    expr = range_status_with_margins("v", 10.0, 20.0)
    assert _eval(spark, expr, [None, 8.9, 9.5, 10.0, 20.0, 23.9, 24.1]) == [
        "Unknown",
        "Low",
        "Borderline low",
        "In range",
        "In range",
        "Borderline high",
        "High",
    ]
