"""Property-based tests (hypothesis) for the rule-scoring layer: the
Spark SQL expressions must satisfy the reference app's invariants for
ARBITRARY lab inputs, not just the fixtures. Each hypothesis example
evaluates one batched DataFrame (one Spark job per example; examples kept
small so the suite stays fast).
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row

from healthcare_aws_data_engineering_spark.functions.banding import (
    range_status_with_margins,
)
from healthcare_aws_data_engineering_spark.functions.scoring import (
    DISEASE_WEIGHTS,
    PENALTY_REFS,
    WELLNESS_WEIGHTS,
    disease_penalty_columns,
    penalty,
    subscore_from_penalties,
    wellness,
)

ANALYTES = list(PENALTY_REFS)

lab_value = st.one_of(
    st.none(),
    st.floats(min_value=-10.0, max_value=500.0, allow_nan=False),
)

lab_row = st.fixed_dictionaries({a: lab_value for a in ANALYTES})

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


_SCHEMA = "rid int, " + ", ".join(f"`{a}` double" for a in ANALYTES)


def _subscore(disease, cols):
    """The subscore exactly as ``wellness.score_rows`` composes it."""
    return subscore_from_penalties(disease, disease_penalty_columns(disease, cols))


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(rid=i, **{a: r[a] for a in ANALYTES}) for i, r in enumerate(rows)],
        schema=_SCHEMA,
    )


@given(rows=st.lists(lab_row, min_size=1, max_size=8))
@SETTINGS
def test_penalty_bounds_and_null(spark, rows):
    """Penalty ∈ {0,1,2,3}; NULL value → 0 (never NULL, never out of range)."""
    df = _df(spark, rows)
    out = df.selectExpr(
        "rid", *[f"{penalty(a, f'`{a}`')} AS p_{a}" for a in ANALYTES]
    ).collect()
    for r in out:
        for a in ANALYTES:
            p = r[f"p_{a}"]
            assert p in (0, 1, 2, 3), (a, p)
    # null input row → all penalties 0
    nulls = _df(spark, [{a: None for a in ANALYTES}])
    rn = nulls.selectExpr(
        *[f"{penalty(a, f'`{a}`')} AS p_{a}" for a in ANALYTES]
    ).collect()[0]
    assert all(rn[f"p_{a}"] == 0 for a in ANALYTES)


@given(rows=st.lists(lab_row, min_size=1, max_size=8))
@SETTINGS
def test_subscore_range_and_presence(spark, rows):
    """Subscore ∈ [0,100] when any weighted analyte is present; NULL when
    none are."""
    df = _df(spark, rows)
    cols = {a: f"`{a}`" for a in ANALYTES}
    out = df.selectExpr(
        "rid",
        *[
            f"{_subscore(d, cols)} AS s_{d}"
            for d in DISEASE_WEIGHTS
        ],
    ).collect()
    for i, r in enumerate(out):
        for d, weights in DISEASE_WEIGHTS.items():
            s = r[f"s_{d}"]
            any_present = any(rows[r.rid][a] is not None for a in weights)
            if any_present:
                assert s is not None and 0.0 <= s <= 100.0, (d, s)
            else:
                assert s is None, (d, s)


@given(rows=st.lists(lab_row, min_size=1, max_size=6))
@SETTINGS
def test_wellness_is_convex_combination(spark, rows):
    """Wellness = weighted mean of present subscores → lies within their
    [min, max]; confidence equals the present weight mass."""
    df = _df(spark, rows)
    cols = {a: f"`{a}`" for a in ANALYTES}
    subs = {d: f"({_subscore(d, cols)})" for d in DISEASE_WEIGHTS}
    w, conf, used = wellness(subs)
    out = df.selectExpr(
        "rid",
        f"{w} AS w",
        f"{conf} AS conf",
        f"{used} AS used",
        *[f"{subs[d]} AS s_{d}" for d in DISEASE_WEIGHTS],
    ).collect()
    for r in out:
        present = [r[f"s_{d}"] for d in DISEASE_WEIGHTS if r[f"s_{d}"] is not None]
        if present:
            assert r.w is not None
            assert min(present) - 1e-9 <= r.w <= max(present) + 1e-9
            exp_conf = sum(
                WELLNESS_WEIGHTS[d]
                for d in DISEASE_WEIGHTS
                if r[f"s_{d}"] is not None
            )
            assert math.isclose(r.conf, exp_conf, abs_tol=1e-9)
            assert r.used == len(present)
        else:
            assert r.w is None and r.conf == 0.0 and r.used == 0


@given(
    values=st.lists(
        st.one_of(st.none(), st.floats(-100, 1000, allow_nan=False)),
        min_size=1,
        max_size=12,
    ),
    low=st.floats(1, 100, allow_nan=False),
    spread=st.floats(1, 100, allow_nan=False),
)
@SETTINGS
def test_range_status_partition(spark, values, low, spread):
    """Every value lands in exactly one band, bands are ordered, and the
    band boundaries honor the 10%/20% margins."""
    high = low + spread
    df = spark.createDataFrame(
        [Row(rid=i, v=v) for i, v in enumerate(values)], schema="rid int, v double"
    )
    out = df.selectExpr(
        "rid", "v", f"{range_status_with_margins('v', low, high)} AS s"
    ).collect()
    for r in out:
        if r.v is None:
            assert r.s == "Unknown"
        elif r.v < 0.9 * low:
            assert r.s == "Low"
        elif r.v < low:
            assert r.s == "Borderline low"
        elif r.v <= high:
            assert r.s == "In range"
        elif r.v <= 1.2 * high:
            assert r.s == "Borderline high"
        else:
            assert r.s == "High"
