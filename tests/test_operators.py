from __future__ import annotations

from pyspark.sql import functions as F

from healthcare_aws_data_engineering_spark.operators.latest import (
    first_last_delta,
    latest_per_key,
)
from healthcare_aws_data_engineering_spark.operators.pivot import latest_pivot

EV_SCHEMA = "event_id long, user_id long, code string, v double, ts string"
ROWS = [
    (1, 1, "a", 10.0, "2024-01-01"),
    (2, 1, "a", 20.0, "2024-01-03"),
    (3, 1, "a", 15.0, "2024-01-02"),
    (4, 1, "b", 7.0, "2024-01-01"),
    (5, 2, "a", 1.0, "2024-01-05"),
    (6, 2, "a", 2.0, "2024-01-05"),  # ts tie with 5 → higher id wins
]


def test_latest_per_key_strategies_agree(spark):
    # max_by over (ts, event_id): the latest row wins, ts ties go to the
    # higher id.
    df = spark.createDataFrame(ROWS, EV_SCHEMA)
    out = latest_per_key(
        df,
        keys=["user_id", "code"],
        order_col="ts",
        value_cols=["v"],
        tiebreak="event_id",
    )
    got = {(r.user_id, r.code): r.v for r in out.collect()}
    assert got == {(1, "a"): 20.0, (1, "b"): 7.0, (2, "a"): 2.0}


def test_first_last_delta(spark):
    df = spark.createDataFrame(ROWS, EV_SCHEMA)
    out = {
        r.user_id: r.asDict()
        for r in first_last_delta(
            df.filter(F.col("code") == "a"),
            keys=["user_id"],
            order_col="ts",
            value_col="v",
            tiebreak="event_id",
        ).collect()
    }
    assert out[1]["first_value"] == 10.0
    assert out[1]["last_value"] == 20.0
    assert out[1]["delta"] == 10.0
    assert out[1]["slope_per_step"] == 5.0
    assert out[2]["first_value"] == 1.0  # tie broken by event_id
    assert out[2]["last_value"] == 2.0


def test_latest_pivot_mixed_types(spark):
    """Numeric and text legs keep their types; each leg takes its key's
    latest row (ties broken by id); a leg over several keys takes the
    greatest of each key's latest value, not the globally latest row."""
    df = spark.createDataFrame(
        [
            (1, 1, "k1", 5.0, "x", 2),
            (1, 2, "k1", 8.0, None, 1),
            (1, 3, "k2", None, "Pos", 1),
            (1, 4, "k2", None, "Zzz", 0),
            (1, 5, "k3", None, "Neg", 3),
            (2, 6, "k1", 9.0, None, 1),
            (2, 7, "k1", 4.0, None, 1),  # ts tie with id 6 → id 7 wins
        ],
        "pid long, id long, key string, num double, txt string, ts long",
    )
    out = latest_pivot(
        df,
        group="pid",
        key_col="key",
        legs={
            "n1": (["k1"], "num"),
            "t2": (["k2", "k3"], "lower(txt)"),
        },
        order=["ts", "id"],
    )
    rows = {r.pid: r for r in out.collect()}
    assert rows[1].n1 == 5.0 and rows[1].t2 == "pos"
    assert rows[2].n1 == 4.0 and rows[2].t2 is None
    assert dict(out.dtypes)["n1"] == "double"
    assert dict(out.dtypes)["t2"] == "string"


# ---------------------------------------------------------- semi_anti_join --
SF = "/root/testdata/sf0.001"


def test_semi_anti_join_partition(spark):
    """Every customer lands in exactly one class; counts match a python
    model; nations without customers report 0/0."""
    from healthcare_aws_data_engineering_spark.plans.testdata_queries import (
        q_semi_anti_join,
    )

    out = {r.n_name: r for r in q_semi_anti_join(spark, SF).collect()}
    import duckdb

    con = duckdb.connect()
    for t in ("customer", "orders", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    total = con.sql("SELECT COUNT(*) FROM customer").fetchone()[0]
    assert sum(r.n_buyers + r.n_idle for r in out.values()) == total
    n_nations = con.sql("SELECT COUNT(*) FROM nation").fetchone()[0]
    assert len(out) == n_nations


def test_semi_anti_join_uses_semi_and_anti(spark):
    from conftest import plan_string
    from healthcare_aws_data_engineering_spark.plans.testdata_queries import (
        q_semi_anti_join,
    )

    plan = plan_string(q_semi_anti_join(spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
