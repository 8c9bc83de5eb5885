"""Skew-mitigation operators: salted forms must be result-identical to
their naive counterparts and must actually spread the hot key."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from healthcare_aws_data_engineering_spark.operators.skew import salted_agg


def _skewed(spark, hot_rows=5000, cold_keys=20):
    rows = [Row(k="hot", v=float(i % 97)) for i in range(hot_rows)]
    rows += [Row(k=f"c{j}", v=float(j)) for j in range(cold_keys)]
    return spark.createDataFrame(rows).repartition(8)


def test_salted_agg_matches_naive(spark):
    df = _skewed(spark)
    aggs = {
        "n": (F.count(F.lit(1)), F.sum("n")),
        "s": (F.sum("v"), F.sum("s")),
        "mx": (F.max("v"), F.max("mx")),
        "mn": (F.min("v"), F.min("mn")),
    }
    got = {r.k: (r.n, r.s, r.mx, r.mn) for r in salted_agg(df, ["k"], aggs).collect()}
    exp = {
        r.k: (r.n, r.s, r.mx, r.mn)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.max("v").alias("mx"),
            F.min("v").alias("mn"),
        )
        .collect()
    }
    assert got == exp
    assert got["hot"][0] == 5000


def test_salted_agg_spreads_hot_key(spark):
    """Stage-1 output must contain multiple partial rows for the hot key."""
    df = _skewed(spark)
    salted = df.withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(F.col("k"), F.monotonically_increasing_id()), F.lit(16)
        ),
    )
    n_partials = (
        salted.groupBy("k", "__salt").count().filter("k = 'hot'").count()
    )
    assert n_partials > 8  # hot key spread over most of the 16 salt buckets
