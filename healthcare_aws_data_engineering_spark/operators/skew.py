"""Skew-mitigation operators for hot keys at cluster scale.

A groupBy/join on a key where one value holds a large fraction of all rows
(a "hot key") sends that whole key to ONE reducer — the classic long-tail
straggler at 100 TB.

- :func:`salted_agg` — two-stage aggregation, result-identical to the
  naive form: shuffle once on (key, salt) spreading the hot key over N
  reducers, combine partials, then a second (tiny) shuffle on key merges
  the N partials. Works for any algebraic aggregate (sum/count/min/max +
  anything with a merge expression).
- :func:`skew_audit` — the pre-shuffle hot-key report.

Note AQE (``spark.sql.adaptive.skewJoin``) already splits skewed JOIN
partitions at runtime; salting is the explicit, planner-independent form,
and the only option for skewed AGGREGATES.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

_SALT = "__salt"


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, Column]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs``: output name → (partial_agg_expr, merge_agg_expr), where the
    partial expression aggregates raw rows and the merge expression
    combines partials (referencing the output name), e.g.::

        salted_agg(df, ["k"], {
            "n":   (F.count(F.lit(1)), F.sum("n")),
            "s":   (F.sum("v"),        F.sum("s")),
            "mx":  (F.max("v"),        F.max("mx")),
        })

    Stage 1 groups on (keys..., salt) — the hot key spreads over
    ``salt_buckets`` reducers; stage 2 groups the ≤ salt_buckets partial
    rows per key. Identical results to ``df.groupBy(keys).agg(...)`` for
    algebraic aggregates."""
    salted = df.withColumn(
        _SALT, F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*keys, _SALT).agg(
        *[expr.alias(name) for name, (expr, _) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[merge.alias(name) for name, (_, merge) in aggs.items()]
    )


def skew_audit(df: DataFrame, key_col: str, top_k: int = 5) -> DataFrame:
    """Pre-shuffle key-distribution audit: the check you run BEFORE
    pointing a groupBy/join at a 100 TB table. Reports the ``top_k``
    hottest key values with their row counts, corpus share, skew factor
    (count ÷ mean-per-key — 1.0 means uniform) and the salt fan-out
    :func:`salted_agg` would need to level that key.

    Shape: one map-side-combining count by key (the same shuffle the
    audited operation would pay, on slim rows), a global TakeOrdered
    top-k on it, and a 1-row totals aggregate crossed back in-plan. The
    totals leg re-executes the count lineage — in production persist
    ``df.groupBy(key).count()`` once and audit the parquet; here the
    audit IS the one-shot. Never collects the key space to the driver.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = counts.agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    # cnt cast to double BEFORE the multiply: cnt * n_keys as long*long
    # overflows int64 at ~1e10 rows x ~1e9 keys — exactly the scale the
    # audit targets.
    sk = (
        F.col("cnt").cast("double")
        * F.col("n_keys")
        / F.col("n_rows").cast("double")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            "n_rows",
            "n_keys",
            F.round(F.lit(1e6) * F.col("cnt") / F.col("n_rows").cast("double"))
            .cast("long")
            .alias("share_e6"),
            # BIGINT micro-unit grid (not round(double, 6)): doubles never
            # cross the oracle boundary, per the repo-wide grid recipe.
            F.round(F.lit(1e6) * sk).cast("long").alias("skew_e6"),
            F.ceil(sk).cast("int").alias("salt_rec"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top_k)
    )


def skew_audit_sql(table: str, key_col: str, top_k: int = 5) -> str:
    """DuckDB oracle twin of :func:`skew_audit` (same constants)."""
    return f"""
WITH counts AS (
  SELECT CAST({key_col} AS VARCHAR) AS key, COUNT(*) AS cnt
  FROM {table} GROUP BY 1
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys FROM counts)
SELECT key, cnt, t.n_rows, t.n_keys,
  CAST(round(1000000.0 * cnt / CAST(t.n_rows AS DOUBLE)) AS BIGINT) AS share_e6,
  CAST(round(1000000.0 * (CAST(cnt AS DOUBLE) * t.n_keys / CAST(t.n_rows AS DOUBLE)))
       AS BIGINT) AS skew_e6,
  CAST(ceil(CAST(cnt AS DOUBLE) * t.n_keys / CAST(t.n_rows AS DOUBLE)) AS INT) AS salt_rec
FROM counts, tot t
ORDER BY cnt DESC, key ASC
LIMIT {top_k}
"""
