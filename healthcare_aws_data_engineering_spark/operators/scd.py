"""Slowly-changing-dimension (SCD type 2) history builder and a
k-anonymity audit — curated-zone maintenance operators.

Extensions beyond the reference (its curated zone is append-only
Parquet, `Glue_tranformation_json_parquet.py:186-199`): SCD2 is how a
lakehouse keeps dimension history queryable ("what was this patient's
segment on date X"), and k-anonymity is the minimum privacy audit before
publishing grouped healthcare extracts.

Scale design: both are single-shuffle operators — SCD2 is one window
over the key (LEAD on version start), k-anonymity is one hash agg over
the quasi-identifier columns with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

# Open-interval sentinel: 9999-01-01T00:00:00Z in epoch millis. A
# sentinel, not NULL, so interval cells stay BIGINT end to end (no
# engine-specific NULL rendering near the driver's value hash).
SCD_OPEN_MS = 253_370_764_800_000

# k of the k-anonymity audit: 10 keeps the violation set non-empty from
# sf0.001 up (min group size at sf0.01 is 5) — a vacuously-empty privacy
# audit checks nothing.
K_ANON = 10


def scd2_history(versions: DataFrame, key_cols: list[str]) -> DataFrame:
    """Build the SCD2 validity table from a stream of versioned rows:
    each key's versions are ordered by ``effective_ms`` and every version is
    valid from its own timestamp until the next version's (the latest
    version closes at :data:`SCD_OPEN_MS`).

    One window over the key — LEAD(valid_from) — is the whole operator;
    ``is_current`` marks the open row. Ties on (key, ts) are broken by
    the full remaining column set deterministically upstream: callers
    must ensure (key, ts) is unique (true for snapshot+updates merges).
    """
    w = W.partitionBy(*key_cols).orderBy(F.col("effective_ms").asc())
    return (
        versions.withColumn("valid_from", F.col("effective_ms").cast("long"))
        .withColumn(
            "valid_to",
            F.coalesce(
                F.lead("valid_from").over(w), F.lit(SCD_OPEN_MS)
            ).cast("long"),
        )
        .withColumn(
            "is_current",
            F.when(F.col("valid_to") == SCD_OPEN_MS, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("effective_ms")
    )


def k_anonymity(df: DataFrame, qi_cols: list[str]) -> DataFrame:
    """Quasi-identifier groups violating k-anonymity: every combination
    of ``qi_cols`` values shared by FEWER than :data:`K_ANON` rows, with its
    count — the rows a privacy-safe extract must suppress or generalize.

    One hash agg (map-side combine) + a filter; at 100 TB the QI
    cardinality, not the row count, bounds the result."""
    return (
        df.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).alias("group_n"))
        .filter(F.col("group_n") < K_ANON)
    )
