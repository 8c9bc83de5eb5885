"""Wide labs CSV source (SURVEY §2.1 S4; reference ``mrp_website.py:254-287``).

The reference app ingests an uploaded CSV with columns ``date``,
``patient_id`` and any subset of the 15 analyte columns, parses ``date``
with coercing semantics (bad strings → NaT) and, when the column is absent
entirely, synthesizes a monthly date series so trend/forecast still work.
This is the same contract, distributed:

- header CSV read (schema-adaptive: only columns present in the file
  materialize; the scoring layer NULL-fills absent analytes at plan time);
- ``F.to_timestamp`` ≙ ``pd.to_datetime(errors="coerce")`` — NULL on
  unparseable input, no job failure;
- absent ``date`` column → deterministic synthetic monthly dates per
  patient (row_number over patient partition, months since 2024-01-01 —
  the app's positional default, made order-stable by a sort key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.scoring import PENALTY_REFS

ANALYTES = list(PENALTY_REFS)


def read_labs_csv(
    spark: SparkSession,
    path: str,
    date_format: str | None = None,
) -> DataFrame:
    """Read a wide labs CSV into the scoring layer's input shape.

    Analyte columns are cast to double with try-cast semantics (bad cells
    → NULL, mirroring pandas' NaN coercion); extra columns pass through.
    """
    raw = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    cols = []
    for c in raw.columns:
        if c == "date":
            # try_to_timestamp ≙ pd.to_datetime(errors="coerce") — and keeps
            # working under ANSI mode, where to_timestamp throws on bad input
            ts = (
                F.try_to_timestamp(F.col(c), F.lit(date_format))
                if date_format
                else F.try_to_timestamp(F.col(c))
            )
            cols.append(ts.alias("date"))
        elif c in ANALYTES:
            cols.append(F.col(c).try_cast("double").alias(c))
        else:
            cols.append(F.col(c))
    out = raw.select(*cols)
    if "date" not in out.columns:
        out = with_synthetic_dates(out)
    return out


def with_synthetic_dates(labs: DataFrame) -> DataFrame:
    """Monthly synthetic dates per patient (the app's default when no date
    column was uploaded, ``mrp_website.py:282-287``): row k of a patient →
    2024-01-01 + k months. Deterministic via an all-column sort key."""
    others = [c for c in labs.columns if c != "patient_id"]
    w = W.partitionBy("patient_id").orderBy(
        *[F.col(c).asc_nulls_last() for c in others]
    )
    k = F.row_number().over(w) - 1
    return labs.withColumn(
        "date", F.to_timestamp(F.add_months(F.lit("2024-01-01").cast("date"), k))
    )
