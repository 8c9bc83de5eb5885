"""Severity-ranked lab selection (SURVEY §2.6 O3; reference
``test.py:528-552``): given per-(patient, analyte) latest values with
reference ranges, band each value (F14), rank by severity
(High/Low → 0, Borderline → 1, In range → 2, Unknown → 3), keep every
row with severity rank < 2 — abnormal AND borderline together, exactly
``abnormal_df = lab_summary_df[severity_rank < 2]`` at test.py:541 —
and return at most ``k`` per patient, worst first. In range / Unknown
rows never surface. (The reference's "fall back to borderline" branch
at test.py:545-549 is dead code: if the rank<2 set is empty, the
rank==1 set is a subset of it and is empty too; we mirror the effective
semantics, not the dead branch.)

Distributed shape: banding is a projection, the keep-filter is a plain
predicate (no per-patient window needed), top-k is row_number ≤ k over
one patient-partitioned window. One shuffle total, no driver-side loops
(the reference does this in pandas for one patient at a time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..functions.banding import case_ladder, range_status_with_margins
from ..functions.sqltext import lit

SEVERITY_RANK = {
    "High": 0,
    "Low": 0,
    "Borderline high": 1,
    "Borderline low": 1,
    "In range": 2,
    "Unknown": 3,
}


def severity_rank(status: str) -> str:
    """Status → severity rank (test.py:528-533's mapping; first-match CASE
    so the oracle twin is a plain CASE expression)."""
    return case_ladder(
        [(f"{status} = {lit(s)}", lit(r)) for s, r in SEVERITY_RANK.items()], lit(3)
    )


SEVERITY_TOP_K = 3  # labs shown per patient


def severity_topk(labs: DataFrame, ranges: dict[str, tuple[float, float]]) -> DataFrame:
    """The :data:`SEVERITY_TOP_K` most severe labs per patient.

    ``ranges``: analyte → (low, high) reference interval; analytes absent
    from the map band as Unknown (rank 3) and never surface — only
    severity < 2 rows (High/Low/Borderline) are kept, per test.py:541."""
    status = case_ladder(
        [
            (f"analyte = {lit(analyte)}", range_status_with_margins("value", lo, hi))
            for analyte, (lo, hi) in ranges.items()
        ],
        lit("Unknown"),
    )

    df = labs.withColumn("status", F.expr(status)).withColumn(
        "severity", F.expr(severity_rank("status"))
    )
    # test.py:541: abnormal AND borderline together (severity < 2);
    # In range / Unknown rows are never selected
    kept = df.filter(F.col("severity") < 2)
    order = W.partitionBy("patient_id").orderBy(
        F.col("severity").asc(), F.col("analyte").asc()
    )
    return (
        kept.withColumn("rank", F.row_number().over(order))
        .filter(F.col("rank") <= SEVERITY_TOP_K)
    )
