"""Order-independent exact sum helpers shared by the driver-query
modules (neutral home — `testdata_queries` and `analytics_queries` both
need them, and a module-level import either way is circular).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _dsum(expr: str) -> str:
    """SQL fragment: order-independent exact sum of a per-row double expr.

    Scale 6 because every per-row expression here is a product of ≤3
    two-decimal factors — exactly representable at 6 decimals, and the double
    sits far closer to that 6-dp value than to any rounding midpoint, so both
    engines' double→decimal casts agree. (Higher scales run into the engines'
    differing shortest-repr vs exact-binary cast digits.)

    That midpoint clause is LOAD-BEARING, measured in
    tests/test_cross_engine_fuzz.py: on a TRUE grid tie (an odd multiple
    of 2^-7 — decimal expansion ends ...5 exactly at digit 7) Spark's
    cast is HALF_UP at every magnitude while DuckDB's cast switches
    rounding paths around |x| ≈ 100 (123456.0390625 → .039063 in Spark,
    .039062 in DuckDB; round(x, 6) agrees everywhere, ties included).
    So never feed a tie-ABLE expression (binary-fraction inputs like
    2^-k factors) to a bare decimal cast in an oracle — pre-round with
    round(expr, 6) on both sides, or keep inputs in this exact-decimal
    class. A canary test pins the divergence so a DuckDB behavior
    change resurfaces the audit.
    """
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,6))) AS DOUBLE)"


def dsum(col: F.Column) -> F.Column:
    """Spark twin of :func:`_dsum`."""
    return F.sum(col.cast("decimal(28,6)")).cast("double")


def floordiv(x: str, y: int) -> str:
    """Spark SQL fragment: exact BIGINT floor division ``x // y`` (y > 0).

    Spark's ``DIV`` truncates toward zero; DuckDB's ``//`` floors. For a
    negative dividend that is not an exact multiple (e.g. a pre-1970
    epoch-millis timestamp bucketed into days) the two diverge by one
    bucket. The CASE term converts truncation into floor while staying
    in the exact-integer domain (Spark ``%`` carries the dividend sign).
    """
    return f"((({x}) DIV {y}) - (CASE WHEN ({x}) % {y} < 0 THEN 1 ELSE 0 END))"
