"""CASE-ladder builders for clinical banding (SURVEY §2.8 F9/F14/F15).

Order of legs is semantics — first match wins, NULL checks first
(``Athena_queries_for_reports.sql:36-74, 117-151``; SURVEY §7.4.3). The
builders return Spark SQL text (literals from :mod:`.sqltext`), which
the plans apply with ``selectExpr``: plain CASE expressions that stay
inside whole-stage codegen, no UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from .sqltext import lit


def case_ladder(legs: Sequence[tuple[str, str]], otherwise: str | None = None) -> str:
    """``CASE WHEN c1 THEN v1 WHEN c2 THEN v2 ... [ELSE o] END`` from SQL
    text conditions and values, preserving leg order exactly."""
    if not legs:
        raise ValueError("case_ladder needs at least one leg")
    whens = " ".join(f"WHEN {cond} THEN {value}" for cond, value in legs)
    tail = "" if otherwise is None else f" ELSE {otherwise}"
    return f"CASE {whens}{tail} END"


def risk_prob_band(prob: str) -> str:
    """``<0.25`` → Low, ``<0.5`` → Moderate, else High
    (``test.py:157-163``, F15)."""
    return case_ladder(
        [(f"{prob} < {lit(0.25)}", lit("Low")), (f"{prob} < {lit(0.5)}", lit("Moderate"))],
        otherwise=lit("High"),
    )


def range_status_with_margins(value: str, low: float, high: float) -> str:
    """5-way range status with 10%/20% margins (``test.py:166-183``, F14):
    ``<0.9*low`` Low, ``<low`` Borderline low, ``<=high`` In range,
    ``<=1.2*high`` Borderline high, else High; NULL → Unknown."""
    return case_ladder(
        [
            (f"{value} IS NULL", lit("Unknown")),
            (f"{value} < {lit(0.9 * low)}", lit("Low")),
            (f"{value} < {lit(low)}", lit("Borderline low")),
            (f"{value} <= {lit(high)}", lit("In range")),
            (f"{value} <= {lit(1.2 * high)}", lit("Borderline high")),
        ],
        otherwise=lit("High"),
    )
