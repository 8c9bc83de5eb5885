"""Latest-value conditional pivot (SURVEY §2.4 A2 + §2.5 W1).

Reference: ``Athena_queries_for_reports.sql:17-31, 98-112`` — ROW_NUMBER
latest row per (patient, analyte), then MAX(CASE WHEN key=k THEN expr END),
one output column per analyte, numeric and text legs mixed in one GROUP BY.

The composition "latest row per (group, key), then MAX over the single
surviving row" is exactly ``max_by(value, order) FILTER (WHERE key = k)``
per output column, so the window collapses into the pivot's aggregate:
one hash aggregate with map-side partial aggregation — one shuffle
regardless of how many output columns (a join-per-analyte alternative
would be K shuffles, the window form shuffles every qualifying row).

We deliberately do NOT use ``DataFrame.pivot``: the reference mixes
``TRY_CAST(... AS DOUBLE)`` legs with ``LOWER(TRIM(text))`` legs in one pivot
(SURVEY §7.4.4), and per-column agg expressions preserve each leg's type
exactly.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

from ..functions.sqltext import lit


def latest_leg(cond: str, value: str, order: Sequence[str]) -> str:
    """argmax(value by struct(order)) restricted to rows matching ``cond``,
    as Spark SQL text.

    ``max_by`` ignores rows whose ordering expression is NULL, so gating the
    ordering struct with the same condition restricts the argmax to the
    matching rows without a separate filter/window.
    """
    return (
        f"max_by(CASE WHEN {cond} THEN {value} END,"
        f" CASE WHEN {cond} THEN struct({', '.join(order)}) END)"
    )


def latest_pivot(
    df: DataFrame,
    group: str,
    key_col: str,
    legs: Mapping[str, tuple[Sequence[object], str]],
    order: Sequence[str],
) -> DataFrame:
    """One hash aggregate: per ``group``, per leg, the value expression of
    the latest (greatest ``order``) row whose ``key_col`` matches. The
    group, value and order expressions are Spark SQL text.

    ``legs`` maps output name → (key list, value expression). A leg over
    several keys takes the greatest of each key's latest value, as the
    reference's MAX() over per-analyte latest rows does (urine glucose,
    ``Athena_queries_for_reports.sql:106-108``) — NOT the globally-latest
    row. Callers filter ``df`` to the keys they pivot.
    """
    aggs = []
    for out_name, (keys, value) in legs.items():
        per_key = [latest_leg(f"{key_col} = {lit(k)}", value, order) for k in keys]
        leg = per_key[0] if len(per_key) == 1 else f"greatest({', '.join(per_key)})"
        aggs.append(F.expr(f"{leg} AS {out_name}"))
    return df.groupBy(F.expr(group)).agg(*aggs)
