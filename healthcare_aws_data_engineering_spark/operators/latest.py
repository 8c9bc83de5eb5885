"""Latest-per-key operators (SURVEY §2.5 W1–W3).

Reference pattern: ``ROW_NUMBER() OVER (PARTITION BY patient_id, code_display
ORDER BY effective_datetime DESC) ... WHERE rn = 1``
(``Athena_queries_for_reports.sql:8-9,29`` and ``:86-89,110``) and the pandas
"sort desc, iloc[0]" argmax (``test.py:282-291``).

Physical form: ``groupBy(keys).agg(max_by(value, struct(order,
tiebreak)))``. Hash aggregate with map-side partial aggregation — ONE
shuffle of partially-reduced rows. At 100 TB this is the plan you want: no
per-partition sort, no carrying every row through a window. The struct
ordering key makes tie-breaking deterministic.

Tie-breaking: the reference's ROW_NUMBER breaks ties arbitrarily (SURVEY
§7.4.5). We stabilize with ``tiebreak`` (e.g. the row id) so Spark and any
SQL oracle agree bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.sqltext import isin
from .pivot import latest_leg


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_cols: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """One row per ``keys`` holding the ``value_cols`` of the row with the
    greatest ``(order_col, tiebreak)``; output columns = keys + value_cols +
    order_col."""
    order_key: list[Column] = [F.col(order_col)]
    if tiebreak:
        order_key.append(F.col(tiebreak))
    ord_struct = F.struct(*order_key)
    aggs = [
        F.max_by(F.col(c), ord_struct).alias(c) for c in value_cols
    ] + [F.max(F.col(order_col)).alias(order_col)]
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


# test.py:133-141 — the display-name sets the app probes for vitals
HEIGHT_NAMES = ("Body height", "Body height (measured)")
WEIGHT_NAMES = ("Body weight", "Body weight (measured)")


def height_weight(
    obs: DataFrame,
    height_names: Sequence[str] = HEIGHT_NAMES,
    weight_names: Sequence[str] = WEIGHT_NAMES,
) -> DataFrame:
    """Latest height and weight per patient (reference
    ``get_height_weight``, test.py:265-293: filter ``code_display`` by the
    HEIGHT_NAMES/WEIGHT_NAMES sets at :133-141, sort by
    ``effective_datetime`` desc, take the first row — undated rows sort
    LAST, mirrored here by the leading ``isNotNull`` struct field; ties
    stabilized on ``observation_id``).

    The reference fetches one patient at a time in pandas; this is the
    distributed form — ONE hash aggregate over all patients (conditional
    ``max_by`` legs share the shuffle; no window sort, map-side partials).

    ``bmi`` (extension — the reference displays height/weight only,
    test.py:454-464): ``weight_kg / (height_cm/100)²`` when both present."""
    is_h = isin("code_display", height_names)
    is_w = isin("code_display", weight_names)
    order = [
        "CAST(effective_datetime IS NOT NULL AS INT)",
        "effective_datetime",
        "observation_id",
    ]
    hm = F.col("height_cm") / 100.0
    return (
        obs.filter(f"{is_h} OR {is_w}")
        .groupBy(F.col("patient_id"))
        .agg(
            F.expr(f"{latest_leg(is_h, 'value_quantity', order)} AS height_cm"),
            F.expr(f"{latest_leg(is_w, 'value_quantity', order)} AS weight_kg"),
        )
        .withColumn(
            "bmi",
            F.when(
                (F.col("height_cm") > 0) & F.col("weight_kg").isNotNull(),
                F.col("weight_kg") / (hm * hm),
            ),
        )
    )


def first_last_delta(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per key: first value, last value, delta last-first, and per-step slope
    ``(last-first)/(n-1)`` (reference trend math, ``test.py:669-675``,
    ``mrp_website.py:534-541``).

    Implemented as ``min_by``/``max_by`` hash aggregation (one shuffle with
    partial aggregation) rather than a window — same scale argument as
    :func:`latest_per_key`.
    """
    order_key = [F.col(order_col)] + ([F.col(tiebreak)] if tiebreak else [])
    ord_struct = F.struct(*order_key)
    n = F.count(F.when(F.col(value_col).isNotNull(), 1))
    first_v = F.min_by(F.col(value_col), ord_struct)
    last_v = F.max_by(F.col(value_col), ord_struct)
    return df.filter(F.col(value_col).isNotNull()).groupBy(
        *[F.col(k) for k in keys]
    ).agg(
        first_v.alias("first_value"),
        last_v.alias("last_value"),
        (last_v - first_v).alias("delta"),
        F.when(n > 1, (last_v - first_v) / (n - 1)).alias("slope_per_step"),
        n.alias("n_points"),
    )
