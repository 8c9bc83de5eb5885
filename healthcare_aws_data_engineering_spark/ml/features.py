"""Feature-table builder (SURVEY §2.10 M7): one row per patient with the
19 preprocessing features — the inferred ``build_feature_table_for_bundle``
of the reference (``test.py:326``; names locked by imputer.joblib's
``feature_names_in_``).

Composition = W1 + A2 (:func:`..operators.pivot.latest_pivot`: latest
value per key, tie-broken by row id, pivoted) + F22/F23 (sex/age). Over the driver's testdata the *observation*
analog is the events table and demographics come from ``customer``:

- five event types → five lab features (documented mapping below);
  the other 12 labs are absent → NULL → stored-median imputation (M1),
  so the full 19-feature chain is exercised end-to-end;
- ``age``/``sex`` are deterministic functions of the customer key
  (synthetic stand-ins for birth_date/gender, SQL-expressible so the
  DuckDB oracle can replay them).

Scale: one shuffle for the latest-per-key aggregate (map-side partial
``max_by``); the demographics join shuffles only the customer side onto
the aggregate's existing ``patient_id`` partitioning (no broadcast hint —
neither side is bounded; AQE may adaptively broadcast when small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.sqltext import isin
from ..operators.pivot import latest_pivot
from .params import feature_names

# event_type → feature-column mapping (the events→labs analog, FIXTURES.md §5)
EVENTS_ML_KEYS: dict[str, str] = {
    "glucose_latest": "click",
    "hdl_latest": "view",
    "triglycerides_latest": "purchase",
    "cholesterol_total_latest": "signup",
    "creatinine_latest": "error",
}


def demographics(customer: DataFrame) -> DataFrame:
    """Synthetic-but-deterministic age/sex from the customer dim:
    age = 20 + custkey % 60, sex = custkey % 2 (M=1/F=0 per test.py:250-258)."""
    return customer.selectExpr(
        "c_custkey AS patient_id",
        "CAST(20 + c_custkey % 60 AS DOUBLE) AS age",
        "CAST(c_custkey % 2 AS DOUBLE) AS sex",
    )


def feature_table(events: DataFrame, customer: DataFrame) -> DataFrame:
    """All 19 canonical feature columns in fitted order; labs without an
    events analog are NULL (imputed downstream).

    Join strategy: NO broadcast hint. Both sides are keyed by patient and
    grow with the user population (customer rows ≈ patients, labs is a
    per-patient aggregate), so pinning either as the broadcast side is a
    driver/executor OOM at 100 TB. The labs aggregate already exits its
    groupBy hash-partitioned on ``patient_id``, so a shuffle join reuses
    that exchange and only the demo side shuffles; AQE may still demote
    to broadcast at runtime when a side is genuinely small — that choice
    is adaptive and safe, an explicit hint is not."""
    labs = latest_pivot(
        events.filter(isin("event_type", EVENTS_ML_KEYS.values())),
        "user_id AS patient_id",
        "event_type",
        {feat: ([ev], "value") for feat, ev in EVENTS_ML_KEYS.items()},
        ["ts", "event_id"],
    )
    demo = demographics(customer)
    joined = demo.join(labs, "patient_id", "left")
    present = {"age", "sex", *EVENTS_ML_KEYS}
    return joined.selectExpr(
        "patient_id",
        *[f"CAST({n if n in present else 'NULL'} AS DOUBLE) AS {n}" for n in feature_names()],
    )


def feature_table_sql() -> str:
    """DuckDB oracle twin of :func:`feature_table` (same tie-breaks)."""
    pivot_cols = ",\n    ".join(
        f"MAX(CASE WHEN event_type = '{ev}' AND rn = 1 THEN value END) AS {feat}"
        for feat, ev in EVENTS_ML_KEYS.items()
    )
    select_cols = []
    for n in feature_names():
        if n == "age":
            select_cols.append(
                "CAST(20 + c_custkey % 60 AS DOUBLE) AS age"
            )
        elif n == "sex":
            select_cols.append("CAST(c_custkey % 2 AS DOUBLE) AS sex")
        elif n in EVENTS_ML_KEYS:
            select_cols.append(f"CAST({n} AS DOUBLE) AS {n}")
        else:
            select_cols.append(f"CAST(NULL AS DOUBLE) AS {n}")
    sel = ",\n  ".join(select_cols)
    types = ", ".join(f"'{v}'" for v in EVENTS_ML_KEYS.values())
    return f"""
WITH ranked AS (
  SELECT user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE event_type IN ({types})
), labs AS (
  SELECT user_id AS patient_id,
    {pivot_cols}
  FROM ranked GROUP BY user_id
)
SELECT c.c_custkey AS patient_id,
  {sel}
FROM customer c LEFT JOIN labs l ON l.patient_id = c.c_custkey
"""
