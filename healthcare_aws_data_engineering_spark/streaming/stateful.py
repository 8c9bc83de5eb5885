"""Custom stateful streaming operator via ``applyInPandasWithState``.

EXTENSION, not reference parity (the reference is batch-only — SURVEY
§2.9): the reference's core access pattern, latest-lab-per-patient (W1,
``Athena_queries_for_reports.sql:8-9``), maintained INCREMENTALLY over an
events stream. Each patient's state holds the running latest
(value, ts, event_id) per tracked analyte plus a processed-event count;
every micro-batch emits the patient's refreshed row, so a downstream
consumer (report/scoring layer) always joins against current labs
without re-aggregating history.

Why custom state instead of a streaming ``max_by`` aggregate: the state
is a fixed-width struct per patient (bounded: analytes × 3 scalars), the
update is order-insensitive ((ts, id) lexicographic max against state,
so out-of-order and cross-batch arrivals converge to the batch answer),
and arbitrary enrichment (counts, staleness timestamps, change flags)
rides along — the shape `applyInPandasWithState` exists for.

Scale: state is keyed by patient and fixed-width → the state store grows
O(patients), not O(events); shuffle carries only (patient, batch rows).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stateful_latest_labs(
    events: DataFrame,
    analytes: Sequence[str],
    patient_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Running latest value per (patient, analyte) over a stream.

    Output (update mode): one row per patient per micro-batch touching
    them — ``(patient_id, n_events, <analyte> double ...)``; ``n_events``
    is monotone, so "state so far" = the row with the max ``n_events``
    per patient. Converges to the batch ``max_by((ts, id))`` pivot
    regardless of batch boundaries or arrival order (pinned by
    ``test_stateful_latest_equals_batch``)."""
    out_schema = ", ".join(
        ["patient_id long", "n_events long"] + [f"{a} double" for a in analytes]
    )
    state_schema = (
        "vals array<double>, tss array<long>, ids array<long>, n long"
    )

    def update(key, pdfs, state):
        # the body is a package function, so unpickling it in a Python
        # worker imports the package (and its zip-directory shim)
        return _update_latest(key, pdfs, state, analytes)

    prepared = events.select(
        F.col(patient_col).cast("long").alias("patient_id"),
        F.col(type_col).alias("__atype"),
        F.col(value_col).cast("double").alias("__val"),
        F.unix_micros(F.col(ts_col)).alias("__ts"),
        F.col(id_col).cast("long").alias("__id"),
    )
    return prepared.groupBy("patient_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _update_latest(
    key, pdfs: Iterator["pd.DataFrame"], state: GroupState, analytes
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    k = len(analytes)
    if state.exists:
        vals, tss, ids, n = state.get
        vals, tss, ids = list(vals), list(tss), list(ids)
    else:
        vals, tss, ids, n = [None] * k, [None] * k, [None] * k, 0
    for pdf in pdfs:
        n += len(pdf)
        for i, a in enumerate(analytes):
            sub = pdf[pdf["__atype"] == a]
            if sub.empty:
                continue
            row = sub.sort_values(["__ts", "__id"]).iloc[-1]
            cand = (int(row["__ts"]), int(row["__id"]))
            if tss[i] is None or cand > (tss[i], ids[i]):
                vals[i], tss[i], ids[i] = float(row["__val"]), *cand
    state.update((vals, tss, ids, n))
    out = {"patient_id": key[0], "n_events": n}
    out.update({a: vals[i] for i, a in enumerate(analytes)})
    yield pd.DataFrame([out])
