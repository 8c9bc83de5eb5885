"""Rule-based scoring layer (SURVEY §2.8 F10–F13, §2.4 A7/A8).

Parity targets in ``mrp_website.py``:
- penalty bins REFS            :30-55
- disease weights              :58-64
- wellness weights             :67-73
- ``penalty_for_value``        :169-181
- ``subscore_from_penalties``  :184-204
- ``wellness_score``           :207-225
- ``detect_patterns``          :231-248
- ``overall_label_for_disease``:379-411
- ``confidence_for_disease``   :415-423

All rebuilt as pure Column expressions (whole-stage codegen; zero Python
UDFs, per SURVEY §2.11): the app's per-row Python becomes a single
projection over a wide labs DataFrame with one row per (patient, date).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

INF = math.inf

# Penalty bins: value in [bins[i], bins[i+1]) → penalties[i]
# (mrp_website.py:30-55; clinical threshold constants, restated verbatim
# because they ARE the semantics).
PENALTY_REFS: dict[str, tuple[list[float], list[int]]] = {
    "LDL": ([0, 100, 130, 160, INF], [0, 1, 2, 3]),
    "HDL": ([0, 40, 60, INF], [3, 0, 0]),
    "Triglycerides": ([0, 150, 200, INF], [0, 2, 3]),
    "TotalChol": ([0, 200, 240, INF], [0, 2, 3]),
    "A1c": ([0, 5.7, 6.5, INF], [0, 2, 3]),
    "GlucoseBlood": ([0, 100, 126, INF], [0, 2, 3]),
    "eGFR": ([0, 15, 45, 60, 90, INF], [3, 2, 2, 1, 0]),
    "Creatinine": ([0, 0.6, 1.3, INF], [1, 0, 2]),
    "BUN": ([0, 7, 20, INF], [1, 0, 1]),
    "Hemoglobin": ([0, 12.0, 16.5, INF], [2, 0, 2]),
    "Hematocrit": ([0, 36.0, 49.0, INF], [2, 0, 2]),
    "ALT": ([0, 40, INF], [0, 2]),
    "AST": ([0, 40, INF], [0, 2]),
    "Bilirubin": ([0, 1.2, INF], [0, 2]),
    "Albumin": ([0, 3.5, 5.0, INF], [2, 0, 1]),
}

# Disease → analyte weights (mrp_website.py:58-64; sum to 1 per disease).
DISEASE_WEIGHTS: dict[str, dict[str, float]] = {
    "Cardiovascular": {"LDL": 0.40, "HDL": 0.20, "Triglycerides": 0.20, "TotalChol": 0.20},
    "Prediabetes": {"A1c": 0.60, "GlucoseBlood": 0.40},
    "CKD": {"eGFR": 0.60, "Creatinine": 0.25, "BUN": 0.15},
    "Anemia": {"Hemoglobin": 0.6, "Hematocrit": 0.4},
    "Liver": {"ALT": 0.30, "AST": 0.30, "Bilirubin": 0.25, "Albumin": 0.15},
}

# Global disease weights for Wellness (mrp_website.py:67-73).
WELLNESS_WEIGHTS: dict[str, float] = {
    "Cardiovascular": 0.25,
    "Prediabetes": 0.25,
    "CKD": 0.20,
    "Liver": 0.15,
    "Anemia": 0.15,
}

MAX_PENALTY = 3.0


def penalty(analyte: str, value: Column) -> Column:
    """Penalty 0–3 from the ordered bin edges (``penalty_for_value``,
    mrp_website.py:169-181): first edge the value is below wins; NULL → 0."""
    if analyte not in PENALTY_REFS:
        return F.lit(0)
    bins, pens = PENALTY_REFS[analyte]
    expr = F.when(value.isNull(), F.lit(0))
    for i in range(len(bins) - 2):
        expr = expr.when(value < bins[i + 1], F.lit(int(pens[i])))
    return expr.otherwise(F.lit(int(pens[-1])))


def disease_penalty_columns(disease: str, cols: dict[str, Column]) -> dict[str, Column]:
    """Per-analyte penalty columns for a disease; NULL (not 0) when the
    analyte value is absent — mirrors the ``pens`` dict only containing
    present analytes (mrp_website.py:192-199). ``cols`` maps analyte name →
    Column; an analyte missing from it is absent."""
    out = {}
    for analyte in DISEASE_WEIGHTS[disease]:
        v = cols.get(analyte, F.lit(None).cast("double"))
        out[analyte] = F.when(v.isNotNull(), penalty(analyte, v))
    return out


def subscore_from_penalties(disease: str, pens: dict[str, Column]) -> Column:
    """Subscore 0–100 (mrp_website.py:184-204):
    ``100 − Σ pᵢwᵢ · 100/3`` over *present* analytes, clamped to [0,100];
    NULL when nothing is present.

    ``pens`` are the NULL-when-absent penalty columns of
    :func:`disease_penalty_columns` (``pens[a] IS NULL ⟺ value absent``,
    so coalesce/isNotNull reproduce the presence gating). Staging them
    lets a plan that needs penalties, subscore AND label evaluate each
    penalty CASE ladder exactly once (Catalyst CSE does not reach into
    when/otherwise branches; see the r5 text_stats note in BASELINE.md)."""
    weights = DISEASE_WEIGHTS[disease]
    weighted = sum(
        (
            F.coalesce(pens[a].cast("double") * F.lit(w), F.lit(0.0))
            for a, w in weights.items()
        ),
        F.lit(0.0),
    )
    total_w = sum(
        (
            F.when(pens[a].isNotNull(), F.lit(w)).otherwise(F.lit(0.0))
            for a, w in weights.items()
        ),
        F.lit(0.0),
    )
    # NOTE: the reference does NOT renormalize by present weight mass here —
    # ``weighted`` is divided by the fixed max penalty only (:201-203); the
    # renormalization happens at the wellness level. total_w>0 only gates
    # the NULL case.
    sub = F.lit(100.0) - weighted * F.lit(100.0 / MAX_PENALTY)
    clamped = F.greatest(F.lit(0.0), F.least(F.lit(100.0), sub))
    return F.when(total_w > 0, clamped)


def wellness(subscores: dict[str, Column]) -> tuple[Column, Column, Column]:
    """(wellness, confidence, n_used) — ``wellness_score``
    (mrp_website.py:207-225): weighted mean over present subscores,
    renormalized by the present wellness-weight mass; confidence IS that
    mass; NULL wellness when nothing is present."""
    num = F.lit(0.0)
    den = F.lit(0.0)
    used = F.lit(0)
    for disease, w in WELLNESS_WEIGHTS.items():
        s = subscores[disease]
        present = s.isNotNull()
        num = num + F.when(present, s * F.lit(w)).otherwise(F.lit(0.0))
        den = den + F.when(present, F.lit(w)).otherwise(F.lit(0.0))
        used = used + present.cast("int")
    return (F.when(den > 0, num / den), den, used)


def detect_patterns(cols: dict[str, Column] | None = None) -> Column:
    """Array of matched evidence-pattern tags (``detect_patterns``,
    mrp_website.py:231-248); both-present guards preserved."""
    c = (lambda name: (cols or {}).get(name, F.col(name)))
    ldl, hdl = c("LDL"), c("HDL")
    a1c, glu = c("A1c"), c("GlucoseBlood")
    egfr, creat = c("eGFR"), c("Creatinine")
    hgb = c("Hemoglobin")
    tags = [
        F.when(
            ldl.isNotNull() & hdl.isNotNull()
            & ((ldl >= 160) | ((ldl >= 130) & (hdl < 40))),
            F.lit("high_ldl_low_hdl"),
        ),
        F.when(
            a1c.isNotNull() & glu.isNotNull() & (a1c >= 5.7) & (glu >= 100),
            F.lit("elevated_a1c_glucose"),
        ),
        F.when(
            egfr.isNotNull() & creat.isNotNull()
            & ((egfr < 60) | (creat >= 1.3)),
            F.lit("low_egfr_high_creatinine"),
        ),
        F.when(hgb.isNotNull() & (hgb < 12.0), F.lit("low_hemoglobin")),
    ]
    arr = F.array(*tags)
    return F.filter(arr, lambda x: x.isNotNull())


def overall_label(disease: str, pens: dict[str, Column]) -> Column:
    """SQL-style overall label from penalties (``overall_label_for_disease``,
    mrp_website.py:379-411). ``pens`` are the NULL-when-absent penalty
    columns of :func:`disease_penalty_columns`."""
    p = {a: F.coalesce(c, F.lit(0)) for a, c in pens.items()}
    any_present = None
    for c in pens.values():
        any_present = c.isNotNull() if any_present is None else (any_present | c.isNotNull())
    max_p = F.greatest(*p.values()) if len(p) > 1 else next(iter(p.values()))
    if disease == "Cardiovascular":
        label = F.when(
            (max_p >= 3) | ((p["LDL"] >= 2) & (p["HDL"] >= 1)), "At risk"
        ).otherwise("Likely normal")
    elif disease == "Prediabetes":
        label = (
            F.when((p["A1c"] >= 3) | (p["GlucoseBlood"] >= 3),
                   "Diabetes likely (lab criteria met)")
            .when((p["A1c"] >= 2) | (p["GlucoseBlood"] >= 2),
                  "Prediabetes / Elevated risk")
            .otherwise("Normal")
        )
    elif disease == "CKD":
        label = (
            F.when(p["eGFR"] >= 3, "High CKD risk (eGFR < 30)")
            .when((p["eGFR"] >= 2) | (p["Creatinine"] >= 2),
                  "At risk (kidney impairment likely)")
            .otherwise("Likely normal")
        )
    elif disease == "Anemia":
        label = F.when(
            (p["Hemoglobin"] >= 2) & (p["Hematocrit"] >= 2), "Anemia likely"
        ).otherwise("No anemia signal")
    elif disease == "Liver":
        multi = sum(
            ((p[a] >= 2).cast("int") for a in ("ALT", "AST", "Bilirubin", "Albumin")),
            F.lit(0),
        )
        label = (
            F.when(multi >= 2, "Liver dysfunction likely (multiple abnormalities)")
            .when(multi == 1, "Possible liver dysfunction")
            .otherwise("No liver dysfunction signal")
        )
    else:
        return F.lit("Insufficient data")
    return F.when(any_present, label).otherwise(F.lit("Insufficient data"))


# SQL-label → chip mapping (mrp_website.py:160-195 SQL_TO_CHIP).
SQL_TO_CHIP: dict[str, dict[str, str]] = {
    "Cardiovascular": {
        "At risk": "High",
        "Likely normal": "Normal",
        "Insufficient data": "Watch",
    },
    "Prediabetes": {
        "Diabetes likely (lab criteria met)": "High",
        "Prediabetes / Elevated risk": "Watch",
        "Normal": "Normal",
        "Insufficient data": "Watch",
    },
    "CKD": {
        "High CKD risk (eGFR < 30)": "High",
        "At risk (kidney impairment likely)": "Watch",
        "Likely normal": "Normal",
        "Insufficient data": "Watch",
    },
    "Anemia": {
        "Anemia likely": "High",
        "No anemia signal": "Normal",
        "Insufficient data": "Watch",
    },
    "Liver": {
        "Liver dysfunction likely (multiple abnormalities)": "High",
        "Possible liver dysfunction": "Watch",
        "No liver dysfunction signal": "Normal",
        "Insufficient data": "Watch",
    },
}


def chip_for_label(disease: str, label: Column) -> Column:
    """Overall label → chip (Normal/Watch/High), default Watch
    (mrp_website.py:434)."""
    mapping = SQL_TO_CHIP[disease]
    expr = None
    for k, v in mapping.items():
        expr = F.when(label == k, v) if expr is None else expr.when(label == k, v)
    return expr.otherwise("Watch")
