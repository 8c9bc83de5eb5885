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

All rebuilt as Spark SQL expression text (whole-stage codegen; zero
Python UDFs, per SURVEY §2.11): the app's per-row Python becomes a single
projection over a wide labs DataFrame with one row per (patient, date),
which :func:`..plans.wellness.score_rows` applies one ``selectExpr`` per
staged layer. The inputs are SQL text too: column names or atomic
expressions (``CAST(LDL AS DOUBLE)``). Sums and AND/OR chains are
parenthesized into left folds (:func:`.sqltext.fold`), so the double
sums add in one fixed order, which the oracle SQL mirrors bit for bit.
"""

from __future__ import annotations

import math

from .banding import case_ladder
from .sqltext import fold, lit

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


def penalty(analyte: str, value: str) -> str:
    """Penalty 0–3 from the ordered bin edges (``penalty_for_value``,
    mrp_website.py:169-181): first edge the value is below wins; NULL → 0."""
    if analyte not in PENALTY_REFS:
        return "0"
    bins, pens = PENALTY_REFS[analyte]
    legs = [(f"{value} IS NULL", "0")]
    legs += [
        (f"{value} < {lit(bins[i + 1])}", lit(int(pens[i])))
        for i in range(len(bins) - 2)
    ]
    return case_ladder(legs, otherwise=lit(int(pens[-1])))


def disease_penalty_columns(disease: str, cols: dict[str, str]) -> dict[str, str]:
    """Per-analyte penalty expressions for a disease; NULL (not 0) when the
    analyte value is absent — mirrors the ``pens`` dict only containing
    present analytes (mrp_website.py:192-199). ``cols`` maps analyte name →
    SQL text; an analyte missing from it is absent."""
    out = {}
    for analyte in DISEASE_WEIGHTS[disease]:
        v = cols.get(analyte, "CAST(NULL AS DOUBLE)")
        out[analyte] = case_ladder([(f"{v} IS NOT NULL", penalty(analyte, v))])
    return out


def subscore_from_penalties(disease: str, pens: dict[str, str]) -> str:
    """Subscore 0–100 (mrp_website.py:184-204):
    ``100 − Σ pᵢwᵢ · 100/3`` over *present* analytes, clamped to [0,100];
    NULL when nothing is present.

    ``pens`` are the NULL-when-absent penalty columns of
    :func:`disease_penalty_columns` (``pens[a] IS NULL ⟺ value absent``,
    so coalesce/IS NOT NULL reproduce the presence gating). Staging them
    lets a plan that needs penalties, subscore AND label evaluate each
    penalty CASE ladder exactly once (Catalyst CSE does not reach into
    CASE branches; see the r5 text_stats note in BASELINE.md)."""
    weights = DISEASE_WEIGHTS[disease]
    zero = lit(0.0)
    weighted = fold("+", [
        zero,
        *(f"coalesce(CAST({pens[a]} AS DOUBLE) * {lit(w)}, {zero})" for a, w in weights.items()),
    ])
    total_w = fold("+", [
        zero,
        *(case_ladder([(f"{pens[a]} IS NOT NULL", lit(w))], zero) for a, w in weights.items()),
    ])
    # NOTE: the reference does NOT renormalize by present weight mass here —
    # ``weighted`` is divided by the fixed max penalty only (:201-203); the
    # renormalization happens at the wellness level. total_w>0 only gates
    # the NULL case.
    sub = f"{lit(100.0)} - {weighted} * {lit(100.0 / MAX_PENALTY)}"
    clamped = f"greatest({zero}, least({lit(100.0)}, {sub}))"
    return case_ladder([(f"{total_w} > 0", clamped)])


def wellness(subscores: dict[str, str]) -> tuple[str, str, str]:
    """(wellness, confidence, n_used) — ``wellness_score``
    (mrp_website.py:207-225): weighted mean over present subscores,
    renormalized by the present wellness-weight mass; confidence IS that
    mass; NULL wellness when nothing is present."""
    zero = lit(0.0)
    num, den, used = [], [], []
    for disease, w in WELLNESS_WEIGHTS.items():
        s = subscores[disease]
        present = f"{s} IS NOT NULL"
        num.append(case_ladder([(present, f"{s} * {lit(w)}")], zero))
        den.append(case_ladder([(present, lit(w))], zero))
        used.append(f"CAST({present} AS INT)")
    num_s, den_s = fold("+", [zero, *num]), fold("+", [zero, *den])
    return (
        case_ladder([(f"{den_s} > 0", f"{num_s} / {den_s}")]),
        den_s,
        fold("+", ["0", *used]),
    )


def detect_patterns(cols: dict[str, str]) -> str:
    """Array of matched evidence-pattern tags (``detect_patterns``,
    mrp_website.py:231-248); both-present guards preserved. ``cols`` maps
    each analyte name → SQL text."""
    ldl, hdl, a1c, glu, egfr, creat, hgb = (
        cols[a]
        for a in ("LDL", "HDL", "A1c", "GlucoseBlood", "eGFR", "Creatinine", "Hemoglobin")
    )
    tags = [
        case_ladder([(
            fold("AND", [
                f"{ldl} IS NOT NULL", f"{hdl} IS NOT NULL",
                f"({ldl} >= 160 OR ({ldl} >= 130 AND {hdl} < 40))",
            ]),
            lit("high_ldl_low_hdl"),
        )]),
        case_ladder([(
            fold("AND", [
                f"{a1c} IS NOT NULL", f"{glu} IS NOT NULL",
                f"{a1c} >= {lit(5.7)}", f"{glu} >= 100",
            ]),
            lit("elevated_a1c_glucose"),
        )]),
        case_ladder([(
            fold("AND", [
                f"{egfr} IS NOT NULL", f"{creat} IS NOT NULL",
                f"({egfr} < 60 OR {creat} >= {lit(1.3)})",
            ]),
            lit("low_egfr_high_creatinine"),
        )]),
        case_ladder([(f"{hgb} IS NOT NULL AND {hgb} < {lit(12.0)}", lit("low_hemoglobin"))]),
    ]
    return f"filter(array({', '.join(tags)}), x_1 -> x_1 IS NOT NULL)"


def overall_label(disease: str, pens: dict[str, str]) -> str:
    """SQL-style overall label from penalties (``overall_label_for_disease``,
    mrp_website.py:379-411). ``pens`` are the NULL-when-absent penalty
    columns of :func:`disease_penalty_columns`."""
    p = {a: f"coalesce({c}, 0)" for a, c in pens.items()}
    any_present = fold("OR", (f"{c} IS NOT NULL" for c in pens.values()))
    max_p = f"greatest({', '.join(p.values())})" if len(p) > 1 else next(iter(p.values()))
    if disease == "Cardiovascular":
        label = case_ladder(
            [(f"{max_p} >= 3 OR ({p['LDL']} >= 2 AND {p['HDL']} >= 1)", lit("At risk"))],
            lit("Likely normal"),
        )
    elif disease == "Prediabetes":
        label = case_ladder(
            [
                (f"{p['A1c']} >= 3 OR {p['GlucoseBlood']} >= 3",
                 lit("Diabetes likely (lab criteria met)")),
                (f"{p['A1c']} >= 2 OR {p['GlucoseBlood']} >= 2",
                 lit("Prediabetes / Elevated risk")),
            ],
            lit("Normal"),
        )
    elif disease == "CKD":
        label = case_ladder(
            [
                (f"{p['eGFR']} >= 3", lit("High CKD risk (eGFR < 30)")),
                (f"{p['eGFR']} >= 2 OR {p['Creatinine']} >= 2",
                 lit("At risk (kidney impairment likely)")),
            ],
            lit("Likely normal"),
        )
    elif disease == "Anemia":
        label = case_ladder(
            [(f"{p['Hemoglobin']} >= 2 AND {p['Hematocrit']} >= 2", lit("Anemia likely"))],
            lit("No anemia signal"),
        )
    elif disease == "Liver":
        multi = fold(
            "+", ["0", *(f"CAST({p[a]} >= 2 AS INT)" for a in ("ALT", "AST", "Bilirubin", "Albumin"))]
        )
        label = case_ladder(
            [
                (f"{multi} >= 2", lit("Liver dysfunction likely (multiple abnormalities)")),
                (f"{multi} = 1", lit("Possible liver dysfunction")),
            ],
            lit("No liver dysfunction signal"),
        )
    else:
        return lit("Insufficient data")
    return case_ladder([(any_present, label)], lit("Insufficient data"))


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


def chip_for_label(disease: str, label: str) -> str:
    """Overall label → chip (Normal/Watch/High), default Watch
    (mrp_website.py:434)."""
    return case_ladder(
        [(f"{label} = {lit(k)}", lit(v)) for k, v in SQL_TO_CHIP[disease].items()],
        lit("Watch"),
    )
