"""The two production report queries, Spark-first.

Reference: ``Athena_queries_for_reports.sql``
- cardiovascular risk  (``:1-76``)
- prediabetes / T2D    (``:78-152``)

Reference plan shape: ROW_NUMBER latest-per-(patient,analyte) → MAX(CASE)
pivot → CASE banding — i.e. TWO shuffles (window sort, then hash agg).

Spark-first plan here: ONE hash aggregate per report
(:func:`..operators.pivot.latest_pivot`): the window collapses into the
same groupBy(patient_id) that does the pivot —

- one shuffle, with map-side partial aggregation (the window form must
  shuffle *every* qualifying row; this reduces per-partition first);
- the IN-list analyte filter sits directly on the scan → parquet
  row-group pushdown;
- ties on effective_datetime are broken by observation_id so results are
  deterministic and oracle-comparable (SURVEY §7.4.5);
- banding is pure Column CASE ladders — whole-stage codegen, no UDFs.

CASE ladders are ported leg-for-leg INCLUDING their gaps: e.g. hdl = 59.5
falls through every leg of the reference's hdl ladder (`BETWEEN 40 AND 59`
then `< 40`) and yields NULL — we reproduce that, not "fix" it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.banding import case_ladder
from ..operators.pivot import latest_pivot

# Canonical analyte keys (LOINC display strings) from
# Athena_queries_for_reports.sql:10-15, 91-96.
CVD_KEYS = {
    "hdl": "Cholesterol in HDL [Mass/volume] in Serum or Plasma",
    "ldl": "Low Density Lipoprotein Cholesterol",
    "trig": "Triglycerides",
    "total_chol": "Cholesterol [Mass/volume] in Serum or Plasma",
}
T2D_NUMERIC_KEYS = {
    "a1c": "Hemoglobin A1c/Hemoglobin.total in Blood",
    "glucose_blood": "Glucose [Mass/volume] in Blood",
}
T2D_URINE_KEYS = (
    "Glucose [Mass/volume] in Urine by Test strip",
    "Glucose [Presence] in Urine by Test strip",
)


def _pivot_latest(
    obs: DataFrame,
    legs: dict[str, tuple[Sequence[str], Column]],
) -> DataFrame:
    """Per patient, per leg, the value expression of the latest qualifying
    row, over the observations of the legs' analytes only."""
    all_keys = sorted({k for keys, _ in legs.values() for k in keys})
    return latest_pivot(
        obs.filter(F.col("code_display").isin(all_keys)),
        F.col("patient_id").alias("patient"),
        "code_display",
        legs,
        [F.col("effective_datetime"), F.col("observation_id")],
    )


def cvd_report(obs: DataFrame, keys: dict[str, str] = CVD_KEYS) -> DataFrame:
    """Cardiovascular-risk report (``Athena_queries_for_reports.sql:1-76``).

    ``obs`` columns: patient_id, code_display, value_quantity,
    effective_datetime, observation_id.
    """
    num = F.col("value_quantity").try_cast("double")
    piv = _pivot_latest(
        obs, {name: ([key], num) for name, key in keys.items()}
    )
    hdl, ldl, trig, tc = (F.col(c) for c in ("hdl", "ldl", "trig", "total_chol"))
    return piv.select(
        "patient",
        "hdl",
        case_ladder(
            [
                (hdl.isNull(), F.lit("n/a")),
                (hdl >= 60, F.lit("Protective")),
                (hdl.between(40, 59), F.lit("Normal")),
                (hdl < 40, F.lit("Low")),
            ]
        ).alias("hdl_status"),
        "ldl",
        case_ladder(
            [
                (ldl.isNull(), F.lit("n/a")),
                (ldl >= 160, F.lit("High")),
                (ldl.between(130, 159), F.lit("Borderline")),
                (ldl.between(100, 129), F.lit("Near optimal")),
                (ldl < 100, F.lit("Optimal")),
            ]
        ).alias("ldl_status"),
        "trig",
        case_ladder(
            [
                (trig.isNull(), F.lit("n/a")),
                (trig >= 200, F.lit("High")),
                (trig.between(150, 199), F.lit("Borderline")),
                (trig < 150, F.lit("Normal")),
            ]
        ).alias("triglycerides_status"),
        "total_chol",
        case_ladder(
            [
                (tc.isNull(), F.lit("n/a")),
                (tc >= 240, F.lit("High")),
                (tc.between(200, 239), F.lit("Borderline")),
                (tc < 200, F.lit("Desirable")),
            ]
        ).alias("total_chol_status"),
        case_ladder(
            [
                (
                    (ldl >= 130) | (trig >= 150) | (hdl < 40) | (tc >= 240),
                    F.lit("At risk"),
                ),
                (
                    hdl.isNull() & ldl.isNull() & trig.isNull() & tc.isNull(),
                    F.lit("Insufficient data"),
                ),
            ],
            otherwise=F.lit("Likely normal"),
        ).alias("overall_cvd_risk"),
    )


def prediabetes_report(
    obs: DataFrame,
    numeric_keys: dict[str, str] = T2D_NUMERIC_KEYS,
    urine_keys: Sequence[str] = T2D_URINE_KEYS,
) -> DataFrame:
    """Prediabetes/T2D report (``Athena_queries_for_reports.sql:78-152``).

    ``obs`` additionally needs value_string (qualitative results).
    """
    num = F.col("value_quantity").try_cast("double")
    txt = F.lower(F.trim(F.col("value_string")))
    legs: dict[str, tuple[Sequence[str], Column]] = {
        name: ([key], num) for name, key in numeric_keys.items()
    }
    legs["glucose_urine_txt"] = (list(urine_keys), txt)
    piv = _pivot_latest(obs, legs)
    a1c, glu, urine = (
        F.col("a1c"),
        F.col("glucose_blood"),
        F.col("glucose_urine_txt"),
    )
    return piv.select(
        "patient",
        "a1c",
        case_ladder(
            [
                (a1c.isNull(), F.lit("n/a")),
                (a1c >= 6.5, F.lit("Diabetes")),
                (a1c >= 5.7, F.lit("Prediabetes")),
            ],
            otherwise=F.lit("Normal"),
        ).alias("a1c_status"),
        "glucose_blood",
        case_ladder(
            [
                (glu.isNull(), F.lit("n/a")),
                (glu >= 126, F.lit("Diabetes")),
                (glu.between(100, 125), F.lit("Prediabetes")),
                (glu.between(70, 99), F.lit("Normal")),
                (glu < 70, F.lit("Low")),
            ]
        ).alias("glucose_blood_status"),
        "glucose_urine_txt",
        case_ladder(
            [
                (urine.isNull(), F.lit("n/a")),
                (urine.isin("positive", "pos"), F.lit("Abnormal")),
                (urine == "trace", F.lit("Borderline")),
                (urine.isin("negative", "neg"), F.lit("Normal")),
            ],
            otherwise=F.lit("n/a"),
        ).alias("glucose_urine_status"),
        case_ladder(
            [
                (
                    (a1c >= 6.5)
                    | (glu >= 126)
                    | urine.isin("positive", "pos"),
                    F.lit("Diabetes likely (lab criteria met)"),
                ),
                (
                    a1c.between(5.7, 6.4)
                    | glu.between(100, 125)
                    | (urine == "trace"),
                    F.lit("Prediabetes / Elevated risk"),
                ),
                (
                    a1c.isNull() & glu.isNull() & urine.isNull(),
                    F.lit("Insufficient data"),
                ),
            ],
            otherwise=F.lit("Normal"),
        ).alias("overall_t2d_risk"),
    )
