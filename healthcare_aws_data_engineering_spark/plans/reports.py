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
- banding is plain CASE ladders built as Spark SQL text and applied with
  one ``selectExpr`` — whole-stage codegen, no UDFs.

CASE ladders are ported leg-for-leg INCLUDING their gaps: e.g. hdl = 59.5
falls through every leg of the reference's hdl ladder (`BETWEEN 40 AND 59`
then `< 40`) and yields NULL — we reproduce that, not "fix" it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..functions.banding import case_ladder
from ..functions.sqltext import fold, isin, lit
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


def _between(value: str, low: float, high: float) -> str:
    """``Column.between``'s tree, ``value >= low AND value <= high``
    (SQL ``BETWEEN`` parses to another expression)."""
    return f"({value} >= {lit(low)} AND {value} <= {lit(high)})"


def _pivot_latest(
    obs: DataFrame,
    legs: dict[str, tuple[Sequence[str], str]],
) -> DataFrame:
    """Per patient, per leg, the value expression of the latest qualifying
    row, over the observations of the legs' analytes only."""
    all_keys = sorted({k for keys, _ in legs.values() for k in keys})
    return latest_pivot(
        obs.filter(isin("code_display", all_keys)),
        "patient_id AS patient",
        "code_display",
        legs,
        ["effective_datetime", "observation_id"],
    )


def cvd_report(obs: DataFrame, keys: dict[str, str] = CVD_KEYS) -> DataFrame:
    """Cardiovascular-risk report (``Athena_queries_for_reports.sql:1-76``).

    ``obs`` columns: patient_id, code_display, value_quantity,
    effective_datetime, observation_id.
    """
    num = "try_cast(value_quantity AS DOUBLE)"
    piv = _pivot_latest(
        obs, {name: ([key], num) for name, key in keys.items()}
    )
    return piv.selectExpr(
        "patient",
        "hdl",
        case_ladder(
            [
                ("hdl IS NULL", lit("n/a")),
                ("hdl >= 60", lit("Protective")),
                (_between("hdl", 40, 59), lit("Normal")),
                ("hdl < 40", lit("Low")),
            ]
        ) + " AS hdl_status",
        "ldl",
        case_ladder(
            [
                ("ldl IS NULL", lit("n/a")),
                ("ldl >= 160", lit("High")),
                (_between("ldl", 130, 159), lit("Borderline")),
                (_between("ldl", 100, 129), lit("Near optimal")),
                ("ldl < 100", lit("Optimal")),
            ]
        ) + " AS ldl_status",
        "trig",
        case_ladder(
            [
                ("trig IS NULL", lit("n/a")),
                ("trig >= 200", lit("High")),
                (_between("trig", 150, 199), lit("Borderline")),
                ("trig < 150", lit("Normal")),
            ]
        ) + " AS triglycerides_status",
        "total_chol",
        case_ladder(
            [
                ("total_chol IS NULL", lit("n/a")),
                ("total_chol >= 240", lit("High")),
                (_between("total_chol", 200, 239), lit("Borderline")),
                ("total_chol < 200", lit("Desirable")),
            ]
        ) + " AS total_chol_status",
        case_ladder(
            [
                (
                    fold("OR", ["ldl >= 130", "trig >= 150", "hdl < 40", "total_chol >= 240"]),
                    lit("At risk"),
                ),
                (
                    fold("AND", [f"{c} IS NULL" for c in ("hdl", "ldl", "trig", "total_chol")]),
                    lit("Insufficient data"),
                ),
            ],
            otherwise=lit("Likely normal"),
        ) + " AS overall_cvd_risk",
    )


def prediabetes_report(
    obs: DataFrame,
    numeric_keys: dict[str, str] = T2D_NUMERIC_KEYS,
    urine_keys: Sequence[str] = T2D_URINE_KEYS,
) -> DataFrame:
    """Prediabetes/T2D report (``Athena_queries_for_reports.sql:78-152``).

    ``obs`` additionally needs value_string (qualitative results).
    """
    num = "try_cast(value_quantity AS DOUBLE)"
    legs: dict[str, tuple[Sequence[str], str]] = {
        name: ([key], num) for name, key in numeric_keys.items()
    }
    legs["glucose_urine_txt"] = (list(urine_keys), "lower(trim(value_string))")
    piv = _pivot_latest(obs, legs)
    urine = "glucose_urine_txt"
    urine_pos = isin(urine, ("positive", "pos"))
    return piv.selectExpr(
        "patient",
        "a1c",
        case_ladder(
            [
                ("a1c IS NULL", lit("n/a")),
                (f"a1c >= {lit(6.5)}", lit("Diabetes")),
                (f"a1c >= {lit(5.7)}", lit("Prediabetes")),
            ],
            otherwise=lit("Normal"),
        ) + " AS a1c_status",
        "glucose_blood",
        case_ladder(
            [
                ("glucose_blood IS NULL", lit("n/a")),
                ("glucose_blood >= 126", lit("Diabetes")),
                (_between("glucose_blood", 100, 125), lit("Prediabetes")),
                (_between("glucose_blood", 70, 99), lit("Normal")),
                ("glucose_blood < 70", lit("Low")),
            ]
        ) + " AS glucose_blood_status",
        urine,
        case_ladder(
            [
                (f"{urine} IS NULL", lit("n/a")),
                (urine_pos, lit("Abnormal")),
                (f"{urine} = {lit('trace')}", lit("Borderline")),
                (isin(urine, ("negative", "neg")), lit("Normal")),
            ],
            otherwise=lit("n/a"),
        ) + " AS glucose_urine_status",
        case_ladder(
            [
                (
                    fold("OR", [f"a1c >= {lit(6.5)}", "glucose_blood >= 126", urine_pos]),
                    lit("Diabetes likely (lab criteria met)"),
                ),
                (
                    fold("OR", [
                        _between("a1c", 5.7, 6.4),
                        _between("glucose_blood", 100, 125),
                        f"{urine} = {lit('trace')}",
                    ]),
                    lit("Prediabetes / Elevated risk"),
                ),
                (
                    fold("AND", [f"{c} IS NULL" for c in ("a1c", "glucose_blood", urine)]),
                    lit("Insufficient data"),
                ),
            ],
            otherwise=lit("Normal"),
        ) + " AS overall_t2d_risk",
    )
