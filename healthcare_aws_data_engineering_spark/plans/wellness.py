"""Wellness-app query plans over the wide labs table (SURVEY §7.2 step 5).

The reference app (``mrp_website.py``) computes everything eagerly in pandas
for ONE selected patient; these plans compute the same quantities for ALL
patients in one distributed pass — per-patient work is a hash aggregate or
a projection, never a driver-side loop.

Input: a "wide labs" DataFrame — ``date`` (timestamp), ``patient_id``,
plus any subset of the 15 analyte columns (FIXTURES.md §3). Absent analyte
columns become NULL literals at plan time (the app skips absent columns the
same way, mrp_website.py:192-199).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..functions.banding import case_ladder
from ..functions.scoring import (
    DISEASE_WEIGHTS,
    PENALTY_REFS,
    chip_for_label,
    detect_patterns,
    disease_penalty_columns,
    subscore_from_penalties,
    overall_label,
    wellness,
)
from ..functions.sqltext import fold, lit
from .sqlsum import dsum

ANALYTES = list(PENALTY_REFS)


def _colmap(df: DataFrame) -> dict[str, str]:
    present = set(df.columns)
    return {
        a: (f"CAST({a} AS DOUBLE)" if a in present else "CAST(NULL AS DOUBLE)")
        for a in ANALYTES
    }


def score_rows(labs: DataFrame) -> DataFrame:
    """Score every (patient, date) row: per-disease subscores + penalties,
    wellness, confidence (weight mass), matched evidence patterns, SQL-style
    overall labels and chips. Projection-only — no shuffle at all.

    Built as three STAGED projections (penalties → subscores/labels →
    chips/wellness), each one ``selectExpr`` over the SQL text of
    :mod:`..functions.scoring` and each referencing the previous layer's
    real columns: a single flat projection would re-inline every penalty
    CASE ladder into the subscore, label, chip and wellness trees (~4× the
    expression work — Catalyst CSE does not reach into CASE branches, and
    CollapseProject refuses to merge the layers precisely because the
    aliases are non-cheap and multiply referenced). Same values, same
    single codegen stage."""
    cols = _colmap(labs)
    # layer 1: every penalty ladder evaluated exactly once
    out = labs.selectExpr(
        "*",
        *[
            f"{pen} AS penalty_{disease.lower()}_{analyte.lower()}"
            for disease in DISEASE_WEIGHTS
            for analyte, pen in disease_penalty_columns(disease, cols).items()
        ],
    )
    # layer 2: subscores + labels from the staged penalty columns
    layer2 = []
    for disease in DISEASE_WEIGHTS:
        key = disease.lower()
        staged_pens = {a: f"penalty_{key}_{a.lower()}" for a in DISEASE_WEIGHTS[disease]}
        layer2.append(f"{subscore_from_penalties(disease, staged_pens)} AS subscore_{key}")
        layer2.append(f"{overall_label(disease, staged_pens)} AS label_{key}")
    out = out.selectExpr("*", *layer2)
    # layer 3: chips from staged labels, wellness from staged subscores
    w, conf, used = wellness({d: f"subscore_{d.lower()}" for d in DISEASE_WEIGHTS})
    return out.selectExpr(
        "*",
        *[
            f"{chip_for_label(d, f'label_{d.lower()}')} AS chip_{d.lower()}"
            for d in DISEASE_WEIGHTS
        ],
        f"{w} AS wellness",
        f"{conf} AS wellness_confidence",
        f"{used} AS wellness_areas_used",
        f"{detect_patterns(cols)} AS patterns",
    )


def latest_snapshot(labs: DataFrame) -> DataFrame:
    """The app's ``latest = pdf.sort_values('date').iloc[-1]`` for every
    patient (mrp_website.py:297-299), then scored. max_by hash-agg — one
    shuffle, no window sort."""
    ordk = F.struct(F.col("date"))
    value_cols = [c for c in labs.columns if c != "patient_id"]
    latest = labs.groupBy("patient_id").agg(
        *[F.max_by(F.col(c), ordk).alias(c) for c in value_cols]
    )
    return score_rows(latest)


def monthly_wellness(labs: DataFrame) -> DataFrame:
    """Monthly wellness series (mrp_website.py:787-798): last record per
    (patient, calendar month) → subscores → wellness. Single hash aggregate
    keyed by (patient, month)."""
    month = F.date_trunc("month", F.col("date")).alias("month")
    ordk = F.struct(F.col("date"))
    value_cols = [c for c in labs.columns if c not in ("patient_id",)]
    per_month = labs.groupBy(F.col("patient_id"), month).agg(
        *[F.max_by(F.col(c), ordk).alias(c) for c in value_cols]
    )
    scored = score_rows(per_month)
    keep = ["patient_id", "month", "wellness", "wellness_areas_used"] + [
        f"subscore_{d.lower()}" for d in DISEASE_WEIGHTS
    ]
    return scored.select(*keep).filter(F.col("wellness").isNotNull())


def disease_confidence(labs: DataFrame) -> DataFrame:
    """Coverage confidence per (patient, disease)
    (``confidence_for_disease``, mrp_website.py:415-423): among the last 4
    records, count the disease's analytes with ≥1 non-null → High (≥2) /
    Medium (1) / Low (0)."""
    recent = labs.selectExpr(
        "*", "row_number() OVER (PARTITION BY patient_id ORDER BY `date` DESC) AS __rn"
    ).filter("__rn <= 4")
    present_cols = set(labs.columns)
    aggs = []
    for disease, weights in DISEASE_WEIGHTS.items():
        present = [f"max(CAST({a} IS NOT NULL AS INT))" for a in weights if a in present_cols]
        aggs.append(F.expr(f"{fold('+', ['0', *present])} AS __n_{disease}"))
    agg = recent.groupBy("patient_id").agg(*aggs)
    return agg.selectExpr(
        "patient_id",
        *[
            case_ladder(
                [(f"__n_{d} >= 2", lit("High")), (f"__n_{d} = 1", lit("Medium"))],
                lit("Low"),
            ) + f" AS confidence_{d.lower()}"
            for d in DISEASE_WEIGHTS
        ],
    )


# Trend-direction semantics (mrp_website.py:534-541): for these diseases a
# falling primary analyte is an improvement; for the others it's worsening.
_LOWER_IS_BETTER = ("Cardiovascular", "Prediabetes", "Liver", "CKD")


def trend_arrow(labs: DataFrame, disease: str) -> DataFrame:
    """Per-patient trend of the disease's primary analyte: per-step slope
    ``(last-first)/(n-1)`` mapped to improving/worsening/stable."""
    primary = next(iter(DISEASE_WEIGHTS[disease]))
    if primary not in labs.columns:
        return labs.select("patient_id").distinct().withColumn(
            "trend", F.lit(None).cast("string")
        )
    pts = labs.filter(F.col(primary).isNotNull())
    ordk = F.struct(F.col("date"))
    n = F.count(F.lit(1))
    first_v = F.min_by(F.col(primary), ordk)
    last_v = F.max_by(F.col(primary), ordk)
    slope = (last_v - first_v) / F.greatest(F.lit(1), n - 1)
    agg = pts.groupBy("patient_id").agg(slope.alias("slope"), n.alias("n"))
    improving_when_negative = disease in _LOWER_IS_BETTER
    neg_label = "improving" if improving_when_negative else "worsening"
    pos_label = "worsening" if improving_when_negative else "improving"
    return agg.select(
        "patient_id",
        "slope",
        F.when(F.col("n") < 2, F.lit(None).cast("string"))
        .when(F.col("slope") < 0, neg_label)
        .when(F.col("slope") > 0, pos_label)
        .otherwise("stable")
        .alias("trend"),
    )


def forecast(labs: DataFrame, value_col: str) -> DataFrame:
    """12-month linear forecast with widening CI (mrp_website.py:664-686):

    - degree-1 fit ``y = m·x + b`` on x = date ordinal (day resolution;
      the origin shift vs pandas' ``toordinal`` cancels out of ``m·x+b``);
    - ``sigma`` = population std of fit residuals;
    - ``ci_k = sigma + (k/12)·0.15·max(1, mean(|y|))`` for month k;
    - future grid = 12 months starting at the first day of the month
      after each patient's last observation.

    The sums are exact decimal sums (:func:`.sqlsum.dsum`), so the fit
    does not depend on the order rows reach the aggregate and the DuckDB
    oracle replays it bit for bit. Physical shape: ONE hash aggregate
    (closed-form sums) + a 12-row explode per patient — no window, no
    iteration, no driver math. Null points are skipped and patients with
    <3 points are dropped (the app requires ≥3, :668-669)."""
    pts = labs.filter(F.col(value_col).isNotNull())
    x = F.datediff(F.col("date").cast("date"), F.lit("1970-01-01").cast("date")).cast("double")
    y = F.col(value_col).cast("double")
    agg = pts.groupBy("patient_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
        dsum(F.abs(y)).alias("sabs"),
        F.max(F.col("date").cast("date")).alias("last_date"),
    )
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    denom = n * sxx - sx * sx
    m = (n * sxy - sx * sy) / denom
    b = (sy - m * sx) / n
    # sigma² = mean of squared residuals, expanded to the closed form over
    # the same sums (equals np.std(y - (m x + b)) population semantics).
    sigma2 = (
        syy / n + (m * m) * (sxx / n) + b * b
        - 2 * m * (sxy / n) - 2 * b * (sy / n) + 2 * m * b * (sx / n)
    )
    fitted = agg.filter((n >= 3) & (denom != 0)).select(
        "patient_id",
        m.alias("m"),
        b.alias("b"),
        F.sqrt(F.greatest(F.lit(1e-12), sigma2)).alias("sigma"),
        F.greatest(F.lit(1.0), F.col("sabs") / n).alias("baseline"),
        "last_date",
    )
    grid = fitted.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(12))).alias("k")
    )
    future = F.add_months(F.trunc(F.col("last_date"), "month"), F.col("k"))
    xf = F.datediff(future, F.lit("1970-01-01").cast("date")).cast("double")
    yhat = F.col("m") * xf + F.col("b")
    ci = F.col("sigma") + (F.col("k").cast("double") / F.lit(12.0)) * 0.15 * F.col("baseline")
    return grid.select(
        "patient_id",
        F.col("k").alias("month_ahead"),
        future.alias("future_month"),
        yhat.alias("yhat"),
        (yhat - ci).alias("lower"),
        (yhat + ci).alias("upper"),
    )


def top_penalty_drivers(labs: DataFrame, disease: str, k: int = 3) -> DataFrame:
    """Top-k penalty drivers per patient for one disease
    (mrp_website.py:495, O4): melt the per-analyte penalties of the latest
    snapshot to long form, rank by penalty desc (analyte name tiebreak —
    python ``sorted`` is stable but engine-arbitrary; we pin it)."""
    snap = latest_snapshot(labs)
    key = disease.lower()
    pen_cols = [
        (a, f"penalty_{key}_{a.lower()}") for a in DISEASE_WEIGHTS[disease]
    ]
    pairs = F.array(
        *[
            F.struct(F.lit(a).alias("analyte"), F.col(c).alias("penalty"))
            for a, c in pen_cols
        ]
    )
    long = snap.select(
        "patient_id", F.explode(pairs).alias("p")
    ).select("patient_id", "p.analyte", "p.penalty").filter(
        F.col("penalty").isNotNull()
    )
    w = W.partitionBy("patient_id").orderBy(
        F.col("penalty").desc(), F.col("analyte").asc()
    )
    return (
        long.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
