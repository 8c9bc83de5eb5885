"""Driver-facing query suite: every implemented SURVEY §2 operator expressed
over the driver's testdata tables, paired with a DuckDB oracle SQL string.

Contract (see ``__spark_entry__.py``): each entry of :data:`QUERIES` is a
callable ``(spark, sf_dir) -> DataFrame``; :data:`ORACLE` holds the ANSI-SQL
equivalent that DuckDB runs on the same parquet (views pre-registered by the
driver). Row-count + schema + order-insensitive value hash must match.

Cross-engine float determinism
------------------------------
Floating-point *aggregation* order differs between engines, so naive
``SUM(double)`` can differ in late digits and break the value hash. Every
float aggregate here uses the **decimal-sum pattern**: per-row double math
(bit-identical in both engines) → ``CAST(... AS DECIMAL(p,s))`` (identical
rounding of identical doubles) → exact integer-backed ``SUM`` → ``CAST``
back to ``DOUBLE`` (identical) → optional scalar double math on the already
identical sums. No step depends on row order, so results match bit-for-bit.

Argmax determinism: every latest/top-k is tie-broken by the row id
(``event_id``), per SURVEY §7.4.5.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.banding import case_ladder
from ..functions.sqltext import fold, lit
from ..operators.latest import first_last_delta, latest_per_key
from ..operators.pivot import latest_leg
from ..sources.tables import load_table, observation_view_from_events, spread
from .reports import cvd_report, prediabetes_report

# Analyte-key mapping for the events→observation analog (FIXTURES.md §5).
EVENTS_CVD_KEYS = {
    "hdl": "click",
    "ldl": "view",
    "trig": "purchase",
    "total_chol": "signup",
}
EVENTS_T2D_NUMERIC_KEYS = {"a1c": "signup", "glucose_blood": "click"}
EVENTS_T2D_URINE_KEYS = ("view", "error")

# props is a tiny JSON doc '{"k": NN}'; derive a qualitative result string
# from k the same way on both engines (exercises LOWER(TRIM(...)) + IN-list
# normalization of Athena_queries_for_reports.sql:106-108,134-140).
# \s* would diverge on a vertical tab between ':' and the digits —
# Java's \s includes \x0B, RE2's doesn't (see operators/text.py). The
# explicit class keeps both engines on the identical set. The vertical
# tab is spelled \x0B, never \v: inside a Java character class \v is the
# vertical-whitespace CLASS (\n \x0B \f \r U+0085 U+2028 U+2029), so a literal
# '\v' here would silently re-admit U+0085/U+2028/U+2029 on the Spark
# side only (r7 advice; canaried in tests/test_cross_engine_fuzz.py).
_K_REGEX = r'"k":[ \t\n\x0B\f\r]*(\d+)'


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return observation_view_from_events(_events(spark, sf_dir))


def _qualitative_value_string(props: str) -> str:
    k = f"try_cast(regexp_extract({props}, {lit(_K_REGEX)}, 1) AS INT)"
    return case_ladder(
        [
            (f"{k} < 25", lit("Negative")),
            (f"{k} < 50", lit("  Trace ")),
            (f"{k} < 75", lit("POSITIVE")),
        ],
        otherwise=lit("neg"),
    )


_QUAL_SQL = r"""CASE
      WHEN TRY_CAST(regexp_extract(props, '"k":[ \t\n\x0B\f\r]*(\d+)', 1) AS INT) < 25 THEN 'Negative'
      WHEN TRY_CAST(regexp_extract(props, '"k":[ \t\n\x0B\f\r]*(\d+)', 1) AS INT) < 50 THEN '  Trace '
      WHEN TRY_CAST(regexp_extract(props, '"k":[ \t\n\x0B\f\r]*(\d+)', 1) AS INT) < 75 THEN 'POSITIVE'
      ELSE 'neg' END"""


from .sqlsum import _dsum, dsum  # noqa: E402,F401  (shared; see sqlsum.py)


# --------------------------------------------------------------------------
# Report queries (flagship; SURVEY §2 W1 + A2 + F7/F8/F9 composition)
# --------------------------------------------------------------------------


def q_report_cvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cvd_report(_obs(spark, sf_dir), keys=EVENTS_CVD_KEYS)


_REPORT_CVD_SQL = """
WITH observations AS (
  SELECT user_id AS patient_id, event_type AS code_display, value AS value_quantity,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE event_type IN ('click','view','purchase','signup')
), piv AS (
  SELECT patient_id,
    MAX(CASE WHEN code_display = 'click'    THEN TRY_CAST(value_quantity AS DOUBLE) END) AS hdl,
    MAX(CASE WHEN code_display = 'view'     THEN TRY_CAST(value_quantity AS DOUBLE) END) AS ldl,
    MAX(CASE WHEN code_display = 'purchase' THEN TRY_CAST(value_quantity AS DOUBLE) END) AS trig,
    MAX(CASE WHEN code_display = 'signup'   THEN TRY_CAST(value_quantity AS DOUBLE) END) AS total_chol
  FROM observations WHERE rn = 1 GROUP BY patient_id
)
SELECT patient_id AS patient,
  hdl,
  CASE WHEN hdl IS NULL THEN 'n/a'
       WHEN hdl >= 60 THEN 'Protective'
       WHEN hdl BETWEEN 40 AND 59 THEN 'Normal'
       WHEN hdl < 40 THEN 'Low' END AS hdl_status,
  ldl,
  CASE WHEN ldl IS NULL THEN 'n/a'
       WHEN ldl >= 160 THEN 'High'
       WHEN ldl BETWEEN 130 AND 159 THEN 'Borderline'
       WHEN ldl BETWEEN 100 AND 129 THEN 'Near optimal'
       WHEN ldl < 100 THEN 'Optimal' END AS ldl_status,
  trig,
  CASE WHEN trig IS NULL THEN 'n/a'
       WHEN trig >= 200 THEN 'High'
       WHEN trig BETWEEN 150 AND 199 THEN 'Borderline'
       WHEN trig < 150 THEN 'Normal' END AS triglycerides_status,
  total_chol,
  CASE WHEN total_chol IS NULL THEN 'n/a'
       WHEN total_chol >= 240 THEN 'High'
       WHEN total_chol BETWEEN 200 AND 239 THEN 'Borderline'
       WHEN total_chol < 200 THEN 'Desirable' END AS total_chol_status,
  CASE WHEN ldl >= 130 OR trig >= 150 OR hdl < 40 OR total_chol >= 240 THEN 'At risk'
       WHEN hdl IS NULL AND ldl IS NULL AND trig IS NULL AND total_chol IS NULL
         THEN 'Insufficient data'
       ELSE 'Likely normal' END AS overall_cvd_risk
FROM piv
"""


def q_report_prediabetes(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = _obs(spark, sf_dir).withColumn(
        "value_string", F.expr(_qualitative_value_string("value_string"))
    )
    return prediabetes_report(
        obs,
        numeric_keys=EVENTS_T2D_NUMERIC_KEYS,
        urine_keys=EVENTS_T2D_URINE_KEYS,
    )


_REPORT_PREDIABETES_SQL = f"""
WITH observations AS (
  SELECT user_id AS patient_id, event_type AS code_display, value AS value_quantity,
         {_QUAL_SQL} AS value_string,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE event_type IN ('signup','click','view','error')
), piv AS (
  SELECT patient_id,
    MAX(CASE WHEN code_display = 'signup' THEN TRY_CAST(value_quantity AS DOUBLE) END) AS a1c,
    MAX(CASE WHEN code_display = 'click'  THEN TRY_CAST(value_quantity AS DOUBLE) END) AS glucose_blood,
    MAX(CASE WHEN code_display IN ('view','error') THEN LOWER(TRIM(value_string, ' ')) END) AS glucose_urine_txt
  FROM observations WHERE rn = 1 GROUP BY patient_id
)
SELECT patient_id AS patient,
  a1c,
  CASE WHEN a1c IS NULL THEN 'n/a'
       WHEN a1c >= 6.5 THEN 'Diabetes'
       WHEN a1c >= 5.7 THEN 'Prediabetes'
       ELSE 'Normal' END AS a1c_status,
  glucose_blood,
  CASE WHEN glucose_blood IS NULL THEN 'n/a'
       WHEN glucose_blood >= 126 THEN 'Diabetes'
       WHEN glucose_blood BETWEEN 100 AND 125 THEN 'Prediabetes'
       WHEN glucose_blood BETWEEN 70 AND 99 THEN 'Normal'
       WHEN glucose_blood < 70 THEN 'Low' END AS glucose_blood_status,
  glucose_urine_txt,
  CASE WHEN glucose_urine_txt IS NULL THEN 'n/a'
       WHEN glucose_urine_txt IN ('positive','pos') THEN 'Abnormal'
       WHEN glucose_urine_txt IN ('trace') THEN 'Borderline'
       WHEN glucose_urine_txt IN ('negative','neg') THEN 'Normal'
       ELSE 'n/a' END AS glucose_urine_status,
  CASE WHEN a1c >= 6.5 OR glucose_blood >= 126 OR glucose_urine_txt IN ('positive','pos')
         THEN 'Diabetes likely (lab criteria met)'
       WHEN (a1c BETWEEN 5.7 AND 6.4) OR (glucose_blood BETWEEN 100 AND 125)
            OR glucose_urine_txt = 'trace'
         THEN 'Prediabetes / Elevated risk'
       WHEN a1c IS NULL AND glucose_blood IS NULL AND glucose_urine_txt IS NULL
         THEN 'Insufficient data'
       ELSE 'Normal' END AS overall_t2d_risk
FROM piv
"""

# --------------------------------------------------------------------------
# Core relational operators (SURVEY §2.2/2.4/2.5/2.6, §2.3 joins)
# --------------------------------------------------------------------------


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest value per (patient, analyte) — hash-agg strategy."""
    obs = _obs(spark, sf_dir)
    out = latest_per_key(
        obs,
        keys=["patient_id", "code_display"],
        order_col="effective_datetime",
        value_cols=["value_quantity"],
        tiebreak="observation_id",
    )
    return out.select(
        "patient_id",
        "code_display",
        F.col("value_quantity").alias("latest_value"),
        F.col("effective_datetime").alias("latest_ts"),
    )


_LATEST_PER_KEY_SQL = """
SELECT user_id AS patient_id, event_type AS code_display,
       value AS latest_value, ts AS latest_ts
FROM (
  SELECT user_id, event_type, value, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the generic groupBy/agg surface (A1/
    A2 family) at scale — single hash aggregate with partial map-side agg."""
    li = spread(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        (dsum(F.col("l_quantity")) / cnt).alias("avg_qty"),
        (dsum(F.col("l_extendedprice")) / cnt).alias("avg_price"),
        (dsum(F.col("l_discount")) / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


_PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {_dsum("l_quantity")} AS sum_qty,
  {_dsum("l_extendedprice")} AS sum_base_price,
  {_dsum("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
  {_dsum("l_extendedprice*(1-l_discount)*(1+l_tax)")} AS sum_charge,
  {_dsum("l_quantity")} / COUNT(*) AS avg_qty,
  {_dsum("l_extendedprice")} / COUNT(*) AS avg_price,
  {_dsum("l_discount")} / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: conformed-key equi-joins. Dims (nation, region) are broadcast —
    no shuffle for them; customer⋈orders is the only real shuffle and AQE
    may demote it to broadcast at small SF."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(dim, customer.c_nationkey == dim.n_nationkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
    )


_REVENUE_BY_NATION_SQL = f"""
SELECT r_name, n_name, {_dsum("o_totalprice")} AS revenue, COUNT(*) AS order_count
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins (the membership-probe join class —
    no other suite query uses them): per nation, customers WITH at least
    one order vs customers with NONE. Semi/anti never duplicate or widen
    the left side — the probe side streams, the orders side reduces to a
    distinct-key build, which is why this beats a join+groupBy+filter at
    100 TB (no fact-width rows survive the join)."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cond_key = customer.c_custkey == orders.o_custkey
    buyers = (
        customer.join(orders, cond_key, "left_semi")
        .groupBy(F.col("c_nationkey").alias("bk"))
        .agg(F.count(F.lit(1)).alias("n_buyers"))
    )
    idle = (
        customer.join(orders, cond_key, "left_anti")
        .groupBy(F.col("c_nationkey").alias("ik"))
        .agg(F.count(F.lit(1)).alias("n_idle"))
    )
    return (
        nation.join(buyers, nation.n_nationkey == buyers.bk, "left")
        .join(idle, nation.n_nationkey == idle.ik, "left")
        .select(
            "n_name",
            F.coalesce(F.col("n_buyers"), F.lit(0)).alias("n_buyers"),
            F.coalesce(F.col("n_idle"), F.lit(0)).alias("n_idle"),
        )
    )


_SEMI_ANTI_SQL = """
WITH flags AS (
  SELECT c_custkey, c_nationkey,
         EXISTS(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
           AS has_orders
  FROM customer c
),
agg AS (
  SELECT c_nationkey,
         SUM(CASE WHEN has_orders THEN 1 ELSE 0 END) AS n_buyers,
         SUM(CASE WHEN NOT has_orders THEN 1 ELSE 0 END) AS n_idle
  FROM flags GROUP BY c_nationkey
)
SELECT n_name,
       CAST(COALESCE(n_buyers, 0) AS BIGINT) AS n_buyers,
       CAST(COALESCE(n_idle, 0) AS BIGINT) AS n_idle
FROM nation LEFT JOIN agg ON n_nationkey = c_nationkey
"""


def q_filtered_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + P6: COUNT(col) under equality+range predicate
    (AWS_Athena_queries.sql:79-93 shape)."""
    obs = _obs(spark, sf_dir)
    return obs.filter(
        (F.col("code_display") == "click") & (F.col("value_quantity") < 70)
    ).agg(F.count("value_quantity").alias("n_low"))


_FILTERED_COUNT_SQL = """
SELECT COUNT(value) AS n_low FROM events
WHERE event_type = 'click' AND value < 70
"""


# `between_filter` (P7/O1 BETWEEN-on-timestamp) and `isin_filter`
# (P8+P10 IN-list with null guard) were RETIRED from the registry in r15
# — the first exercise of the COVERAGE.md capacity policy's retire
# clause (r14 verdict ask #2), freeing their two rotation slots for
# `ledger_decontaminate` and `bigram_lm_score`. Their operator coverage
# survives elsewhere: BETWEEN/range predicates in `q_time_rollup`,
# `q_rolling_avg`, the warehouse shipdate shapes, and
# `adhoc.observations_in_range` (pytest); IN-list + null-guard filters
# in `report_cvd`/`report_prediabetes` (`pdm.when.isin` legs) and
# `q_filtered_count`'s pushed-predicate plan test.


def q_keyed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: keyed dedup (Glue_tranformation_json_parquet.py:92,116,137,183).
    ``dropDuplicates`` keeps an arbitrary row; for determinism we keep the
    first row by event_id — same single hash-agg shape."""
    ev = _events(spark, sf_dir)
    first_key = F.col("event_id")
    return ev.groupBy("user_id").agg(
        F.min("event_id").alias("event_id"),
        F.min_by(F.col("ts"), first_key).alias("ts"),
        F.min_by(F.col("event_type"), first_key).alias("event_type"),
        F.min_by(F.col("value"), first_key).alias("value"),
    )


_KEYED_DEDUP_SQL = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def q_frequency_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: frequency count of code_display (test.py:629-631)."""
    return (
        _obs(spark, sf_dir)
        .groupBy("code_display")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_FREQUENCY_COUNT_SQL = "SELECT event_type AS code_display, COUNT(*) AS cnt FROM events GROUP BY event_type"


def q_daily_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: calendar-bucket rollup, last record per (patient, bucket)
    (mrp_website.py:787-798; day buckets since the testdata spans one month)."""
    ev = _events(spark, sf_dir)
    day = F.to_date(F.col("ts"))
    return (
        ev.groupBy(F.col("user_id"), day.alias("day"))
        .agg(
            F.max_by(
                F.col("value"), F.struct(F.col("ts"), F.col("event_id"))
            ).alias("last_value")
        )
    )


_DAILY_LATEST_SQL = """
SELECT user_id, day, last_value FROM (
  SELECT user_id, CAST(ts AS DATE) AS day, value AS last_value,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_top3_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O4: top-k by value within each group, deterministic tiebreak.
    At scale this is a per-partition partial top-k then a bounded-state
    window; k is tiny so the window state is negligible."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "rank", "event_id", "value")
    )


_TOP3_SQL = """
SELECT event_type, rank, event_id, value FROM (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events
) WHERE rank <= 3
"""


def q_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19/F20: per-patient degree-1 fit of value over date ordinal
    (mrp_website.py:671-685). Closed form from exact decimal sums, scalar
    double math on identical operands → bit-exact vs the oracle.
    Single hash aggregate; no window, no UDF, no collect."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    x = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).cast(
        "double"
    )
    y = F.col("value")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"),
        dsum(x * x).alias("sxx"),
    )
    denom = agg.n * agg.sxx - agg.sx * agg.sx
    slope = F.when(
        denom != 0, (agg.n * agg.sxy - agg.sx * agg.sy) / denom
    )
    intercept = (agg.sy - slope * agg.sx) / agg.n
    return agg.filter(agg.n >= 3).select(
        "user_id",
        agg.n.cast("long").alias("n_points"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


_LINEAR_TREND_SQL = f"""
WITH sums AS (
  SELECT user_id,
    CAST(COUNT(*) AS DOUBLE) AS n,
    {_dsum("CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE)")} AS sx,
    {_dsum("value")} AS sy,
    {_dsum("CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) * value")} AS sxy,
    {_dsum("CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) * CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE)")} AS sxx
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_points,
  CASE WHEN n*sxx - sx*sx <> 0 THEN (n*sxy - sx*sy)/(n*sxx - sx*sx) END AS slope,
  (sy - CASE WHEN n*sxx - sx*sx <> 0 THEN (n*sxy - sx*sy)/(n*sxx - sx*sx) END * sx)/n AS intercept
FROM sums WHERE n >= 3
"""


def q_first_last_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: first→last change + per-step slope over each patient's ordered
    series (test.py:669-675, mrp_website.py:534-541)."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "error")
    return first_last_delta(
        ev,
        keys=["user_id"],
        order_col="ts",
        value_col="value",
        tiebreak="event_id",
    )


_FIRST_LAST_DELTA_SQL = """
WITH ranked AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC,  event_id ASC)  AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE event_type = 'error' AND value IS NOT NULL
)
SELECT user_id,
  MAX(CASE WHEN rn_a = 1 THEN value END) AS first_value,
  MAX(CASE WHEN rn_d = 1 THEN value END) AS last_value,
  MAX(CASE WHEN rn_d = 1 THEN value END) - MAX(CASE WHEN rn_a = 1 THEN value END) AS delta,
  CASE WHEN MAX(n) > 1 THEN
    (MAX(CASE WHEN rn_d = 1 THEN value END) - MAX(CASE WHEN rn_a = 1 THEN value END))
      / (MAX(n) - 1) END AS slope_per_step,
  MAX(n) AS n_points
FROM ranked GROUP BY user_id
"""

# --------------------------------------------------------------------------
# Scoring layer (SURVEY §2.8 F10–F13, §2.4 A5/A8) over an events-derived
# wide labs table: 5 analytes ← 5 event types, latest value per
# (user, month), scaled into clinically meaningful ranges.
# --------------------------------------------------------------------------

_LABS_MAP = {  # analyte -> (event_type, scale divisor)
    "LDL": ("click", 1.0),
    "HDL": ("view", 1.0),
    "A1c": ("signup", 50.0),
    "GlucoseBlood": ("purchase", 1.0),
    "Hemoglobin": ("error", 10.0),
}


def _monthly_labs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _monthly_labs_from(_events(spark, sf_dir))


def _monthly_labs_from(ev: DataFrame) -> DataFrame:
    order = ["ts", "event_id"]
    aggs = [
        F.expr(
            f"{latest_leg(f'event_type = {lit(etype)}', 'value', order)}"
            f" / {lit(scale)} AS {analyte}"
        )
        for analyte, (etype, scale) in _LABS_MAP.items()
    ]
    return ev.groupBy(
        F.expr("user_id AS patient_id"),
        F.expr("CAST(date_trunc('month', ts) AS DATE) AS month"),
    ).agg(*aggs)


_MONTHLY_LABS_SQL = """
  SELECT user_id AS patient_id, CAST(date_trunc('month', ts) AS DATE) AS month,
    MAX(CASE WHEN event_type = 'click'    THEN value END) / 1.0  AS ldl,
    MAX(CASE WHEN event_type = 'view'     THEN value END) / 1.0  AS hdl,
    MAX(CASE WHEN event_type = 'signup'   THEN value END) / 50.0 AS a1c,
    MAX(CASE WHEN event_type = 'purchase' THEN value END) / 1.0  AS glucoseblood,
    MAX(CASE WHEN event_type = 'error'    THEN value END) / 10.0 AS hemoglobin
  FROM (
    SELECT user_id, ts, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('month', ts), event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
  GROUP BY 1, 2
"""


def q_wellness_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F11 + A8 + A5 composition: penalty binning → weighted disease
    subscores → renormalized wellness, on the monthly labs table. The whole
    scoring stack is a single projection over one hash aggregate."""
    from .wellness import score_rows

    labs = _monthly_labs(spark, sf_dir)
    scored = score_rows(labs.selectExpr("*", "CAST(month AS TIMESTAMP) AS date"))
    return scored.selectExpr(
        "patient_id",
        "month",
        "subscore_cardiovascular AS sub_cardio",
        "subscore_prediabetes AS sub_prediabetes",
        "subscore_anemia AS sub_anemia",
        "wellness",
        "wellness_confidence AS confidence",
        "label_cardiovascular AS cardio_label",
        "label_prediabetes AS prediabetes_label",
        "array_join(patterns, ',') AS patterns",
    )


# Penalty CASE ladders mirror functions/scoring.py::PENALTY_REFS exactly;
# arithmetic term order mirrors that module's expression fold so doubles match
# bit-for-bit (see module docstring).
_WELLNESS_MONTHLY_SQL = f"""
WITH labs AS ({_MONTHLY_LABS_SQL}),
pens AS (
  SELECT *,
    CASE WHEN ldl IS NULL THEN 0 WHEN ldl < 100 THEN 0 WHEN ldl < 130 THEN 1
         WHEN ldl < 160 THEN 2 ELSE 3 END AS pen_ldl,
    CASE WHEN hdl IS NULL THEN 0 WHEN hdl < 40 THEN 3 WHEN hdl < 60 THEN 0
         ELSE 0 END AS pen_hdl,
    CASE WHEN a1c IS NULL THEN 0 WHEN a1c < 5.7::DOUBLE THEN 0 WHEN a1c < 6.5::DOUBLE THEN 2
         ELSE 3 END AS pen_a1c,
    CASE WHEN glucoseblood IS NULL THEN 0 WHEN glucoseblood < 100 THEN 0
         WHEN glucoseblood < 126 THEN 2 ELSE 3 END AS pen_glu,
    CASE WHEN hemoglobin IS NULL THEN 0 WHEN hemoglobin < 12.0::DOUBLE THEN 2
         WHEN hemoglobin < 16.5::DOUBLE THEN 0 ELSE 2 END AS pen_hgb
  FROM labs
),
subs AS (
  SELECT *,
    CASE WHEN (0.0::DOUBLE + CASE WHEN ldl IS NOT NULL THEN 0.40::DOUBLE ELSE 0.0::DOUBLE END
                   + CASE WHEN hdl IS NOT NULL THEN 0.20::DOUBLE ELSE 0.0::DOUBLE END
                   + 0.0::DOUBLE + 0.0::DOUBLE) > 0
      THEN GREATEST(0.0::DOUBLE, LEAST(100.0::DOUBLE,
           100.0::DOUBLE - (0.0::DOUBLE + CASE WHEN ldl IS NOT NULL THEN pen_ldl * 0.40::DOUBLE ELSE 0.0::DOUBLE END
                        + CASE WHEN hdl IS NOT NULL THEN pen_hdl * 0.20::DOUBLE ELSE 0.0::DOUBLE END
                        + 0.0::DOUBLE + 0.0::DOUBLE) * (100.0::DOUBLE / 3.0::DOUBLE))) END AS sub_cardio,
    CASE WHEN (0.0::DOUBLE + CASE WHEN a1c IS NOT NULL THEN 0.60::DOUBLE ELSE 0.0::DOUBLE END
                   + CASE WHEN glucoseblood IS NOT NULL THEN 0.40::DOUBLE ELSE 0.0::DOUBLE END) > 0
      THEN GREATEST(0.0::DOUBLE, LEAST(100.0::DOUBLE,
           100.0::DOUBLE - (0.0::DOUBLE + CASE WHEN a1c IS NOT NULL THEN pen_a1c * 0.60::DOUBLE ELSE 0.0::DOUBLE END
                        + CASE WHEN glucoseblood IS NOT NULL THEN pen_glu * 0.40::DOUBLE ELSE 0.0::DOUBLE END)
                   * (100.0::DOUBLE / 3.0::DOUBLE))) END AS sub_prediabetes,
    CASE WHEN (0.0::DOUBLE + CASE WHEN hemoglobin IS NOT NULL THEN 0.6::DOUBLE ELSE 0.0::DOUBLE END + 0.0::DOUBLE) > 0
      THEN GREATEST(0.0::DOUBLE, LEAST(100.0::DOUBLE,
           100.0::DOUBLE - (0.0::DOUBLE + CASE WHEN hemoglobin IS NOT NULL THEN pen_hgb * 0.6::DOUBLE ELSE 0.0::DOUBLE END
                        + 0.0::DOUBLE) * (100.0::DOUBLE / 3.0::DOUBLE))) END AS sub_anemia
  FROM pens
)
SELECT patient_id, month, sub_cardio, sub_prediabetes, sub_anemia,
  CASE WHEN (0.0::DOUBLE + CASE WHEN sub_cardio IS NOT NULL THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END
                 + CASE WHEN sub_prediabetes IS NOT NULL THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END
                 + 0.0::DOUBLE + 0.0::DOUBLE
                 + CASE WHEN sub_anemia IS NOT NULL THEN 0.15::DOUBLE ELSE 0.0::DOUBLE END) > 0
    THEN (0.0::DOUBLE + CASE WHEN sub_cardio IS NOT NULL THEN sub_cardio * 0.25::DOUBLE ELSE 0.0::DOUBLE END
              + CASE WHEN sub_prediabetes IS NOT NULL THEN sub_prediabetes * 0.25::DOUBLE ELSE 0.0::DOUBLE END
              + 0.0::DOUBLE + 0.0::DOUBLE
              + CASE WHEN sub_anemia IS NOT NULL THEN sub_anemia * 0.15::DOUBLE ELSE 0.0::DOUBLE END)
         / (0.0::DOUBLE + CASE WHEN sub_cardio IS NOT NULL THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END
                + CASE WHEN sub_prediabetes IS NOT NULL THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END
                + 0.0::DOUBLE + 0.0::DOUBLE
                + CASE WHEN sub_anemia IS NOT NULL THEN 0.15::DOUBLE ELSE 0.0::DOUBLE END) END AS wellness,
  (0.0::DOUBLE + CASE WHEN sub_cardio IS NOT NULL THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END
       + CASE WHEN sub_prediabetes IS NOT NULL THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END
       + 0.0::DOUBLE + 0.0::DOUBLE
       + CASE WHEN sub_anemia IS NOT NULL THEN 0.15::DOUBLE ELSE 0.0::DOUBLE END) AS confidence,
  CASE WHEN ldl IS NULL AND hdl IS NULL THEN 'Insufficient data'
       WHEN GREATEST(pen_ldl, pen_hdl, 0, 0) >= 3 OR (pen_ldl >= 2 AND pen_hdl >= 1)
         THEN 'At risk' ELSE 'Likely normal' END AS cardio_label,
  CASE WHEN a1c IS NULL AND glucoseblood IS NULL THEN 'Insufficient data'
       WHEN pen_a1c >= 3 OR pen_glu >= 3 THEN 'Diabetes likely (lab criteria met)'
       WHEN pen_a1c >= 2 OR pen_glu >= 2 THEN 'Prediabetes / Elevated risk'
       ELSE 'Normal' END AS prediabetes_label,
  CONCAT(
    CASE WHEN ldl IS NOT NULL AND hdl IS NOT NULL
              AND (ldl >= 160 OR (ldl >= 130 AND hdl < 40))
         THEN 'high_ldl_low_hdl' ELSE '' END,
    CASE WHEN a1c IS NOT NULL AND glucoseblood IS NOT NULL
              AND a1c >= 5.7::DOUBLE AND glucoseblood >= 100
         THEN CASE WHEN ldl IS NOT NULL AND hdl IS NOT NULL
                        AND (ldl >= 160 OR (ldl >= 130 AND hdl < 40))
                   THEN ',elevated_a1c_glucose' ELSE 'elevated_a1c_glucose' END
         ELSE '' END,
    CASE WHEN hemoglobin IS NOT NULL AND hemoglobin < 12.0::DOUBLE
         THEN CASE WHEN (ldl IS NOT NULL AND hdl IS NOT NULL
                         AND (ldl >= 160 OR (ldl >= 130 AND hdl < 40)))
                        OR (a1c IS NOT NULL AND glucoseblood IS NOT NULL
                            AND a1c >= 5.7::DOUBLE AND glucoseblood >= 100)
                   THEN ',low_hemoglobin' ELSE 'low_hemoglobin' END
         ELSE '' END) AS patterns
FROM subs
"""


def q_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18–F21: per-patient 12-month linear forecast with widening CI over
    the purchase series (:func:`.wellness.forecast`)."""
    from .wellness import forecast

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    return forecast(
        ev.select(
            F.col("user_id").alias("patient_id"), F.col("ts").alias("date"), "value"
        ),
        "value",
    )


_FORECAST_SQL = f"""
WITH sums AS (
  SELECT user_id AS patient_id,
    CAST(COUNT(*) AS DOUBLE) AS n,
    {_dsum("CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS DOUBLE)")} AS sx,
    {_dsum("value")} AS sy,
    {_dsum("CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS DOUBLE) * value")} AS sxy,
    {_dsum("CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS DOUBLE) * CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS DOUBLE)")} AS sxx,
    {_dsum("value * value")} AS syy,
    {_dsum("ABS(value)")} AS sabs,
    MAX(CAST(ts AS DATE)) AS last_date
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
fitted AS (
  SELECT patient_id, last_date,
    (n*sxy - sx*sy)/(n*sxx - sx*sx) AS m,
    (sy - (n*sxy - sx*sy)/(n*sxx - sx*sx) * sx)/n AS b,
    SQRT(GREATEST(1e-12,
      syy/n + ((n*sxy - sx*sy)/(n*sxx - sx*sx)) * ((n*sxy - sx*sy)/(n*sxx - sx*sx)) * (sxx/n)
      + ((sy - (n*sxy - sx*sy)/(n*sxx - sx*sx) * sx)/n) * ((sy - (n*sxy - sx*sy)/(n*sxx - sx*sx) * sx)/n)
      - 2 * ((n*sxy - sx*sy)/(n*sxx - sx*sx)) * (sxy/n)
      - 2 * ((sy - (n*sxy - sx*sy)/(n*sxx - sx*sx) * sx)/n) * (sy/n)
      + 2 * ((n*sxy - sx*sy)/(n*sxx - sx*sx)) * ((sy - (n*sxy - sx*sy)/(n*sxx - sx*sx) * sx)/n) * (sx/n)
    )) AS sigma,
    GREATEST(1.0, sabs/n) AS baseline
  FROM sums WHERE n >= 3 AND n*sxx - sx*sx <> 0
)
SELECT patient_id, k AS month_ahead,
  CAST(date_trunc('month', last_date) + to_months(CAST(k AS INT)) AS DATE) AS future_month,
  m * CAST(datediff('day', DATE '1970-01-01',
        CAST(date_trunc('month', last_date) + to_months(CAST(k AS INT)) AS DATE)) AS DOUBLE) + b AS yhat,
  (m * CAST(datediff('day', DATE '1970-01-01',
        CAST(date_trunc('month', last_date) + to_months(CAST(k AS INT)) AS DATE)) AS DOUBLE) + b)
    - (sigma + (CAST(k AS DOUBLE) / 12.0) * 0.15 * baseline) AS lower,
  (m * CAST(datediff('day', DATE '1970-01-01',
        CAST(date_trunc('month', last_date) + to_months(CAST(k AS INT)) AS DATE)) AS DOUBLE) + b)
    + (sigma + (CAST(k AS DOUBLE) / 12.0) * 0.15 * baseline) AS upper
FROM fitted CROSS JOIN (SELECT unnest(generate_series(1, 12)) AS k)
"""

# deterministic per-(user, analyte) coverage drops — mirrored verbatim in
# the oracle's sparse_events CTE: (user condition, event type dropped)
_CONFIDENCE_DROPS = (
    ("user_id % 3 = 0", "click"),
    ("user_id % 4 < 2", "view"),
    ("user_id % 2 = 0", "signup"),
    ("user_id % 5 = 0", "purchase"),
    ("user_id % 7 < 3", "error"),
)


def _confidence_sparsity_spark() -> str:
    drops = fold(
        "OR", (f"({user} AND event_type = {lit(etype)})" for user, etype in _CONFIDENCE_DROPS)
    )
    return f"NOT {drops}"


_CONFIDENCE_SPARSITY_SQL = """NOT (
     (user_id % 3 = 0 AND event_type = 'click')
  OR (user_id % 4 < 2 AND event_type = 'view')
  OR (user_id % 2 = 0 AND event_type = 'signup')
  OR (user_id % 5 = 0 AND event_type = 'purchase')
  OR (user_id % 7 < 3 AND event_type = 'error')
)"""


def q_disease_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (coverage count → confidence) + O5 (recent-n tail) as a driver
    query: last-4-months analyte coverage per patient → High/Medium/Low
    per disease (``confidence_for_disease``, mrp_website.py:415-423).
    Analyte columns are presented in canonical case (LDL/HDL/A1c/…)
    because the coverage check matches DISEASE_WEIGHTS names exactly;
    analytes with no events analog stay absent → those diseases are Low
    everywhere, which the oracle mirrors.

    The dense synthetic events give every patient full coverage (all
    rows High — a vacuous check), so coverage is deterministically
    SPARSIFIED per (user, analyte) before the pivot; all three
    confidence levels then occur and the oracle must reproduce the
    exact mix."""
    from .wellness import disease_confidence

    events = _events(spark, sf_dir).filter(_confidence_sparsity_spark())
    labs = _monthly_labs_from(events).selectExpr(
        "patient_id",
        "month AS date",
        "ldl AS LDL",
        "hdl AS HDL",
        "a1c AS A1c",
        "glucoseblood AS GlucoseBlood",
        "hemoglobin AS Hemoglobin",
    )
    return disease_confidence(labs)


_DISEASE_CONFIDENCE_SQL = f"""
WITH sparse_events AS (SELECT * FROM events WHERE {_CONFIDENCE_SPARSITY_SQL}),
labs AS ({_MONTHLY_LABS_SQL.replace("FROM events", "FROM sparse_events")}),
recent AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY patient_id
                                 ORDER BY month DESC) AS rn
    FROM labs
  ) WHERE rn <= 4
),
agg AS (
  SELECT patient_id,
    MAX(CASE WHEN ldl IS NOT NULL THEN 1 ELSE 0 END)
      + MAX(CASE WHEN hdl IS NOT NULL THEN 1 ELSE 0 END) AS n_cardio,
    MAX(CASE WHEN a1c IS NOT NULL THEN 1 ELSE 0 END)
      + MAX(CASE WHEN glucoseblood IS NOT NULL THEN 1 ELSE 0 END) AS n_pre,
    MAX(CASE WHEN hemoglobin IS NOT NULL THEN 1 ELSE 0 END) AS n_anemia
  FROM recent GROUP BY patient_id
)
SELECT patient_id,
  CASE WHEN n_cardio >= 2 THEN 'High' WHEN n_cardio = 1 THEN 'Medium'
       ELSE 'Low' END AS confidence_cardiovascular,
  CASE WHEN n_pre >= 2 THEN 'High' WHEN n_pre = 1 THEN 'Medium'
       ELSE 'Low' END AS confidence_prediabetes,
  'Low' AS confidence_ckd,
  CASE WHEN n_anemia >= 2 THEN 'High' WHEN n_anemia = 1 THEN 'Medium'
       ELSE 'Low' END AS confidence_anemia,
  'Low' AS confidence_liver
FROM agg
"""


def q_height_weight_bmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``get_height_weight`` (test.py:265-293) over the events→
    observation view: 'view' events stand in for the HEIGHT_NAMES lookups
    and 'click' for WEIGHT_NAMES; + the BMI extension column. One hash
    aggregate (conditional max_by legs), no window."""
    from ..operators.latest import height_weight

    obs = observation_view_from_events(load_table(spark, sf_dir, "events"))
    return height_weight(
        obs, height_names=("view",), weight_names=("click",)
    )


_HEIGHT_WEIGHT_SQL = """
WITH obs AS (
  SELECT event_id AS observation_id, user_id AS patient_id,
         event_type AS code_display, value AS value_quantity,
         ts AS effective_datetime
  FROM events
),
h AS (
  SELECT patient_id, value_quantity FROM (
    SELECT patient_id, value_quantity,
           ROW_NUMBER() OVER (PARTITION BY patient_id
             ORDER BY (effective_datetime IS NOT NULL) DESC,
                      effective_datetime DESC, observation_id DESC) AS rn
    FROM obs WHERE code_display IN ('view')
  ) WHERE rn = 1
),
w AS (
  SELECT patient_id, value_quantity FROM (
    SELECT patient_id, value_quantity,
           ROW_NUMBER() OVER (PARTITION BY patient_id
             ORDER BY (effective_datetime IS NOT NULL) DESC,
                      effective_datetime DESC, observation_id DESC) AS rn
    FROM obs WHERE code_display IN ('click')
  ) WHERE rn = 1
)
SELECT COALESCE(h.patient_id, w.patient_id) AS patient_id,
  h.value_quantity AS height_cm,
  w.value_quantity AS weight_kg,
  CASE WHEN h.value_quantity > 0 AND w.value_quantity IS NOT NULL
       THEN w.value_quantity / ((h.value_quantity / 100.0) * (h.value_quantity / 100.0))
  END AS bmi
FROM h FULL OUTER JOIN w ON h.patient_id = w.patient_id
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "disease_confidence": q_disease_confidence,
    "height_weight_bmi": q_height_weight_bmi,
    "report_cvd": q_report_cvd,
    "report_prediabetes": q_report_prediabetes,
    "latest_per_key": q_latest_per_key,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "semi_anti_join": q_semi_anti_join,
    "filtered_count": q_filtered_count,
    "keyed_dedup": q_keyed_dedup,
    "frequency_count": q_frequency_count,
    "daily_latest": q_daily_latest,
    "top3_per_group": q_top3_per_group,
    "linear_trend": q_linear_trend,
    "first_last_delta": q_first_last_delta,
    "wellness_monthly": q_wellness_monthly,
    "forecast": q_forecast,
}

from .analytics_queries import ANALYTICS_ORACLE, ANALYTICS_QUERIES  # noqa: E402
from .corpus_queries import CORPUS_ORACLE, CORPUS_QUERIES  # noqa: E402
from .curation_queries import CURATION_ORACLE, CURATION_QUERIES  # noqa: E402
from .etl_queries import ETL_ORACLE, ETL_QUERIES  # noqa: E402
from .ml_queries import ML_ORACLE, ML_QUERIES  # noqa: E402
from .pipeline_queries import PIPELINE_ORACLE, PIPELINE_QUERIES  # noqa: E402
from .training_data_queries import TRAINING_ORACLE, TRAINING_QUERIES  # noqa: E402
from .warehouse_queries import WAREHOUSE_ORACLE, WAREHOUSE_QUERIES  # noqa: E402

QUERIES.update(TRAINING_QUERIES)
QUERIES.update(ML_QUERIES)
QUERIES.update(ETL_QUERIES)
QUERIES.update(PIPELINE_QUERIES)
QUERIES.update(CURATION_QUERIES)
QUERIES.update(CORPUS_QUERIES)
QUERIES.update(ANALYTICS_QUERIES)
QUERIES.update(WAREHOUSE_QUERIES)

ORACLE: dict[str, str] = {
    "disease_confidence": _DISEASE_CONFIDENCE_SQL,
    "height_weight_bmi": _HEIGHT_WEIGHT_SQL,
    "report_cvd": _REPORT_CVD_SQL,
    "report_prediabetes": _REPORT_PREDIABETES_SQL,
    "latest_per_key": _LATEST_PER_KEY_SQL,
    "pricing_summary": _PRICING_SUMMARY_SQL,
    "revenue_by_nation": _REVENUE_BY_NATION_SQL,
    "semi_anti_join": _SEMI_ANTI_SQL,
    "filtered_count": _FILTERED_COUNT_SQL,
    "keyed_dedup": _KEYED_DEDUP_SQL,
    "frequency_count": _FREQUENCY_COUNT_SQL,
    "daily_latest": _DAILY_LATEST_SQL,
    "top3_per_group": _TOP3_SQL,
    "linear_trend": _LINEAR_TREND_SQL,
    "first_last_delta": _FIRST_LAST_DELTA_SQL,
    "wellness_monthly": _WELLNESS_MONTHLY_SQL,
    "forecast": _FORECAST_SQL,
}

ORACLE.update(TRAINING_ORACLE)
ORACLE.update(ML_ORACLE)
ORACLE.update(ETL_ORACLE)
ORACLE.update(PIPELINE_ORACLE)
ORACLE.update(CURATION_ORACLE)
ORACLE.update(CORPUS_ORACLE)
ORACLE.update(ANALYTICS_ORACLE)
ORACLE.update(WAREHOUSE_ORACLE)


# --------------------------------------------------------------------------
# Driver-gate ordering
# --------------------------------------------------------------------------
# The driver checks only the FIRST 50 registry entries per round. Order
# the registry so the 50-entry checked prefix covers the queries that
# most need a fresh verdict. r17 rotation, staged from
# bench_last.json::last_verified_round after r16 (50 rows each at r13,
# r14 and r16, none at r15):
# - _CHECK_FIRST is r16's staged _CHECK_NEXT, the 50 r13-latest rows,
#   the stalest in the registry.
# - _CHECK_NEXT is the 50 r14-latest rows. They are also >=2 rounds
#   stale, but the prefix is full: they are the overflow that
#   tools/stage_rotation.py stages at the head of _CHECK_NEXT.
# - The 50 r16 rows the driver just verified fall to the unpinned middle.
# No free slots: a query NEW in r17 must displace staged rows into the
# r18 prefix, never drop them silently (the staleness-audit test in
# tests/test_registry_consistency.py recomputes the required split from
# bench_last.json and fails if staging misses a row).
# (Row counts are asserted by
# tests/test_registry_consistency.py::test_gate_ordering_lists_are_valid,
# which pins len(_CHECK_FIRST) == 50 — the r7 advice count-drift class.)
_CHECK_FIRST = [
    # r16's staged _CHECK_NEXT: every r13-latest row
    "ann_cosine_topk", "ann_ivf_topk", "ann_ivfpq_topk", "ann_lsh_topk",
    "bm25_search", "bracket_revenue", "decontaminate",
    "dedup_minhash_lsh", "dist_summary", "doc_attributes", "doc_chunks",
    "domain_cap_salted", "dormant_customers", "embedding_near_dup",
    "etl_conditions", "frame_sample", "graph_pagerank",
    "importance_sample", "json_props", "knn_graph", "large_orders",
    "lm_score", "local_supplier_volume", "market_share",
    "media_channel_stats", "media_decode", "media_dhash",
    "media_features", "mix_weights", "ml_features", "ml_preprocess",
    "ml_risk_scores", "nation_trade", "order_priority", "pii_redact",
    "product_profit", "promo_revenue", "report_cvd",
    "report_prediabetes", "returned_items", "revenue_share",
    "rrf_fusion", "salted_agg", "shipping_priority", "skew_audit",
    "source_terms", "supplier_part_counts", "training_order",
    "wellness_monthly", "zscore_outliers",
]
# Staged r18 prefix head: every r14-latest row, the over-cap overflow of
# the rows >=2 rounds stale after r16.
_CHECK_NEXT = [
    "ann_multiprobe_topk", "asof_join", "basket_pairs", "bloom_decontam",
    "bpe_pair_counts", "dataset_card", "dedup_simhash",
    "disease_confidence", "distinct_sketch", "dup_ngrams", "forecast",
    "funnel", "gap_fill", "hard_negatives", "heavy_hitters",
    "height_weight_bmi", "hist_quantiles", "incremental_dedup",
    "late_suppliers", "length_buckets", "media_dup_clusters",
    "media_entropy", "media_near_dup", "media_stats", "mixture_draw_exact",
    "ngram_jaccard", "pack_sequences", "ppjoin_pairs", "profile_columns",
    "quality_classifier", "range_join", "repeated_spans",
    "repetition_filter", "rolling_avg", "semi_anti_join", "sessionize",
    "set_ops", "severity_topk", "shard_manifest", "shingle_novelty",
    "small_qty_revenue", "source_overlap", "split_assign",
    "stratified_sample", "time_rollup", "token_budget_fill", "top_supplier",
    "unpivot_wide", "vocab_topk", "word_bigrams",
]
_CHECK_LAST: list[str] = []


def _reorder(d: dict) -> dict:
    pinned = set(_CHECK_FIRST) | set(_CHECK_NEXT) | set(_CHECK_LAST)
    middle = [k for k in d if k not in pinned]
    order = (
        [k for k in _CHECK_FIRST if k in d]
        + [k for k in _CHECK_NEXT if k in d]
        + middle
        + [k for k in _CHECK_LAST if k in d]
    )
    return {k: d[k] for k in order}


QUERIES = _reorder(QUERIES)
ORACLE = {k: ORACLE[k] for k in QUERIES}  # identical iteration order
