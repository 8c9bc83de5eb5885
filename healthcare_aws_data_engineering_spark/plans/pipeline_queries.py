"""Large-scale pipeline operators: sessionization, exact distribution
summaries, deterministic stratified sampling, and corpus vocabulary —
the event/corpus rollups a training-data pipeline needs beyond the
reference's own query surface (brief extension; no reference counterpart).

Scale notes
-----------
- ``sessionize``: ONE shuffle (hash by ``user_id``); the lag/cumsum
  windows and the session aggregation all reuse that partitioning.
  Nothing is ever materialized per-user beyond fixed-width rows.
- ``dist_summary``: ONE shuffle (hash by ``event_type``); sort-based
  exact quantiles — the quantile *index* is pure integer math
  (``ceil(n·k/100) = (n·k + 99) div 100``), so no float interpolation
  can diverge between engines. At a 100 TB/low-cardinality group shape
  this becomes a per-group sort — acceptable for bounded group count;
  for unbounded groups use approx_percentile instead (documented trade).
- ``stratified_sample``: pure scan + filter — ZERO shuffles; the
  per-stratum rate is a deterministic md5-bucket predicate, so the
  sample is reproducible run-to-run and engine-to-engine, and pushes
  down to a parquet scan filter on ``lang``.
- ``vocab_topk``: explode → hash-agg (map-side combine) → global
  top-k (TakeOrdered, no full sort); the shuffle carries (shingle,
  partial count) only.

Cross-engine determinism: counts/mins/maxes over DECIMAL(18,6) casts of
identical doubles; md5 is the shared hash (same recipe as the dedup
oracles); total orders are made unique before any LIMIT.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..operators.dedup import word_shingles
from ..operators.skew import skew_audit_sql
from ..sources.tables import load_table

SESSION_GAP_MS = 30 * 60 * 1000  # classic 30-minute inactivity gap

# Per-language sampling rate (percent) — deterministic md5 buckets.
STRATA_RATES = {"en": 35, "de": 80, "es": 60, "fr": 45, "zh": 25}
STRATA_DEFAULT = 10


# ------------------------------------------------------------ sessionize --
def sessionize(
    events: DataFrame,
    gap_ms: int = SESSION_GAP_MS,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds ``gap_ms``. Classic lag→flag→cumsum window
    composition; boundaries are a function of the (ts multiset) only, so
    the deterministic ``id_col`` tie-break never changes the result, only
    stabilizes it.

    Returns one row per session: ``user_id, session_seq, start_ms,
    end_ms, n_events, duration_ms`` (epoch-millis longs — timezone-proof
    across engines).
    """
    base = events.select(
        F.col(user_col).alias("user_id"), F.col(ts_col).alias("ts"),
        F.col(id_col).alias("event_id"),
    )
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    new_session = F.when(
        F.lag(ms).over(wseq).isNull() | (ms - F.lag(ms).over(wseq) > gap_ms), 1
    ).otherwise(0)
    flagged = base.withColumn("__new", new_session)
    # explicit ROWS frame: the default RANGE frame treats duplicate
    # (ts, event_id) rows as peers, which would diverge from the oracle's
    # ROWS UNBOUNDED PRECEDING on non-unique ids.
    wsum = wseq.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = flagged.withColumn(
        "session_seq", F.sum("__new").over(wsum).cast("long")
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min(F.unix_millis(F.col("ts"))).alias("start_ms"),
        F.max(F.unix_millis(F.col("ts"))).alias("end_ms"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.unix_millis(F.col("ts"))) - F.min(F.unix_millis(F.col("ts"))))
        .alias("duration_ms"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


_SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
  MIN(epoch_ms(ts)) AS start_ms,
  MAX(epoch_ms(ts)) AS end_ms,
  COUNT(*) AS n_events,
  MAX(epoch_ms(ts)) - MIN(epoch_ms(ts)) AS duration_ms
FROM s GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------- dist_summary --
def dist_summary(
    events: DataFrame, group_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Exact per-group distribution summary: count / min / max / discrete
    p50-p90-p99. Quantiles are *discrete* (an actual element of the
    group, at sorted index ``ceil(n·k/100)`` computed in integer math) —
    no interpolation, hence bit-identical across engines. Values are
    quantized to BIGINT scale-6 micro-units (``*_u6`` columns = value·1e6
    via the proven DECIMAL(18,6) grid) before anything order-sensitive —
    integer output cells survive the driver's cell rendering, where the
    r2 DECIMAL(18,6) output hash-mismatched despite a green local
    replica.

    NULL values are excluded up front (``n_rows`` counts non-null
    values): Spark ranks NULLS FIRST and DuckDB NULLS LAST, so keeping
    them would both shift the quantile index onto NULL rows and diverge
    between engines."""
    val = (F.col(value_col).cast("decimal(18,6)") * 1000000).cast("long")
    base = events.select(F.col(group_col).alias("grp"), val.alias("val")).filter(
        val.isNotNull()
    )
    wo = W.partitionBy("grp").orderBy("val")
    wn = W.partitionBy("grp")
    ranked = base.withColumn("rn", F.row_number().over(wo).cast("long")) \
                 .withColumn("n", F.count(F.lit(1)).over(wn))

    def idx(k: int):  # ceil(n*k/100) in exact integer math
        return F.expr(f"(n * {k} + 99) div 100")

    def at(k: int):
        return F.max(F.when(F.col("rn") == idx(k), F.col("val")))

    return ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("val").alias("min_val_u6"),
        F.max("val").alias("max_val_u6"),
        at(50).alias("p50_u6"), at(90).alias("p90_u6"), at(99).alias("p99_u6"),
    ).withColumnRenamed("grp", "event_type")


def q_dist_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dist_summary(load_table(spark, sf_dir, "events"))


_DIST_SUMMARY_SQL = """
WITH r AS (
  SELECT event_type AS grp,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS val,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
              ) AS BIGINT) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL
)
SELECT grp AS event_type, COUNT(*) AS n_rows,
  MIN(val) AS min_val_u6, MAX(val) AS max_val_u6,
  MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN val END) AS p50_u6,
  MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN val END) AS p90_u6,
  MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN val END) AS p99_u6
FROM r GROUP BY grp
"""


# ----------------------------------------------------- stratified_sample --
def stratified_sample(
    docs: DataFrame,
    rates: dict[str, int] | None = None,
    default_rate: int = STRATA_DEFAULT,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its md5 bucket
    (0..99, keyed on the row id) is below the stratum's percent rate.
    Pure projection+filter — zero shuffles, reproducible across engines
    and runs, and the whole predicate pushes toward the scan. This is
    the scale-safe form of "sample 35% of English docs": no
    ``TABLESAMPLE`` nondeterminism, no driver-side RNG state."""
    rates = STRATA_RATES if rates is None else rates
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("strat#"), F.col(id_col).cast("string"))
                    .cast("binary")
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 100
    )
    rate = F.lit(default_rate)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == k, v).otherwise(rate)
    return docs.withColumn("bucket", bucket).filter(F.col("bucket") < rate)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return stratified_sample(docs)


def _strat_case() -> str:
    legs = "\n    ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(STRATA_RATES.items())
    )
    return f"CASE lang\n    {legs}\n    ELSE {STRATA_DEFAULT} END"


_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source, n_chars, bucket FROM (
  SELECT doc_id, lang, source, n_chars,
    CAST(('0x' || substr(md5('strat#' || CAST(doc_id AS VARCHAR)), 1, 8))
         AS BIGINT) % 100 AS bucket
  FROM documents
)
WHERE bucket < ({_strat_case()})
"""


# ----------------------------------------------------------- split_assign --
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test gets the remainder


def split_assign(
    docs: DataFrame,
    group_col: str = "source",
    train_pct: int = SPLIT_TRAIN_PCT,
    val_pct: int = SPLIT_VAL_PCT,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic GROUP-AWARE train/val/test assignment: every row of
    one ``group_col`` value lands in the same split (hash the group, not
    the row), so near-duplicate documents from the same source can never
    straddle the train/test boundary — the standard leakage control for
    training corpora. Pure projection — ZERO shuffles, no RNG state,
    identical assignment on any engine, any run, any partitioning.

    The bucket is the first 8 md5 hex digits of the salted group key
    (same shared-hash recipe as ``stratified_sample``) mod 100; splits
    are contiguous bucket ranges."""
    return with_split(
        docs.select(F.col(id_col), F.col(group_col)), group_col, train_pct, val_pct
    )


def with_split(
    df: DataFrame,
    group_col: str = "source",
    train_pct: int = SPLIT_TRAIN_PCT,
    val_pct: int = SPLIT_VAL_PCT,
) -> DataFrame:
    """Append the deterministic ``bucket``/``split`` columns (the
    expression form of :func:`split_assign`, reusable mid-pipeline)."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("split#"), F.col(group_col).cast("string"))
                    .cast("binary")
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 100
    )
    split = (
        F.when(F.col("bucket") < train_pct, "train")
        .when(F.col("bucket") < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return df.withColumn("bucket", bucket).withColumn("split", split)


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return split_assign(load_table(spark, sf_dir, "documents"))


_SPLIT_ASSIGN_SQL = f"""
SELECT doc_id, source, bucket,
  CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
       WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
       ELSE 'test' END AS split
FROM (
  SELECT doc_id, source,
    CAST(('0x' || substr(md5('split#' || CAST(source AS VARCHAR)), 1, 8))
         AS BIGINT) % 100 AS bucket
  FROM documents
)
"""


# ------------------------------------------------------------ vocab_topk --
def vocab_topk(docs: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: top-k word-3-gram shingles by document
    frequency (shingles are distinct-per-doc, so COUNT(*) after the
    explode IS the doc frequency). The total order (doc_freq DESC,
    shingle ASC) is unique, so LIMIT selects the same set in any engine.
    Plan: explode → partial-count combine → single shuffle on shingle →
    TakeOrdered top-k (no global sort materialization)."""
    grams = docs.select(F.explode(word_shingles(F.col(text_col))).alias("shingle"))
    vocab = grams.groupBy("shingle").agg(F.count(F.lit(1)).alias("doc_freq"))
    return vocab.orderBy(F.desc("doc_freq"), "shingle").limit(k)


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_topk(load_table(spark, sf_dir, "documents"))


_VOCAB_TOPK_SQL = r"""
WITH
  w AS (SELECT doc_id, string_split_regex(trim(text, ' '), '[ \t\n\x0B\f\r]+') AS ws FROM documents),
  sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                ELSE array_to_string(ws, ' ') END AS shingle
    FROM w, unnest(generate_series(1, greatest(1, len(ws)-2))) AS t(i)
  )
SELECT shingle, doc_freq FROM (
  SELECT shingle, COUNT(*) AS doc_freq,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, shingle) AS rk
  FROM sh GROUP BY shingle
) WHERE rk <= 100
"""


# --------------------------------------------------------- pack_sequences --
PACK_BUDGET = 512  # tokens per training chunk


def pack_sequences(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    stream_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing, concat-and-chunk form (the standard LLM
    pretraining layout): per stream (``source``), documents are laid
    end-to-end in ``doc_id`` order and the token stream is cut into
    fixed ``budget``-token chunks; a document belongs to every chunk it
    overlaps. Returns the chunk manifest: ``source, chunk_id, n_docs,
    first_doc, last_doc, n_tokens`` (fill — ``budget`` except the final
    partial chunk).

    All offsets are integer math over the shared whitespace token count,
    so the manifest is bit-identical in any engine. Zero-token docs
    occupy no stream space and are dropped.

    Scale: ONE hash shuffle by stream — the running-offset window, the
    per-stream total, the chunk explode (bounded fan-out: a doc hits
    ``len/budget + 1`` chunks), and the (stream, chunk) aggregation all
    reuse that partitioning. Streams are independent, so at 100 TB this
    parallelizes per source shard; a single giant stream would serialize
    in the window sort. The fix for that shape is a two-phase per-stream
    prefix sum over id-range buckets (measured in SCALING.md; no query
    or data size here needs it).
    """
    from ..operators.text import token_count

    t = docs.select(
        F.col(stream_col).alias("source"),
        F.col(order_col).alias("doc_id"),
        token_count(F.col(text_col)).cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    w = W.partitionBy("source").orderBy("doc_id")
    ws = W.partitionBy("source")
    laid = (
        t.withColumn("end_off", F.sum("n_tok").over(w))
        .withColumn("start_off", F.col("end_off") - F.col("n_tok"))
        .withColumn("stream_total", F.max("end_off").over(ws))
    )
    exploded = laid.select(
        "source", "doc_id", "stream_total",
        F.explode(
            F.sequence(
                F.expr(f"start_off div {budget}"),
                F.expr(f"(end_off - 1) div {budget}"),
            )
        ).alias("chunk_id"),
    )
    return exploded.groupBy("source", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.least(
            F.lit(budget).cast("long"),
            F.first("stream_total") - F.col("chunk_id") * budget,
        ).alias("n_tokens"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(load_table(spark, sf_dir, "documents"))


_PACK_SEQUENCES_SQL = f"""
WITH t AS (
  SELECT source, doc_id,
    CASE WHEN length(trim(text, ' ')) = 0 THEN 0
         ELSE len(string_split_regex(trim(text, ' '), '[ \\t\\n\\x0B\\f\\r]+')) END AS n_tok
  FROM documents
),
nz AS (SELECT * FROM t WHERE n_tok > 0),
laid AS (
  SELECT source, doc_id, n_tok,
    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
  FROM nz
),
laid2 AS (
  SELECT *, end_off - n_tok AS start_off,
    MAX(end_off) OVER (PARTITION BY source) AS stream_total
  FROM laid
),
ex AS (
  SELECT source, doc_id, stream_total, chunk_id
  FROM laid2, unnest(generate_series(start_off // {PACK_BUDGET},
                                     (end_off - 1) // {PACK_BUDGET})) AS u(chunk_id)
)
SELECT source, chunk_id, COUNT(*) AS n_docs,
  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
  LEAST({PACK_BUDGET}, ANY_VALUE(stream_total) - chunk_id * {PACK_BUDGET}) AS n_tokens
FROM ex GROUP BY source, chunk_id
"""


# ------------------------------------------------------------ time_rollup --
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup in ONE pass:
    ``ROLLUP(event_type, month, day)`` compiles to a single Expand +
    one shuffle aggregation — versus three separate groupBy passes (and
    three scans) for the same result. Levels are disambiguated by ANSI
    ``GROUPING()`` flags (not null-ness, which a NULL dimension value
    could fake). Sum uses the decimal-fold pattern for cross-engine
    determinism."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
        F.col("ts").cast("date").alias("day"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    return base.rollup("event_type", "month", "day").agg(
        F.grouping("event_type").cast("int").alias("g_type"),
        F.grouping("month").cast("int").alias("g_month"),
        F.grouping("day").cast("int").alias("g_day"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").cast("double").alias("sum_value"),
    )


_TIME_ROLLUP_SQL = """
WITH base AS (
  SELECT event_type, date_trunc('month', ts)::DATE AS month, ts::DATE AS day,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events
)
SELECT event_type, month, day,
  CAST(GROUPING(event_type) AS INT) AS g_type,
  CAST(GROUPING(month) AS INT) AS g_month,
  CAST(GROUPING(day) AS INT) AS g_day,
  COUNT(*) AS n_events,
  CAST(SUM(v) AS DOUBLE) AS sum_value
FROM base GROUP BY ROLLUP(event_type, month, day)
"""


# ----------------------------------------------------------------- funnel --
FUNNEL_STEPS = ["signup", "view", "purchase"]


def funnel(
    events: DataFrame,
    steps: list[str] = FUNNEL_STEPS,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-sequence funnel: for each user, the earliest time each
    step was reached STRICTLY AFTER the previous step (the classic
    product-analytics operator; no reference counterpart). Returns
    ``user_id, t1_ms..tN_ms`` (epoch millis, NULL once the chain breaks)
    and ``stage`` (count of steps completed in order).

    Scale shape: one filtered scan per step + N hash aggregations, all
    keyed on ``user_id`` — the joins and aggs reuse the same hash
    partitioning (no cross-step window over the full event stream, no
    per-user sort of unmatched events). Earliest-after-previous uses
    ``min`` aggregates, so duplicate timestamps and out-of-order input
    change nothing."""
    ms = F.unix_millis(F.col(ts_col))
    base = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("etype"),
        ms.alias("ms"),
    )
    cur = (
        base.filter(F.col("etype") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ms").alias("t1_ms"))
    )
    for i, step in enumerate(steps[1:], start=2):
        prev_t = f"t{i - 1}_ms"
        nxt = (
            base.filter(F.col("etype") == step)
            .join(cur.select("user_id", prev_t), "user_id")
            .filter(F.col("ms") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ms").alias(f"t{i}_ms"))
        )
        cur = cur.join(nxt, "user_id", "left")
    stage = None
    for i in range(1, len(steps) + 1):
        leg = F.col(f"t{i}_ms").isNotNull().cast("int")
        stage = leg if stage is None else stage + leg
    return cur.select(
        "user_id",
        *[F.col(f"t{i}_ms") for i in range(1, len(steps) + 1)],
        stage.alias("stage"),
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel(load_table(spark, sf_dir, "events"))


def _funnel_sql() -> str:
    s1, s2, s3 = FUNNEL_STEPS
    return f"""
WITH base AS (
  SELECT user_id, event_type AS etype, epoch_ms(ts) AS ms FROM events
),
f1 AS (
  SELECT user_id, MIN(ms) AS t1_ms FROM base WHERE etype = '{s1}'
  GROUP BY user_id
),
f2 AS (
  SELECT b.user_id, MIN(b.ms) AS t2_ms
  FROM base b JOIN f1 USING (user_id)
  WHERE b.etype = '{s2}' AND b.ms > f1.t1_ms
  GROUP BY b.user_id
),
f3 AS (
  SELECT b.user_id, MIN(b.ms) AS t3_ms
  FROM base b JOIN f2 USING (user_id)
  WHERE b.etype = '{s3}' AND b.ms > f2.t2_ms
  GROUP BY b.user_id
)
SELECT f1.user_id, f1.t1_ms, f2.t2_ms, f3.t3_ms,
       1 + CAST(f2.t2_ms IS NOT NULL AS INT) + CAST(f3.t3_ms IS NOT NULL AS INT)
         AS stage
FROM f1 LEFT JOIN f2 USING (user_id) LEFT JOIN f3 USING (user_id)
"""


# -------------------------------------------------------- hist_quantiles --
HIST_LO, HIST_HI = 0.0, 512.0  # covers the events value domain (≤ ~490)


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles — the unbounded-group-count scale path
    that `dist_summary`'s exact per-group sort deliberately trades away:
    (group, bin) counts only, one hash agg, error ≤ one bin width,
    deterministic integer bin/ceil math (replays exactly in DuckDB)."""
    from ..operators.sketch import hist_quantiles

    ev = load_table(spark, sf_dir, "events")
    return hist_quantiles(ev, "event_type", "value", HIST_LO, HIST_HI)


def _hist_quantiles_sql() -> str:
    from ..operators.sketch import hist_quantiles_sql

    return hist_quantiles_sql("events", "event_type", "value", HIST_LO, HIST_HI)


# ------------------------------------------------------------ rolling_avg --
ROLLING_WINDOW_MS = 7 * 24 * 3600 * 1000  # trailing 7 days, inclusive


def q_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average per user (purchase events) — the
    RANGE-frame window class (peers by VALUE distance, not row offset),
    which no other suite query exercises. The frame is over epoch-millis
    longs, so frame membership is integer comparison in both engines;
    the average is the decimal-sum / count quotient of identical doubles.

    Scale: ONE hash shuffle by user_id; the range frame is computed by
    WindowExec's sliding accumulation within each sorted partition — no
    self-join, no per-row rescan."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    base = ev.select(
        "event_id", "user_id",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-(ROLLING_WINDOW_MS), 0)
    )
    return base.select(
        "event_id", "user_id", "ts_ms",
        F.col("v").cast("double").alias("value"),
        F.count(F.lit(1)).over(w).alias("n_window"),
        (F.sum("v").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "avg_7d"
        ),
    )


_ROLLING_AVG_SQL = f"""
WITH base AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE event_type = 'purchase'
)
SELECT event_id, user_id, ts_ms,
  CAST(v AS DOUBLE) AS value,
  COUNT(*) OVER w AS n_window,
  CAST(SUM(v) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_7d
FROM base
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts_ms
  RANGE BETWEEN {ROLLING_WINDOW_MS} PRECEDING AND CURRENT ROW
)
"""


# ---------------------------------------------------------- unpivot_wide --
UNPIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_unpivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → UNPIVOT round trip: the A2 MAX-CASE pivot builds the wide
    per-user table, then the relational UNPIVOT (melt) operator returns
    it to long form — the inverse operator the reference's report
    consumers would need to re-normalize wide exports. NULL cells are
    dropped on both engines (DuckDB UNPIVOT's default; explicit filter
    here).

    Scale: the pivot is ONE hash aggregation; unpivot is a projection
    (Expand) — no second shuffle."""
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        *[
            F.max(
                F.when(F.col("event_type") == t, F.col("value").cast("decimal(18,6)"))
            ).alias(t)
            for t in UNPIVOT_TYPES
        ]
    )
    long = wide.unpivot(["user_id"], UNPIVOT_TYPES, "metric", "value")
    return long.filter(F.col("value").isNotNull()).select(
        "user_id", "metric", F.col("value").cast("double").alias("value")
    )


def _unpivot_sql() -> str:
    cases = ",\n    ".join(
        f"MAX(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(18,6)) END)"
        f' AS "{t}"'
        for t in UNPIVOT_TYPES
    )
    on_cols = ", ".join(f'"{t}"' for t in UNPIVOT_TYPES)
    return f"""
WITH wide AS (
  SELECT user_id,
    {cases}
  FROM events GROUP BY user_id
)
SELECT user_id, metric, CAST(value AS DOUBLE) AS value
FROM (UNPIVOT wide ON {on_cols} INTO NAME metric VALUE value)
"""


# ------------------------------------------------------------- range_join --
RANGE_BIN_WIDTH = 5.0


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via the bin-bucketing operator: every 10th part
    defines a price band (deterministic double math on both engines);
    each event's value is matched to the bands containing it, then
    aggregated per band. The DuckDB oracle is the naive BETWEEN join —
    an independent O(n·m) evaluation of the same semantics."""
    from ..operators.intervals import range_join

    # The sf0.1 events file is one parquet split, so without this the
    # whole probe+aggregate runs on ONE task (local small-file artifact —
    # at real scale the scan is already thousands of splits and no
    # repartition is needed). Round-robin of narrow rows is cheap and the
    # decimal-fold aggregate is order-insensitive, so results are stable.
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "value")
        .repartition(32)
    )
    bands = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(
            "p_partkey",
            ((F.col("p_retailprice") - 900.0) * 4.0).alias("lo"),
            ((F.col("p_retailprice") - 900.0) * 4.0 + F.col("p_size")).alias("hi"),
        )
    )
    joined = range_join(ev, bands, "value", "lo", "hi", RANGE_BIN_WIDTH)
    return joined.groupBy("p_partkey").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


_RANGE_JOIN_SQL = """
WITH iv AS (
  SELECT p_partkey, (p_retailprice - 900.0) * 4.0 AS lo,
         (p_retailprice - 900.0) * 4.0 + p_size AS hi
  FROM part WHERE p_partkey % 10 = 0
)
SELECT p_partkey, COUNT(*) AS n_points,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e JOIN iv ON e.value >= iv.lo AND e.value <= iv.hi
GROUP BY p_partkey
"""


# -------------------------------------------------------- distinct_sketch --
def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic cardinality sketch (k=32 md5-permutation min-hash):
    per event type, the estimated AND exact distinct user count. The
    estimate itself hash-matches the DuckDB replay — something no
    HLL-based approx_count_distinct can do across engines (different
    algorithms/hashes). The sketch's shuffle row is k fixed-width
    doubles per group vs exact distinct's Expand over every value."""
    from ..operators.sketch import distinct_sketch

    ev = load_table(spark, sf_dir, "events")
    return distinct_sketch(
        ev, "event_type", "user_id", include_exact=True
    )


def _distinct_sketch_sql() -> str:
    # DuckDB twin of operators.sketch.distinct_sketch: the same staged
    # double-hash halves, k mins and fixed-order sum, plus the
    # exact_distinct column the driver query includes.
    from ..operators.sketch import SKETCH_K

    two32 = 4294967296
    mins = ",\n    ".join(
        f"MIN(CAST((__h1 + {i} * __h2) % {two32} AS DOUBLE) "
        f"/ CAST({two32} AS DOUBLE)) AS __m{i}"
        for i in range(SKETCH_K)
    )
    total = " + ".join(f"__m{i}" for i in range(SKETCH_K))
    return f"""
WITH h AS (
  SELECT event_type, user_id,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS __h1,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT) AS __h2
  FROM events
),
s AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct,
    {mins}
  FROM h GROUP BY event_type
)
SELECT event_type, exact_distinct,
  (CAST({SKETCH_K} AS DOUBLE) / ({total})) - CAST(1 AS DOUBLE) AS est_distinct
FROM s
"""


# -------------------------------------------------------------- asof_join --
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each 'purchase' event picks up the value of
    the user's latest preceding (ts-inclusive) 'signup' event. Spark
    side is the union+window operator (:mod:`..operators.asof`); the
    DuckDB oracle uses the engine's NATIVE ``ASOF LEFT JOIN`` — two
    independent algorithms that must agree row-for-row."""
    from ..operators.asof import as_of_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "signup")
    joined = as_of_join(
        left, right, key="user_id", ts="ts",
        payload_cols=["value"], right_id="event_id",
    )
    return joined.select(
        "event_id", "user_id",
        F.unix_millis(F.col("ts")).alias("ts_ms"), "value",
        F.unix_millis(F.col("asof_ts")).alias("asof_ts_ms"),
        F.col("asof_value"),
    )


_ASOF_JOIN_SQL = """
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'signup'
  ) WHERE rn = 1
)
SELECT l.event_id, l.user_id, epoch_ms(l.ts) AS ts_ms, l.value,
       epoch_ms(r.ts) AS asof_ts_ms, r.value AS asof_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


# ------------------------------------------------------------- event_paths --
# User-journey path mining: the most common 3-step event-type sequences
# within a session (same 30-minute gap rule as `sessionize`). The
# per-session ordered type list is built with sort_array over collected
# (ms, event_id, type) structs — collect_list alone has NO ordering
# guarantee across shuffles — and the trigrams fan out in-row via one
# HOF (bounded by session length), never by self-joining the stream.
# One user shuffle for sessionization, one session agg, one tiny path
# count.
PATH_TOP_K = 10


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis(F.col("ts")).alias("ms"),
    )
    wseq = W.partitionBy("user_id").orderBy("ms", "event_id")
    new_session = F.when(
        F.lag("ms").over(wseq).isNull()
        | (F.col("ms") - F.lag("ms").over(wseq) > SESSION_GAP_MS),
        1,
    ).otherwise(0)
    sess = base.withColumn("__new", new_session).withColumn(
        "session_seq",
        F.sum("__new")
        .over(wseq.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long"),
    )
    ordered = sess.groupBy("user_id", "session_seq").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ms, event_id, event_type))),"
            " x -> x.event_type)"
        ).alias("__types")
    )
    paths = ordered.filter(F.size("__types") >= 3).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(__types)-3),"
                " i -> concat(__types[i], '>', __types[i+1], '>', __types[i+2]))"
            )
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(PATH_TOP_K)
    )


_EVENT_PATHS_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, event_type,
         CAST(epoch_ms(ts) AS BIGINT) AS ms
  FROM events
),
flagged AS (
  SELECT *,
    CASE WHEN lag(ms) OVER w IS NULL
              OR ms - lag(ms) OVER w > {SESSION_GAP_MS} THEN 1 ELSE 0 END AS nw
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
),
sess AS (
  SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY ms, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS session_seq
  FROM flagged
),
ordered AS (
  SELECT user_id, session_seq,
         list(event_type ORDER BY ms, event_id) AS types
  FROM sess GROUP BY user_id, session_seq
),
paths AS (
  SELECT unnest(list_transform(range(1, len(types) - 1),
           i -> types[i] || '>' || types[i + 1] || '>' || types[i + 2])) AS path
  FROM ordered WHERE len(types) >= 3
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n
FROM paths GROUP BY path
ORDER BY n DESC, path ASC
LIMIT {PATH_TOP_K}
"""


def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key audit of the events table's user_id — the pre-shuffle
    check for the sessionize/funnel/rollup family that all key on it
    (operators/skew.py::skew_audit)."""
    from ..operators.skew import skew_audit

    return skew_audit(load_table(spark, sf_dir, "events"), "user_id")


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit→remedy closed loop (r5 verdict ask #7): run
    :func:`operators.skew.skew_audit` on ``events.user_id``, take the
    recommended salt fan-out for the hottest key (a 1-row bounded
    driver collect — same class as the CC convergence scalars), and
    aggregate with :func:`operators.skew.salted_agg` at that fan-out.
    The oracle is the NAIVE single-stage GROUP BY: the two-stage salted
    plan is required to be result-identical at whatever salt the audit
    recommends, which is exactly the property that makes salting a safe
    remedy at 100 TB. Decimal-sum pattern on the double column (module
    docstring of plans/testdata_queries.py)."""
    from ..operators.skew import salted_agg, skew_audit

    ev = load_table(spark, sf_dir, "events")
    rec = skew_audit(ev, "user_id", top_k=1).collect()[0]
    salt = max(2, rec["salt_rec"])
    staged = ev.select(
        "user_id", F.col("value").cast("decimal(18,6)").alias("v")
    )
    out = salted_agg(
        staged,
        ["user_id"],
        {
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "sum_value": (F.sum("v"), F.sum("sum_value")),
            "max_value": (F.max("v"), F.max("max_value")),
        },
        salt_buckets=salt,
    )
    return out.select(
        "user_id",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


_SALTED_AGG_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(MAX(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS max_value
FROM events GROUP BY user_id
"""


# ----------------------------------------------------------- training_order --
# Deterministic per-epoch training order: hash shards + intra-shard
# salted-md5 order = a full global pseudo-random permutation computed
# with ONE bounded-key shuffle — the 100 TB alternative to a global
# ORDER BY rand() sort. Data loaders consume shards round-robin; a new
# seed re-shuffles the epoch reproducibly.
ORDER_SEED = "epoch0#"
N_ORDER_SHARDS = 64


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-shuffle manifest: ``doc_id, order_key, shard, pos`` where
    order_key = md5(seed||doc_id), shard = salted-hash % N_ORDER_SHARDS
    and pos = rank of order_key within the shard. (shard, pos) is a
    deterministic permutation of the corpus — no coordinate ever depends
    on a global sort; the per-shard rank window sees ~n/shards rows, and
    shards scale with the cluster (set ≈ total cores at 100 TB)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    okey = F.md5(
        F.concat(F.lit(ORDER_SEED), F.col("doc_id").cast("string")).cast(
            "binary"
        )
    )
    shard = (
        F.conv(F.substring(okey, 1, 8), 16, 10).cast("long")
        % N_ORDER_SHARDS
    ).cast("int")
    staged = docs.select("doc_id", okey.alias("order_key"), shard.alias("shard"))
    w = W.partitionBy("shard").orderBy("order_key", "doc_id")
    return staged.select(
        "doc_id", "order_key", "shard", F.row_number().over(w).alias("pos")
    )


_TRAINING_ORDER_SQL = f"""
WITH o AS (
  SELECT doc_id,
         md5('{ORDER_SEED}' || CAST(doc_id AS VARCHAR)) AS order_key
  FROM documents
),
s AS (
  SELECT doc_id, order_key,
         CAST(CAST(('0x' || substr(order_key, 1, 8)) AS BIGINT)
              % {N_ORDER_SHARDS} AS INT) AS shard
  FROM o
)
SELECT doc_id, order_key, shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY shard
                          ORDER BY order_key, doc_id) AS INT) AS pos
FROM s
"""


PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sessionize": q_sessionize,
    "skew_audit": q_skew_audit,
    "salted_agg": q_salted_agg,
    "training_order": q_training_order,
    "dist_summary": q_dist_summary,
    "stratified_sample": q_stratified_sample,
    "split_assign": q_split_assign,
    "vocab_topk": q_vocab_topk,
    "asof_join": q_asof_join,
    "pack_sequences": q_pack_sequences,
    "time_rollup": q_time_rollup,
    "range_join": q_range_join,
    "distinct_sketch": q_distinct_sketch,
    "rolling_avg": q_rolling_avg,
    "unpivot_wide": q_unpivot_wide,
    "hist_quantiles": q_hist_quantiles,
    "funnel": q_funnel,
    "event_paths": q_event_paths,
}

PIPELINE_ORACLE: dict[str, str] = {
    "distinct_sketch": _distinct_sketch_sql(),
    "asof_join": _ASOF_JOIN_SQL,
    "pack_sequences": _PACK_SEQUENCES_SQL,
    "time_rollup": _TIME_ROLLUP_SQL,
    "range_join": _RANGE_JOIN_SQL,
    "sessionize": _SESSIONIZE_SQL,
    "skew_audit": skew_audit_sql("events", "user_id"),
    "salted_agg": _SALTED_AGG_SQL,
    "training_order": _TRAINING_ORDER_SQL,
    "dist_summary": _DIST_SUMMARY_SQL,
    "stratified_sample": _STRATIFIED_SAMPLE_SQL,
    "split_assign": _SPLIT_ASSIGN_SQL,
    "vocab_topk": _VOCAB_TOPK_SQL,
    "rolling_avg": _ROLLING_AVG_SQL,
    "unpivot_wide": _unpivot_sql(),
    "hist_quantiles": _hist_quantiles_sql(),
    "funnel": _funnel_sql(),
    "event_paths": _EVENT_PATHS_SQL,
}
