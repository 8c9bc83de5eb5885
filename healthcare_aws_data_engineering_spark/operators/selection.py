"""Data selection via importance resampling (DSIR).

The hashed n-gram importance-resampling selector of Xie et al., "Data
Selection for Language Models via Importance Resampling" (NeurIPS
2023), reduced to its engine core: featurize every document as a hashed
bag of unigrams+bigrams, fit bucketed categorical LMs for the TARGET
distribution (docs matching a predicate, e.g. the target language) and
the RAW distribution (the whole pool), weight each candidate document
by its target/raw log-likelihood ratio, and draw a without-replacement
sample of ``k`` via the Gumbel top-k trick (score = log w + Gumbel
noise; Vieira 2014).

Brief extension (training-data pipeline operators); no counterpart in
the reference app.

Scale shape: BOTH LM fits are a single fused hash aggregation over a
``buckets``-sized key space (raw count + conditional target count in
one scan; bounded output, map-side combining does the heavy lifting
inside each split), broadcast back as a tiny log-ratio table;
per-document scoring is a feature-explode that never
leaves its split followed by one map-side-combining agg on the doc key;
the final draw is a global top-k (TakeOrderedAndProject — no full
sort). Nothing corpus-sized shuffles twice, no all-pairs anywhere.

Cross-engine determinism (DuckDB oracle): feature buckets come from the
shared md5→int32 parse (Spark ``conv(substr(md5,1,8),16,10)``, DuckDB
``('0x'||substr)::BIGINT``); each bucket's two ``ln`` terms are snapped
to the DECIMAL(18,6) grid so the per-document sum is exact decimal
addition (order-free); the Gumbel draw is a deterministic md5-seeded
uniform, not a PRNG.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

DSIR_BUCKETS = 256
DSIR_K = 50
DSIR_TARGET_LANG = "en"
_GUMBEL_SALT = "gumbel#"
_U32 = 4294967296.0  # 2^32: md5 8-hex-digit prefix spans [0, 2^32)


def _bucket(feat: Column, buckets: int) -> Column:
    """Hashed-feature bucket id in [0, buckets): md5 prefix parsed as a
    32-bit int (always non-negative) mod the bucket count."""
    h = F.conv(F.substring(F.md5(feat), 1, 8), 16, 10).cast("long")
    return (h % F.lit(buckets)).alias("b")


def _features(docs: DataFrame) -> DataFrame:
    """``doc_id, lang, f``: one row per feature OCCURRENCE (bag
    semantics): the document's whitespace unigrams plus adjacent-pair
    bigrams, built in-row from the split array (zip of the array with
    its own shift — no window, no shuffle) and exploded once."""
    ws = F.split(F.trim(F.col("text")), r"\s+")
    bigrams = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return docs.select(
        F.col("doc_id"),
        F.col("lang"),
        F.explode(F.concat(ws, bigrams)).alias("f"),
    )


def dsir_select(docs: DataFrame) -> DataFrame:
    """Select the :data:`DSIR_K` documents OUTSIDE the target slice whose hashed
    n-gram profile best matches the target distribution, by Gumbel
    top-k over add-1-smoothed log importance weights.

    Returns (doc_id, n_feats, log_weight, dsir_score) — score-ranked,
    doubles snapped to the DECIMAL(18,6) grid for the driver hash.
    """
    feats = _features(docs).select(
        "doc_id", "lang", _bucket(F.col("f"), DSIR_BUCKETS)
    )
    is_target = F.col("lang") == DSIR_TARGET_LANG

    # both LMs in ONE pass over the feature stream: raw count + a
    # conditional target count per bucket (single scan, single shuffle
    # of a buckets-bounded key space)
    stats = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("rc"),
        F.count(F.when(is_target, 1)).alias("tc"),
    )
    # totals via an unpartitioned window over the ≤buckets-row stats —
    # NOT a separate .agg() (whose lineage would re-run the corpus scan
    # and feature explode a second time); one partition of ≤buckets rows
    # is bounded at any corpus size
    everything = W.partitionBy()
    rn = F.sum("rc").over(everything)
    tn = F.sum("tc").over(everything)

    def _snap_ln(expr: Column) -> Column:
        return F.log(expr).cast("decimal(18,6)")

    # bounded (≤ buckets rows): add-1-smoothed log p_target(b) − log p_raw(b),
    # each ln snapped to the decimal grid so downstream sums are exact
    lr = stats.select(
        "b",
        (
            _snap_ln((F.col("tc") + 1) / (tn + DSIR_BUCKETS).cast("double"))
            - _snap_ln((F.col("rc") + 1) / (rn + DSIR_BUCKETS).cast("double"))
        ).alias("lrd"),
    )

    per = (
        feats.filter(~is_target)
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.sum("lrd").alias("s"), F.count(F.lit(1)).alias("n_feats"))
    )

    # Gumbel top-k: u ~ md5-seeded uniform in (0,1), g = −ln(−ln u);
    # argmax-k of (log w + g) is a without-replacement draw ∝ w
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_GUMBEL_SALT), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(_U32)
    logw = F.col("s").cast("double")
    score = logw + -F.log(-F.log(u))

    def _snap(expr: Column, name: str) -> Column:
        return F.round(expr, 6).cast("decimal(18,6)").cast("double").alias(name)

    return (
        per.select(
            "doc_id",
            "n_feats",
            _snap(logw, "log_weight"),
            _snap(score, "dsir_score"),
            score.alias("_score"),
        )
        .orderBy(F.col("_score").desc(), "doc_id")
        .limit(DSIR_K)
        .drop("_score")
    )


def dsir_sql() -> str:
    """DuckDB oracle twin of :func:`dsir_select`, built from the same
    constants so the two engines can never drift."""
    return f"""
WITH
  w AS (SELECT doc_id, lang,
               string_split_regex(trim(text, ' '), '[ \\t\\n\\x0B\\f\\r]+') AS ws
        FROM documents),
  uni AS (
    SELECT doc_id, lang, ws[i] AS f
    FROM w, unnest(generate_series(1, len(ws))) AS t(i)
  ),
  big AS (
    SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS f
    FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
  ),
  feats AS (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % {DSIR_BUCKETS} AS b
    FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
  ),
  rc AS (SELECT b, COUNT(*) AS rc FROM feats GROUP BY b),
  tc AS (SELECT b, COUNT(*) AS tc FROM feats
         WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b),
  rtot AS (SELECT SUM(rc) AS rn FROM rc),
  ttot AS (SELECT SUM(tc) AS tn FROM tc),
  lr AS (
    SELECT rc.b,
      CAST(ln((COALESCE(tc.tc, 0) + 1)
              / CAST((SELECT tn FROM ttot) + {DSIR_BUCKETS} AS DOUBLE))
           AS DECIMAL(18,6))
      - CAST(ln((rc.rc + 1)
                / CAST((SELECT rn FROM rtot) + {DSIR_BUCKETS} AS DOUBLE))
             AS DECIMAL(18,6)) AS lrd
    FROM rc LEFT JOIN tc USING (b)
  ),
  per AS (
    SELECT f.doc_id, SUM(lr.lrd) AS s, COUNT(*) AS n_feats
    FROM feats f JOIN lr USING (b)
    WHERE f.lang <> '{DSIR_TARGET_LANG}'
    GROUP BY f.doc_id
  ),
  scored AS (
    SELECT doc_id, n_feats, CAST(s AS DOUBLE) AS logw,
      CAST(s AS DOUBLE)
      + (-ln(-ln((CAST(('0x' || substr(md5('{_GUMBEL_SALT}'
                  || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
              / {_U32}))) AS score
    FROM per
  )
SELECT doc_id, n_feats,
       CAST(CAST(round(logw, 6) AS DECIMAL(18,6)) AS DOUBLE) AS log_weight,
       CAST(CAST(round(score, 6) AS DECIMAL(18,6)) AS DOUBLE) AS dsir_score
FROM scored
ORDER BY score DESC, doc_id
LIMIT {DSIR_K}
"""
