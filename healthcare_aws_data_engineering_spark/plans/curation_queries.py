"""Corpus-curation driver queries: decontamination, BM25 retrieval,
repetition filtering, incremental batch admission, and deterministic
shard export (brief extensions; no reference counterpart).

Each query has a DuckDB oracle twin built from the same constants, so
thresholds/terms can never drift between the engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.decontam import (
    EVAL_PCT,
    bloom_decontaminate,
    decontaminate,
    decontaminate_sql,
    eval_bucket,
    ledger_decontaminate,
    shingle_ledger,
)
from ..operators.ingest import (
    incremental_dedup,
    incremental_dedup_sql,
    shard_manifest,
    shard_manifest_sql,
)
from ..operators.retrieval import bm25_sql, bm25_topk
from ..operators.selection import dsir_select, dsir_sql
from ..operators.text import repetition_stats
from ..sources.tables import load_table, spread

# Query terms: three common words + one rare ('dup' ~ 3% of the doc-freq
# of the common terms) so the idf spread actually exercises the BM25 math.
BM25_TERMS = ["spark", "vector", "stream", "dup"]
BM25_K = 25


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontaminate(load_table(spark, sf_dir, "documents"))


def q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned decontamination: fixed-size bitset probe in-row on
    the corpus side, exact verification join only over the candidate
    fraction — result-identical to `decontaminate`, so it shares that
    query's oracle verbatim (the strongest correctness statement a scale
    variant can make)."""
    return bloom_decontaminate(load_table(spark, sf_dir, "documents"))


def q_ledger_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot ledger decontamination (r14 stretch, promoted to a
    driver-oracled row in r15 via the capacity policy's retire clause):
    the corpus side is represented ONLY by its persisted-shape shingle
    ledger — fixed-width (doc_id, shingle_hash) rows, the artifact
    :func:`..streaming.decontam.shingle_ledger_ingest` accrues at ingest
    — and the eval split arrives as new text. Row-identical to
    `decontaminate` on the same table (hash-keyed instead of
    string-keyed probe; pinned in tests/test_decontam_ledger.py), so it
    shares that query's oracle verbatim — the same
    strongest-correctness-statement precedent as `bloom_decontam`."""
    from pyspark.sql import functions as F2

    docs = load_table(spark, sf_dir, "documents")
    bucket = eval_bucket(F2.col("doc_id"))
    return ledger_decontaminate(
        shingle_ledger(docs.filter(bucket >= EVAL_PCT)),
        docs.filter(bucket < EVAL_PCT),
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(load_table(spark, sf_dir, "documents"), BM25_TERMS, k=BM25_K)


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(spread(load_table(spark, sf_dir, "documents")))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return incremental_dedup(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------- lm_score --
LM_THRESHOLD = -3.42  # mean token logprob below this → 'surprising' doc


def lm_score(
    docs: DataFrame,
    threshold: float = LM_THRESHOLD,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram LM quality score (the CCNet-style statistical filter,
    reduced to its order-0 core): per document, the mean token
    log-probability under the corpus's own unigram distribution; docs far
    below the corpus norm are gibberish/outliers (``lm_flag``).

    Cross-engine determinism: each word's logprob is ONE ln of an
    identical rational (count/total) rounded to the DECIMAL(18,6) grid,
    and the per-doc sum is exact decimal addition — order-free, so the
    mean is bit-identical in DuckDB.

    Scale shape: the vocabulary aggregation is one hash agg whose output
    is language-sized (bounded) → BROADCAST back; the per-doc mean is one
    map-side-combining agg by ``doc_id`` (tokens of a doc never leave
    their split). Nothing corpus-sized shuffles.
    """
    from pyspark.sql import functions as F2

    toks = docs.select(
        F2.col(id_col).alias("doc_id"),
        F2.explode(F2.split(F2.trim(F2.col(text_col)), r"\s+")).alias("w"),
    )
    vocab = toks.groupBy("w").agg(F2.count(F2.lit(1)).alias("c"))
    # r9: the corpus total via an UNPARTITIONED window over the vocab
    # aggregate — the old crossJoin(broadcast(agg)) re-executed the
    # whole explode+agg subtree for one scalar (3 corpus scans -> 2).
    # The window funnels only the vocab through one task, and the vocab
    # is broadcast to every executor two lines later anyway: if it fits
    # a broadcast, it fits a task.
    from pyspark.sql import Window as _W

    w_all = _W.partitionBy().rowsBetween(
        _W.unboundedPreceding, _W.unboundedFollowing
    )
    lp = vocab.withColumn("n", F2.sum("c").over(w_all)).select(
        "w",
        F2.log(F2.col("c") / F2.col("n").cast("double"))
        .cast("decimal(18,6)")
        .alias("lpd"),
    )
    per = (
        toks.join(F2.broadcast(lp), "w")
        .groupBy("doc_id")
        .agg(F2.sum("lpd").alias("s"), F2.count(F2.lit(1)).alias("n_tokens"))
    )
    mean = F2.col("s").cast("double") / F2.col("n_tokens")
    return per.select(
        "doc_id",
        "n_tokens",
        # decimal-grid snap, DOUBLE out (driver-hash-safe cell kind)
        F2.round(mean, 6).cast("decimal(18,6)").cast("double").alias("mean_logprob"),
        (mean < threshold).alias("lm_flag"),
    )


BIGRAM_LM_THRESHOLD = -6.0  # mean bigram logprob below this -> flagged
BIGRAM_SMOOTH_K = 1  # Laplace add-k (integer: keeps every logprob a ln of a rational)


def bigram_lm_score(
    docs: DataFrame,
    threshold: float = BIGRAM_LM_THRESHOLD,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Bigram LM quality score — the order-1 step past :func:`lm_score`
    toward CCNet's KenLM filter: per document, the mean conditional
    log-probability ln P(w_i | w_{i-1}) under the corpus's OWN
    Laplace-smoothed bigram model,

        P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + k) / (c(w_{i-1}) + k·V)

    with k = ``BIGRAM_SMOOTH_K`` and V the corpus unigram vocabulary
    size. Word-salad scores far below the corpus norm even when every
    individual word is common — the signal unigram lm_score cannot see.
    Documents with fewer than two tokens have no bigram and no row.

    Cross-engine determinism, same recipe as lm_score: every bigram's
    logprob is ONE ln of a rational of integers snapped to the
    DECIMAL(18,6) grid; per-doc sums are exact decimal addition.

    Scale shape: bigram pairs are built IN-ROW (zip_with against the
    word array's own shifted slice — no token self-join); the bigram
    and unigram count tables are bounded-key hash aggs (vocabulary-
    scale, Heaps' law) broadcast back; the per-doc mean is one
    map-side-combining agg by doc_id. Nothing corpus-sized shuffles.
    At web scale the bigram table outgrows comfortable broadcast before
    the unigram one does — ``min_count`` is that floor (r14 advice):
    bigrams seen fewer than ``min_count`` times are dropped from the
    logprob table and priced by the unseen-transition coalesce floor
    instead, so the Laplace term absorbs the pruned tail as unseen
    mass. The lp join is deliberately UNHINTED — AQE broadcasts it
    while it is small and demotes to a shuffle join when it is not
    (the ``dedup_weighted`` precedent); the unigram table stays hinted
    (vocabulary-bounded by Heaps' law). The default ``min_count=1``
    (no pruning) is what the tests and the driver oracle pin.
    """
    from pyspark.sql import Window as _W, functions as F2

    ws = F2.split(F2.trim(F2.col(text_col)), r"\s+")
    pair = F2.filter(
        F2.zip_with(
            ws,
            F2.slice(ws, 2, F2.greatest(F2.size(ws) - 1, F2.lit(0))),
            lambda a, b: F2.when(
                a.isNotNull() & b.isNotNull(), F2.concat(a, F2.lit(" "), b)
            ),
        ),
        lambda g: g.isNotNull(),
    )
    toks = docs.select(
        F2.col(id_col).alias("doc_id"), F2.explode(ws).alias("w")
    )
    bigs = docs.select(
        F2.col(id_col).alias("doc_id"), F2.explode(pair).alias("bg")
    )
    uni = toks.groupBy("w").agg(F2.count(F2.lit(1)).alias("cu"))
    # V via the lm_score r9 pattern: one unpartitioned window over the
    # vocab aggregate (vocabulary-sized funnel, never a corpus scan)
    w_all = _W.partitionBy().rowsBetween(
        _W.unboundedPreceding, _W.unboundedFollowing
    )
    uni = uni.withColumn("v", F2.count(F2.lit(1)).over(w_all))
    big = bigs.groupBy("bg").agg(F2.count(F2.lit(1)).alias("cb"))
    if min_count > 1:
        big = big.filter(F2.col("cb") >= min_count)
    k = BIGRAM_SMOOTH_K
    # logprob table keyed by bigram: join unigram stats of the LEFT word
    lp = (
        big.withColumn("w", F2.split_part(F2.col("bg"), F2.lit(" "), F2.lit(1)))
        .join(F2.broadcast(uni), "w")
        .select(
            "bg",
            F2.log(
                (F2.col("cb") + F2.lit(k))
                / (F2.col("cu") + F2.lit(k) * F2.col("v")).cast("double")
            )
            .cast("decimal(18,6)")
            .alias("lpd"),
        )
    )
    # unseen-bigram floor per LEFT word: ln(k / (cu + k·V)) — what a doc
    # pays for a transition the corpus never saw (possible only for
    # docs outside the training corpus; self-scoring always joins)
    per = (
        bigs.withColumn(
            "w", F2.split_part(F2.col("bg"), F2.lit(" "), F2.lit(1))
        )
        # UNHINTED lp join (r14 advice): at web scale the bigram table
        # is the first to outgrow broadcast — let AQE pick the strategy
        .join(lp, "bg", "left")
        .join(F2.broadcast(uni), "w")
        .select(
            "doc_id",
            F2.coalesce(
                F2.col("lpd"),
                F2.log(
                    F2.lit(k)
                    / (F2.col("cu") + F2.lit(k) * F2.col("v")).cast("double")
                ).cast("decimal(18,6)"),
            ).alias("lpd"),
        )
        .groupBy("doc_id")
        .agg(F2.sum("lpd").alias("s"), F2.count(F2.lit(1)).alias("n_bigrams"))
    )
    mean = F2.col("s").cast("double") / F2.col("n_bigrams")
    return per.select(
        "doc_id",
        "n_bigrams",
        F2.round(mean, 6).cast("decimal(18,6)").cast("double").alias(
            "mean_bigram_logprob"
        ),
        (mean < threshold).alias("bigram_lm_flag"),
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_score(load_table(spark, sf_dir, "documents"))


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-1 LM filter (r14, promoted to a driver-oracled row in r15
    via the capacity policy's retire clause) at its pinned defaults:
    unpruned bigram table, Laplace k=1, threshold -6.0."""
    return bigram_lm_score(load_table(spark, sf_dir, "documents"))


_LM_SCORE_SQL = rf"""
WITH
  w AS (SELECT doc_id, string_split_regex(trim(text, ' '), '[ \t\n\x0B\f\r]+') AS ws FROM documents),
  tok AS (
    SELECT doc_id, ws[i] AS w
    FROM w, unnest(generate_series(1, len(ws))) AS t(i)
  ),
  vocab AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
  tot AS (SELECT SUM(c) AS n FROM vocab),
  lp AS (
    SELECT w, CAST(ln(c / CAST((SELECT n FROM tot) AS DOUBLE))
                   AS DECIMAL(18,6)) AS lpd
    FROM vocab
  ),
  per AS (
    SELECT doc_id, SUM(lpd) AS s, COUNT(*) AS n_tokens
    FROM tok JOIN lp USING (w) GROUP BY doc_id
  )
SELECT doc_id, n_tokens,
       CAST(CAST(round(CAST(s AS DOUBLE) / n_tokens, 6) AS DECIMAL(18,6))
            AS DOUBLE) AS mean_logprob,
       CAST(s AS DOUBLE) / n_tokens < {LM_THRESHOLD} AS lm_flag
FROM per
"""

# Oracle twin of q_bigram_lm_score, built from the SAME constants so the
# smoothing k / threshold can never drift. Same determinism recipe as
# _LM_SCORE_SQL: every bigram's logprob is ONE ln of a rational of
# integers — (cb + k) / (cu + k·V) — snapped to the DECIMAL(18,6) grid,
# per-doc sums are exact decimal addition, and the mean's final
# round+snap matches the Spark side cast-for-cast. Self-scoring means
# every document bigram exists in the count table, so the Spark side's
# unseen-transition coalesce floor is dead code here and the oracle can
# use a plain inner join.
_BIGRAM_LM_SCORE_SQL = rf"""
WITH
  w AS (SELECT doc_id, string_split_regex(trim(text, ' '), '[ \t\n\x0B\f\r]+') AS ws FROM documents),
  tok AS (
    SELECT doc_id, ws[i] AS w
    FROM w, unnest(generate_series(1, len(ws))) AS t(i)
  ),
  uni AS (SELECT w, COUNT(*) AS cu FROM tok GROUP BY w),
  vv AS (SELECT COUNT(*) AS v FROM uni),
  big AS (
    SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
    FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
    WHERE len(ws) >= 2
  ),
  bc AS (SELECT bg, COUNT(*) AS cb FROM big GROUP BY bg),
  lp AS (
    SELECT bg,
           CAST(ln((cb + {BIGRAM_SMOOTH_K})
                   / CAST(cu + {BIGRAM_SMOOTH_K} * (SELECT v FROM vv)
                          AS DOUBLE))
                AS DECIMAL(18,6)) AS lpd
    FROM bc JOIN uni ON uni.w = split_part(bg, ' ', 1)
  ),
  per AS (
    SELECT doc_id, SUM(lpd) AS s, COUNT(*) AS n_bigrams
    FROM big JOIN lp USING (bg) GROUP BY doc_id
  )
SELECT doc_id, n_bigrams,
       CAST(CAST(round(CAST(s AS DOUBLE) / n_bigrams, 6) AS DECIMAL(18,6))
            AS DOUBLE) AS mean_bigram_logprob,
       CAST(s AS DOUBLE) / n_bigrams < {BIGRAM_LM_THRESHOLD} AS bigram_lm_flag
FROM per
"""


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shard_manifest(load_table(spark, sf_dir, "documents"))


# -------------------------------------------------------------- rrf_fusion --
# Hybrid retrieval: fuse the BM25 keyword leg with the exact-cosine
# semantic leg via reciprocal-rank fusion (retrieval.rrf_fuse). The
# semantic query is embedding vec_id = 0 (doc ids and vec ids share the
# same key space in the testdata); both legs retrieve to depth
# RRF_DEPTH, fusion keeps the top RRF_K.
RRF_DEPTH = 50
RRF_K = 25
RRF_C = 60
RRF_QUERY_VEC = 0
_EMB_DIM = 64


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as F2

    from ..operators import similarity as S
    from ..operators.retrieval import rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    kw = bm25_topk(docs, BM25_TERMS, k=RRF_DEPTH).select(
        "doc_id",
        F2.row_number()
        .over(_W.orderBy(F2.desc("score"), F2.asc("doc_id")))
        .alias("rank"),
    )
    sem = S.cosine_topk(
        embs,
        embs.filter(F2.col("vec_id") == RRF_QUERY_VEC),
        k=RRF_DEPTH,
        exact=True,
    ).select(F2.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse(kw, sem, k=RRF_K, c=RRF_C)


def _rrf_fusion_sql() -> str:
    """Oracle twin of :func:`q_rrf_fusion`: the proven bm25_sql text as
    the keyword leg, the proven decimal-accumulated cosine CTE shape
    (training_data_queries._ANN_COSINE_SQL) as the semantic leg, RRF on
    the integer ranks with the same fixed-order double sum and
    DECIMAL(18,6) snap."""
    kw_leg = bm25_sql("documents", BM25_TERMS, k=RRF_DEPTH)
    one = "CAST(1 AS DOUBLE)"
    return f"""
WITH
  kw AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
    FROM ({kw_leg})
  ),
  q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {RRF_QUERY_VEC}),
  c AS (SELECT vec_id AS doc_id, embedding AS ce
        FROM embeddings WHERE vec_id <> {RRF_QUERY_VEC}),
  terms AS (
    SELECT doc_id,
      CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) AS qc,
      CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) AS qq,
      CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) AS cc
    FROM c, q, unnest(generate_series(1, {_EMB_DIM})) AS t(i)
  ),
  sums AS (
    SELECT doc_id,
      CAST(SUM(CAST(qc AS DECIMAL(28,12))) AS DOUBLE) AS dot,
      CAST(SUM(CAST(qq AS DECIMAL(28,12))) AS DOUBLE) AS nq,
      CAST(SUM(CAST(cc AS DECIMAL(28,12))) AS DOUBLE) AS nc
    FROM terms GROUP BY doc_id
  ),
  sem AS (
    SELECT doc_id, r FROM (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC, doc_id ASC
             ) AS r
      FROM sums
    ) WHERE r <= {RRF_DEPTH}
  ),
  fused AS (
    SELECT COALESCE(kw.doc_id, sem.doc_id) AS doc_id,
           kw.r AS kw_rank, sem.r AS sem_rank,
           CAST(round(
             COALESCE({one} / ({RRF_C} + kw.r), CAST(0 AS DOUBLE))
             + COALESCE({one} / ({RRF_C} + sem.r), CAST(0 AS DOUBLE)), 6)
           AS DECIMAL(18,6)) AS s
    FROM kw FULL OUTER JOIN sem ON kw.doc_id = sem.doc_id
  )
SELECT doc_id, kw_rank, sem_rank, CAST(s AS DOUBLE) AS rrf_score, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC) AS rank
  FROM fused
) WHERE rank <= {RRF_K}
"""


# -------------------------------------------------------------- pii_redact --
# Driver leg for the PII scrubber (operators/text.py::redact_pii). The
# r2 waiver ("Java regex vs DuckDB RE2 parity not provable on arbitrary
# text") is closed by CONTROLLING the text: documents.text is verified
# digit-free, so every match comes from the deterministic PII suffix
# synthesized below, where the shared patterns (ASCII character classes,
# counted repeats, \b, optional groups — a subset Java and RE2 treat
# identically) cannot diverge. Patterns are rendered into the oracle SQL
# from the SAME PII_PATTERNS constants, so they can never drift.


def _pii_raw_spark() -> "F2.Column":  # noqa: F821
    from pyspark.sql import functions as F2

    d = F2.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return F2.concat(
        F2.substring(F2.col("text"), 1, 60),
        F2.lit(" contact user"), s(d), F2.lit("@example.com"),
        F2.when(
            d % 2 == 0,
            F2.concat(
                F2.lit(" call ("), s(F2.lit(200) + d % 700), F2.lit(") "),
                s(F2.lit(100) + d % 900), F2.lit("-"), s(F2.lit(1000) + d % 9000),
            ),
        ).otherwise(F2.lit("")),
        F2.when(
            d % 3 == 0,
            F2.concat(
                F2.lit(" ssn "), s(F2.lit(100) + d % 900), F2.lit("-"),
                s(F2.lit(10) + d % 90), F2.lit("-"), s(F2.lit(1000) + d % 9000),
            ),
        ).otherwise(F2.lit("")),
        F2.when(
            d % 5 == 0,
            F2.concat(
                F2.lit(" ip 10."), s(d % 256), F2.lit(".0."), s(d % 250),
                F2.lit(" end"),
            ),
        ).otherwise(F2.lit("")),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F2

    from ..operators.text import PII_PATTERNS, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    names = ["n_emails", "n_ips", "n_ssns", "n_phones"]
    raw = docs.select("doc_id", _pii_raw_spark().alias("raw"))
    return raw.select(
        "doc_id",
        redact_pii(F2.col("raw")).alias("redacted"),
        *[
            F2.regexp_count(F2.col("raw"), F2.lit(pat)).cast("long").alias(n)
            for n, (pat, _) in zip(names, PII_PATTERNS)
        ],
    )


def _pii_redact_sql() -> str:
    from ..operators.text import PII_PATTERNS

    raw = """substr(text, 1, 60)
      || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      || CASE WHEN doc_id % 2 = 0 THEN
           ' call (' || CAST(200 + doc_id % 700 AS VARCHAR) || ') '
           || CAST(100 + doc_id % 900 AS VARCHAR) || '-'
           || CAST(1000 + doc_id % 9000 AS VARCHAR)
         ELSE '' END
      || CASE WHEN doc_id % 3 = 0 THEN
           ' ssn ' || CAST(100 + doc_id % 900 AS VARCHAR) || '-'
           || CAST(10 + doc_id % 90 AS VARCHAR) || '-'
           || CAST(1000 + doc_id % 9000 AS VARCHAR)
         ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN
           ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
           || CAST(doc_id % 250 AS VARCHAR) || ' end'
         ELSE '' END"""
    red = "raw"
    for pat, tag in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    names = ["n_emails", "n_ips", "n_ssns", "n_phones"]
    counts = ",\n  ".join(
        f"CAST(len(regexp_extract_all(raw, '{pat}')) AS BIGINT) AS {n}"
        for n, (pat, _) in zip(names, PII_PATTERNS)
    )
    return f"""
WITH r AS (SELECT doc_id, {raw} AS raw FROM documents)
SELECT doc_id,
  {red} AS redacted,
  {counts}
FROM r
"""


_REPETITION_SQL = r"""
WITH
  w AS (SELECT doc_id, string_split_regex(trim(text, ' '), '[ \t\n\x0B\f\r]+') AS ws FROM documents),
  tok AS (
    SELECT doc_id, ws[i] AS w
    FROM w, unnest(generate_series(1, len(ws))) AS t(i)
  ),
  wc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
  a1 AS (
    SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd, MAX(c) AS topw
    FROM wc GROUP BY doc_id
  ),
  big AS (
    SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
    FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
    WHERE len(ws) >= 2
  ),
  bc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY doc_id, g),
  a2 AS (SELECT doc_id, SUM(c) AS nb, MAX(c) AS topb FROM bc GROUP BY doc_id)
SELECT a1.doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(nd AS BIGINT) AS n_distinct,
       CAST(CAST(round(nd / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS DOUBLE)
         AS distinct_ratio,
       CAST(CAST(round(topw / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS DOUBLE)
         AS top_word_frac,
       CAST(CAST(round(COALESCE(topb / CAST(nb AS DOUBLE), 0.0), 6) AS DECIMAL(18,6))
            AS DOUBLE) AS top_bigram_frac,
       (topw / CAST(n AS DOUBLE) > {topw_max}
        OR COALESCE(topb / CAST(nb AS DOUBLE), 0.0) > {topb_max}
        OR nd / CAST(n AS DOUBLE) < {nd_min}) AS repetitive
FROM a1 LEFT JOIN a2 USING (doc_id)
"""


def _repetition_sql() -> str:
    from ..operators.text import (
        DISTINCT_RATIO_MIN,
        TOP_BIGRAM_FRAC_MAX,
        TOP_WORD_FRAC_MAX,
    )

    return _REPETITION_SQL.format(
        topw_max=TOP_WORD_FRAC_MAX,
        topb_max=TOP_BIGRAM_FRAC_MAX,
        nd_min=DISTINCT_RATIO_MIN,
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/selection.py): the 50 non-English
    documents whose hashed uni+bigram profile is most English-like,
    drawn without replacement via deterministic Gumbel top-k."""
    return dsir_select(spread(load_table(spark, sf_dir, "documents")))


CURATION_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "decontaminate": q_decontaminate,
    "bloom_decontam": q_bloom_decontam,
    "ledger_decontaminate": q_ledger_decontaminate,
    "bm25_search": q_bm25_search,
    "repetition_filter": q_repetition_filter,
    "incremental_dedup": q_incremental_dedup,
    "shard_manifest": q_shard_manifest,
    "lm_score": q_lm_score,
    "bigram_lm_score": q_bigram_lm_score,
    "pii_redact": q_pii_redact,
    "rrf_fusion": q_rrf_fusion,
    "dsir_select": q_dsir_select,
}

CURATION_ORACLE: dict[str, str] = {
    "decontaminate": decontaminate_sql("documents"),
    # identical semantics, different physical plan: the bloom path is
    # pinned to the SAME oracle as the exact path.
    "bloom_decontam": decontaminate_sql("documents"),
    # identical semantics again: the ledger path probes xxhash64 keys
    # instead of shingle strings (collision odds ~n²/2⁶⁵ — zero on this
    # corpus, pinned in tests/test_decontam_ledger.py), so it shares the
    # exact path's oracle too.
    "ledger_decontaminate": decontaminate_sql("documents"),
    "bm25_search": bm25_sql("documents", BM25_TERMS, k=BM25_K),
    "repetition_filter": _repetition_sql(),
    "incremental_dedup": incremental_dedup_sql("documents"),
    "shard_manifest": shard_manifest_sql("documents"),
    "lm_score": _LM_SCORE_SQL,
    "bigram_lm_score": _BIGRAM_LM_SCORE_SQL,
    "pii_redact": _pii_redact_sql(),
    "rrf_fusion": _rrf_fusion_sql(),
    "dsir_select": dsir_sql("documents"),
}
