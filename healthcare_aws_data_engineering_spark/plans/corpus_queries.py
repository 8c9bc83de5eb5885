"""Round-3 corpus-pipeline driver queries (brief extensions; no
reference counterpart): span-level substring dedup, overlapping
context-window chunking, temperature-based source mixing, cross-source
contamination overlap, JSON property extraction, and count-min-sketch
heavy hitters.

Every query emits only BIGINT / VARCHAR / exact-double cells and has a
DuckDB oracle twin generated from the same constants, so thresholds and
hash families can never drift between the engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.chunking import CHUNK_STRIDE, CHUNK_WINDOW, chunk_documents, chunk_sql
from ..operators.sketch import cms_heavy_hitters, cms_sql
from ..operators.spans import (
    SPAN_TOKENS,
    repeated_spans,
    repeated_spans_sql,
    scrub_repeated,
    scrub_repeated_sql,
    span_dedup,
    span_dedup_sql,
)
from ..operators.text import token_count, token_count_sql, tokens, tokens_sql
from ..sources.tables import load_table, spread

# Every word-level query below tokenizes through the ONE shared tokenizer
# (operators/text.py tokens()/tokens_sql(), i.e. split on \s+ after trim)
# so token streams can never differ between operators or engines. The
# deliberate exceptions in this module are span_dedup and doc_chunks,
# whose operators split on a single space because they RE-JOIN tokens to
# reconstruct chunk/span text byte-exactly (see operators/chunking.py).

# ------------------------------------------------------------- span_dedup --


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_dedup(load_table(spark, sf_dir, "documents"), SPAN_TOKENS)


# ---------------------------------------------------------- repeated_spans --


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repeated_spans(load_table(spark, sf_dir, "documents"))


# -------------------------------------------------------------- span_scrub --


def q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scrub_repeated(load_table(spark, sf_dir, "documents"))


# -------------------------------------------------------------- doc_chunks --


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(
        load_table(spark, sf_dir, "documents"), CHUNK_WINDOW, CHUNK_STRIDE
    )


# ------------------------------------------------------------- mix_weights --
# Temperature-based source mixing (the data-mixture step of LLM
# training): sample source i proportionally to (token count)^alpha.
# alpha = 0.5 — i.e. sqrt — on purpose: IEEE-754 sqrt is CORRECTLY
# ROUNDED in both the JVM and DuckDB, while pow(x, 0.7) is libm-
# dependent, so sqrt is the one exponent whose weights replay
# bit-identically across engines. Weights are snapped to a 1e-6 integer
# grid BEFORE normalization so the sum is exact BIGINT addition
# (order-free), and the per-source share is one double divide + round
# on identical operands. Scale shape: one map-side-combining hash agg
# by source (sources are bounded), broadcast total — nothing else.
MIX_EPOCH_DOCS = 100_000


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select(
            "source", token_count(F.col("text")).cast("long").alias("__t")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("n_tokens"),
        )
        .withColumn(
            "weight_u6",
            F.round(F.sqrt(F.col("n_tokens").cast("double")) * 1e6).cast("long"),
        )
    )
    # total via an UNPARTITIONED window over the bounded per-source
    # table (r9): the old crossJoin(broadcast(agg)) re-executed the
    # per_source subtree — scanning the TEXT column twice per run. The
    # window costs one single-partition exchange of |sources| slim rows
    # and keeps ONE text scan.
    from pyspark.sql import Window as _W

    w_all = _W.partitionBy().rowsBetween(
        _W.unboundedPreceding, _W.unboundedFollowing
    )
    return (
        per_source.withColumn("__total", F.sum("weight_u6").over(w_all))
        .withColumn(
            "share_e6",
            F.round(
                F.lit(1e6)
                * (
                    F.col("weight_u6").cast("double")
                    / F.col("__total").cast("double")
                )
            ).cast("long"),
        )
        .withColumn(
            "docs_per_epoch",
            F.expr(f"CAST(({MIX_EPOCH_DOCS} * share_e6) DIV 1000000 AS BIGINT)"),
        )
        .select("source", "n_docs", "n_tokens", "weight_u6", "share_e6", "docs_per_epoch")
    )


_MIX_WEIGHTS_SQL = f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM({token_count_sql('text')}) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs, n_tokens,
         CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS weight_u6
  FROM per_source
),
t AS (SELECT SUM(weight_u6) AS total FROM w)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens, weight_u6,
       CAST(round(CAST(1000000 AS DOUBLE)
            * (CAST(weight_u6 AS DOUBLE) / CAST(total AS DOUBLE))) AS BIGINT) AS share_e6,
       CAST(({MIX_EPOCH_DOCS} * CAST(round(CAST(1000000 AS DOUBLE)
            * (CAST(weight_u6 AS DOUBLE) / CAST(total AS DOUBLE))) AS BIGINT)) // 1000000
            AS BIGINT) AS docs_per_epoch
FROM w, t
"""


# ------------------------------------------------------------ mixture_draw --
# Materialize the training mixture mix_weights only PLANS (r8): the
# epoch-aware upsampled draw LLM pipelines actually feed the trainer —
# source s with target T_s docs and population n_s contributes
# floor(T_s/n_s) full epochs of every doc plus one PARTIAL epoch where
# each doc survives iff its 48-bit md5 draw key falls under a
# per-source threshold ≈ frac·2^48.
#
# Scale shape — deliberately ZERO windows and zero per-source sorts on
# the DOC side: map-side-combined counts by source (bounded; since r9
# the factor table is driver-materialized, so the token-counting text
# scan runs exactly once however many legs reference it), the tiny
# factor table broadcast back, then explode over sequence(0,
# ceil(T/n)-1) and a hash-threshold filter — the DOC side is pure
# projection+filter with no shuffle at all, so the draw is
# embarrassingly parallel and replayable (same snapshot + same targets
# → byte-identical draw, the property a resumable training run needs).
# Output size is bounded by construction: Σ_s ceil-epoch rows ≈ Σ T_s =
# the epoch budget, NOT corpus × factor. The partial-epoch count is
# binomial around frac·n_s (a deterministic hash has no coupon-
# collector guarantee) — the trade every hash-threshold sampler makes;
# an exact-count draw would need the per-source rank the boundary-
# bucket hatch exists for.
#
# The threshold is floor(frac_num/n · 2^48) computed with one double
# divide+multiply+floor on identical integers — identical in both
# engines (the integer-only form frac_num·2^48 DIV n would overflow
# BIGINT past n = 2^15).
MIXTURE_DRAW_EPOCH_DOCS = 2_000
_HASH48 = float(2**48)


def mixture_factors(
    docs: DataFrame, epoch_docs: int, n_tokens_col: str | None = None
) -> DataFrame:
    """The bounded per-source factor table (source, __n, __full, __thr,
    __r) behind :func:`mixture_draw`: sqrt-temperature weights →
    integer-grid shares → per-source full-epoch count, partial-epoch
    hash threshold, and exact-mode remainder. Lazy plan — callers
    materialize it via :func:`materialize_factors` (once per corpus
    snapshot, however many draws consume it)."""
    tok = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else token_count(F.col("text")).cast("long")
    )
    per_source = (
        docs.select("source", tok.alias("__t"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__t").alias("__tok"))
        .withColumn(
            "__w",
            F.round(F.sqrt(F.col("__tok").cast("double")) * 1e6).cast("long"),
        )
    )
    total = per_source.agg(F.sum("__w").alias("__total"))
    return (
        per_source.crossJoin(F.broadcast(total))
        .withColumn(
            "__share",
            F.round(
                F.lit(1e6) * (F.col("__w").cast("double") / F.col("__total").cast("double"))
            ).cast("long"),
        )
        .withColumn(
            "__target",
            F.expr(f"CAST(({epoch_docs} * __share) DIV 1000000 AS BIGINT)"),
        )
        .withColumn("__full", F.expr("__target DIV __n"))
        .withColumn(
            "__thr",
            F.floor(
                (F.col("__target") % F.col("__n")).cast("double")
                / F.col("__n").cast("double")
                * F.lit(_HASH48)
            ).cast("long"),
        )
        .withColumn("__r", F.expr("__target % __n"))
        .select("source", "__n", "__full", "__thr", "__r")
    )


def materialize_factors(docs: DataFrame, factors: DataFrame) -> DataFrame:
    """Materialize the bounded per-source factor table on the driver
    (the bloom/ML-params house pattern): the doc side references it
    from TWO subtrees (three for exact=True — full leg, partial leg,
    bucket marks), and Spark re-executes lineage per subtree, so a
    lazy factor plan re-scans the TEXT column (the dominant cost at
    100 TB) once per leg. Collected, the token-counting scan runs
    exactly once and each leg broadcasts a local relation. Rows are
    bounded by |sources| — categorical, never corpus-scale."""
    return docs.sparkSession.createDataFrame(
        factors.collect(), factors.schema
    )


def mixture_draw(
    docs: DataFrame,
    epoch_docs: int,
    n_tokens_col: str | None = None,
    exact: bool = False,
    n_key_buckets: int = 4096,
    factors: DataFrame | None = None,
) -> DataFrame:
    """Library form (used by examples/curation_pipeline.py): draw an
    epoch of ``epoch_docs`` documents from any frame with (doc_id,
    source) — sqrt-temperature weights from ``n_tokens_col`` if given,
    else tokenized from ``text``. Output: (doc_id, source, epoch,
    draw_key).

    ``exact=False`` (default, the oracle-pinned semantics): the partial
    epoch keeps docs whose 48-bit hash key falls under a per-source
    threshold — binomial around the target, zero shuffles on the doc
    side.

    ``exact=True``: the partial epoch keeps EXACTLY ``target % n`` docs
    per source — the ``target % n`` SMALLEST draw keys, so the kept set
    is a prefix of the same hash order the approximate path thresholds
    (one draw is always a prefix of the other, test-pinned). Shape is a
    boundary-bucket two-phase over the key space, which needs no skew
    guard because md5 keys are uniform by construction — a bucket is
    ~n/B rows unlike a quality mass: bucket the 48-bit keys into
    ``n_key_buckets`` ranges, count per (source, bucket) map-side, find
    each source's boundary bucket on the tiny bucket table, keep sub-boundary
    buckets wholesale and rank-decide ONLY the boundary bucket's ~n/B rows
    inside (source, bucket) windows. Costs one slim-row shuffle of the
    partial-epoch leg (keys + ids, never text) plus slim doc_id/source
    projection scans for the doc legs. No source is ever sorted whole
    on one task.

    Both modes materialize the bounded per-source factor table on the
    driver (see :func:`mixture_factors`): the token-counting TEXT scan
    runs exactly once regardless of how many legs reference the
    factors — calling this function triggers that one aggregation job
    eagerly, UNLESS a pre-materialized ``factors`` frame is supplied
    (consumers drawing several epochs/variants over the same corpus
    snapshot in ONE pipeline run may build the factor table once and
    pass it in; registry query paths must NOT memoize it across
    invocations — r15 verdict #2)."""
    if factors is None:
        factors = materialize_factors(
            docs, mixture_factors(docs, epoch_docs, n_tokens_col)
        )
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#ep:"), F.col("epoch").cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    if exact:
        return _mixture_draw_exact(docs, factors, key, n_key_buckets)
    return (
        docs.join(F.broadcast(factors), "source")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(
                    F.lit(0),
                    # greatest(…, 0): a target-0 source would otherwise
                    # hit sequence(0, -1), which DESCENDS in Spark (the
                    # r8 fuzz seam) and leaks epoch -1 past the filter;
                    # clamped to [0] the filter drops it on both engines
                    F.greatest(
                        F.when(F.col("__thr") > 0, F.col("__full"))
                        .otherwise(F.col("__full") - 1),
                        F.lit(0),
                    ).cast("int"),
                )
            ).alias("epoch"),
            "__full",
            "__thr",
        )
        .withColumn("__key", key)
        .filter((F.col("epoch") < F.col("__full")) | (F.col("__key") < F.col("__thr")))
        .select(
            "doc_id",
            "source",
            F.col("epoch").cast("int").alias("epoch"),
            F.lower(F.format_string("%012x", F.col("__key"))).alias("draw_key"),
        )
    )


def _mixture_draw_exact(
    docs: DataFrame, factors: DataFrame, key, n_key_buckets: int
) -> DataFrame:
    """The exact-count partial-epoch draw (see :func:`mixture_draw`
    docstring). ``factors`` carries (source, __n, __full, __thr, __r);
    ``key`` is the 48-bit draw-key Column referencing an ``epoch``
    column."""
    from pyspark.sql import Window as _W

    out = lambda df: df.select(  # noqa: E731
        "doc_id",
        "source",
        F.col("epoch").cast("int").alias("epoch"),
        F.lower(F.format_string("%012x", F.col("__key"))).alias("draw_key"),
    )
    keyed = docs.join(F.broadcast(factors), "source")
    # full epochs: every doc survives epochs 0..__full-1 wholesale. The
    # __full >= 1 filter runs BEFORE the explode so sequence(0, -1) —
    # which DESCENDS in Spark (the r8 fuzz seam) — is never constructed.
    full_rows = out(
        keyed.filter(F.col("__full") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(0), (F.col("__full") - 1).cast("int"))
            ).alias("epoch"),
        )
        .withColumn("__key", key)
    )
    # partial epoch: exactly one candidate row per doc (epoch = __full);
    # keep the __r smallest keys per source via boundary buckets.
    width = (2**48) // n_key_buckets
    partial = (
        keyed.filter(F.col("__r") > 0)
        .select(
            "doc_id", "source", F.col("__full").cast("int").alias("epoch")
        )
        .withColumn("__key", key)
        .withColumn("__b", F.expr(f"CAST(__key DIV {width} AS INT)"))
    )
    per_bucket = partial.groupBy("source", "__b").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    w_cum = (
        _W.partitionBy("source")
        .orderBy("__b")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    # __take NULL = keep the whole bucket; else rank-decide its ~n/B rows
    marks = (
        per_bucket.withColumn("__cum", F.sum("__bn").over(w_cum))
        .withColumn("__prev", F.col("__cum") - F.col("__bn"))
        .join(F.broadcast(factors.select("source", "__r")), "source")
        .filter(F.col("__prev") < F.col("__r"))
        .select(
            "source",
            "__b",
            F.when(
                F.col("__cum") <= F.col("__r"), F.lit(None).cast("long")
            ).otherwise(F.col("__r") - F.col("__prev")).alias("__take"),
        )
    )
    w_rank = _W.partitionBy("source", "__b").orderBy(
        F.col("__key").asc(), F.col("doc_id").asc()
    )
    kept_partial = out(
        partial.join(F.broadcast(marks), ["source", "__b"])
        .withColumn("__rk", F.row_number().over(w_rank))
        .filter(F.col("__take").isNull() | (F.col("__rk") <= F.col("__take")))
    )
    return full_rows.unionByName(kept_partial)


# The factor table is derived INSIDE each draw query, every invocation
# (r16, r15 verdict #2 generalized): the old per-sf_dir module cache
# memoized a data-derived collect across the bench's warm-up/timed
# boundary — the gaming class the brief bans. The token-counting text
# scan it saved is instead parallelized with ``spread`` (guide §2.5),
# so the honest per-call build stays cheap.


def _mixture_factors_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return materialize_factors(
        docs, mixture_factors(spread(docs), MIXTURE_DRAW_EPOCH_DOCS)
    )


def q_mixture_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_draw(
        load_table(spark, sf_dir, "documents"),
        MIXTURE_DRAW_EPOCH_DOCS,
        factors=_mixture_factors_fresh(spark, sf_dir),
    )


def q_mixture_draw_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_draw(
        load_table(spark, sf_dir, "documents"),
        MIXTURE_DRAW_EPOCH_DOCS,
        exact=True,
        factors=_mixture_factors_fresh(spark, sf_dir),
    )


_MIXTURE_DRAW_SQL = f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n,
         SUM({token_count_sql('text')}) AS tok
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n,
         CAST(round(sqrt(CAST(tok AS DOUBLE)) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS wu
  FROM per_source
),
t AS (SELECT SUM(wu) AS total FROM w),
f AS (
  SELECT source, n,
    CAST(({MIXTURE_DRAW_EPOCH_DOCS} * CAST(round(CAST(1000000 AS DOUBLE)
        * (CAST(wu AS DOUBLE) / CAST(total AS DOUBLE))) AS BIGINT)) // 1000000
        AS BIGINT) AS target
  FROM w, t
),
f2 AS (
  SELECT source, n, target // n AS full,
         CAST(floor(CAST(target % n AS DOUBLE) / CAST(n AS DOUBLE)
              * {_HASH48!r}::DOUBLE) AS BIGINT) AS thr
  FROM f
),
drawn AS (
  SELECT d.doc_id, d.source, CAST(e AS INT) AS epoch,
         CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#ep:' || CAST(e AS VARCHAR)), 1, 12)) AS BIGINT) AS key
  FROM documents d
  JOIN f2 ON f2.source = d.source,
  unnest(generate_series(0, CASE WHEN f2.thr > 0 THEN f2.full ELSE f2.full - 1 END)) AS s(e)
)
SELECT d.doc_id, d.source, d.epoch,
       lower(substr(md5(CAST(d.doc_id AS VARCHAR) || '#ep:' || CAST(d.epoch AS VARCHAR)), 1, 12)) AS draw_key
FROM drawn d JOIN f2 ON f2.source = d.source
WHERE d.epoch < f2.full OR d.key < f2.thr
"""

# Exact variant: the partial epoch is the target%n SMALLEST draw keys
# per source — in SQL a plain per-source ROW_NUMBER over the key order
# (the oracle may sort whole sources; the Spark plan must not, hence
# the boundary-bucket implementation it verifies).
_MIXTURE_DRAW_EXACT_SQL = f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n,
         SUM({token_count_sql('text')}) AS tok
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n,
         CAST(round(sqrt(CAST(tok AS DOUBLE)) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS wu
  FROM per_source
),
t AS (SELECT SUM(wu) AS total FROM w),
f AS (
  SELECT source, n,
    CAST(({MIXTURE_DRAW_EPOCH_DOCS} * CAST(round(CAST(1000000 AS DOUBLE)
        * (CAST(wu AS DOUBLE) / CAST(total AS DOUBLE))) AS BIGINT)) // 1000000
        AS BIGINT) AS target
  FROM w, t
),
f2 AS (SELECT source, n, target // n AS full, target % n AS r FROM f),
full_rows AS (
  SELECT d.doc_id, d.source, CAST(e AS INT) AS epoch
  FROM documents d
  JOIN f2 ON f2.source = d.source AND f2.full >= 1,
  unnest(generate_series(0, f2.full - 1)) AS s(e)
),
ranked AS (
  SELECT d.doc_id, d.source, CAST(f2.full AS INT) AS epoch, f2.r,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                    || '#ep:' || CAST(f2.full AS VARCHAR)), 1, 12)) AS BIGINT),
                    d.doc_id) AS rk
  FROM documents d JOIN f2 ON f2.source = d.source AND f2.r > 0
),
all_rows AS (
  SELECT doc_id, source, epoch FROM full_rows
  UNION ALL
  SELECT doc_id, source, epoch FROM ranked WHERE rk <= r
)
SELECT doc_id, source, epoch,
       lower(substr(md5(CAST(doc_id AS VARCHAR) || '#ep:'
             || CAST(epoch AS VARCHAR)), 1, 12)) AS draw_key
FROM all_rows
"""


# ---------------------------------------------------------- source_overlap --
# Cross-source contamination audit: how many documents share a leading-
# 16-token fingerprint across each pair of sources. Prefix fingerprints
# (not whole-text md5) are the standard cheap key for "same boilerplate
# ingested twice under different feeds". Scale shape: DISTINCT (fp,
# source) is one shuffle on slim rows; the self-join keys on fp whose
# per-key cardinality is bounded by the source count, so no bucket can
# explode past |sources|² pairs.
OVERLAP_PREFIX_TOKENS = 16


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(
            F.slice(tokens(F.col("text")), 1, OVERLAP_PREFIX_TOKENS), " "
        )
    )
    fps = docs.select(fp.alias("fp"), "source").distinct()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


_SOURCE_OVERLAP_SQL = f"""
WITH fps AS (
  SELECT DISTINCT
    md5(array_to_string(list_slice({tokens_sql('text')}, 1, {OVERLAP_PREFIX_TOKENS}), ' ')) AS fp,
    source
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_fps
FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source
"""


# -------------------------------------------------------------- json_props --
# Semi-structured property extraction: events carry a JSON `props`
# payload; pull a typed field out and aggregate per event_type. The
# Spark side uses get_json_object (JVM-side JSON path, no UDF); at
# 100 TB this is a pure projection + one bounded-key hash agg.


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("__k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("__k").alias("n_with_k"),
            F.sum("__k").alias("sum_k"),
            F.min("__k").alias("min_k"),
            F.max("__k").alias("max_k"),
        )
    )


_JSON_PROPS_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM e GROUP BY event_type
"""


# ----------------------------------------------------------- heavy_hitters --
CMS_TOP_K = 40


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(tokens(F.col("text"))).alias("w")
    )
    return cms_heavy_hitters(words, "w", top_k=CMS_TOP_K)


_HEAVY_HITTERS_SQL = cms_sql(
    f"SELECT unnest({tokens_sql('text')}) AS w FROM documents",
    "w",
    top_k=CMS_TOP_K,
)


# ------------------------------------------------------------ word_bigrams --
# Adjacent-pair frequency over the corpus — the count table a BPE merge
# round ranks (merge the most frequent pair), and the unit of a bigram
# LM. Pure explode → one map-side-combining hash agg → TakeOrdered
# top-k with a total-order tiebreak; at 100 TB the pair space is the
# shuffle key and the partial aggregation collapses each partition's
# Zipf head before anything moves.
BG_TOP_K = 100


def q_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(tokens(F.col("text")).alias("__ws"))
        .filter(F.size("__ws") >= 2)
        .select(
            F.explode(
                # __ws staged once; the HOF indexes it (0-based) instead of
                # re-splitting per element (SCALING.md staging lesson).
                F.expr(
                    "transform(sequence(0, size(__ws)-2),"
                    " i -> concat(__ws[i], ' ', __ws[i+1]))"
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(BG_TOP_K)
    )


# ------------------------------------------------------------- dup_ngrams --
# Corpus-wide repeated-n-gram mining — the C4/Gopher-style diagnostic
# behind "what boilerplate is duplicated across my corpus?": every word
# 8-gram that appears in ≥2 distinct documents, ranked by spread. The
# usual precursor to span-level dedup (operators/spans.py) — this query
# names the spans worth scrubbing, spans.py removes them.
#
# Scale shape: two map-side-combining hash aggs. Stage 1 groups by
# (doc_id, gram) — all grams of a doc are born co-located, so the
# within-doc count collapses before the shuffle; stage 2 groups by gram
# over the pre-collapsed (one row per doc per gram) stream, so even a
# universal boilerplate gram arrives as n_docs fixed-width rows with
# partial-agg combining, never the raw token stream. Top-k via
# TakeOrdered under a unique total order. No distinct-count expand:
# n_docs == COUNT(*) of stage-1 rows by construction.
DUPN_N = 8
DUPN_MIN_DOCS = 2
DUPN_TOP_K = 50


def duplicated_ngrams(
    docs: DataFrame,
    n: int = DUPN_N,
    min_docs: int = DUPN_MIN_DOCS,
    k: int = DUPN_TOP_K,
) -> DataFrame:
    """Word ``n``-grams appearing in ≥ ``min_docs`` distinct documents:
    ``gram, n_docs, occurrences``, top-``k`` under the unique total order
    (n_docs DESC, occurrences DESC, gram)."""
    grams = (
        docs.select("doc_id", tokens(F.col("text")).alias("__ws"))
        .filter(F.size("__ws") >= n)
        .select(
            "doc_id",
            F.explode(
                # __ws staged once; slice+array_join index it per window
                # (0-based sequence → 1-based slice start).
                F.expr(
                    f"transform(sequence(0, size(__ws)-{n}),"
                    f" i -> array_join(slice(__ws, i+1, {n}), ' '))"
                )
            ).alias("gram"),
        )
    )
    per_doc = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").alias("occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(
            F.col("n_docs").desc(),
            F.col("occurrences").desc(),
            F.col("gram").asc(),
        )
        .limit(k)
    )


def q_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicated_ngrams(spread(load_table(spark, sf_dir, "documents")))


_DUP_NGRAMS_SQL = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS ws FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(ws) - {DUPN_N - 2}),
           i -> array_to_string(ws[i:i + {DUPN_N - 1}], ' '))) AS gram
  FROM t WHERE len(ws) >= {DUPN_N}
),
per_doc AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(c) AS BIGINT) AS occurrences
FROM per_doc GROUP BY gram
HAVING COUNT(*) >= {DUPN_MIN_DOCS}
ORDER BY n_docs DESC, occurrences DESC, gram ASC
LIMIT {DUPN_TOP_K}
"""


_WORD_BIGRAMS_SQL = f"""
WITH ws AS (
  SELECT {tokens_sql('text')} AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM ws WHERE len(w) >= 2
)
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM pairs GROUP BY bigram
ORDER BY cnt DESC, bigram ASC
LIMIT {BG_TOP_K}
"""


# -------------------------------------------------------- shingle_novelty --
# Per-document novelty: the fraction of a doc's distinct word-3-gram
# shingles that first appear in THAT doc (first = lowest doc_id — the
# corpus's stable ingest order). The dedup-adjacent "how much of this
# doc is new text" curation signal. Shape: explode → per-doc DISTINCT →
# one shingle-keyed agg for first-occurrence → join back on the same
# key (shuffle reused) → per-doc rollup. No all-pairs anything.
SHINGLE_W = 3


def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", tokens(F.col("text")).alias("__ws"))
        .filter(F.size("__ws") >= SHINGLE_W)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(__ws)-{SHINGLE_W}),"
                    " i -> concat(__ws[i], ' ', __ws[i+1], ' ', __ws[i+2]))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("bigint").alias("novel_shingles"),
        )
        .select(
            "doc_id",
            "total_shingles",
            "novel_shingles",
            (F.col("novel_shingles") / F.col("total_shingles")).alias(
                "novelty_rate"
            ),
        )
    )


_SHINGLE_NOVELTY_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) - {SHINGLE_W - 2}),
                  i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
    FROM (SELECT doc_id, {tokens_sql('text')} AS w FROM documents)
    WHERE len(w) >= {SHINGLE_W}
  )
),
first AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS total_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         / CAST(COUNT(*) AS BIGINT) AS novelty_rate
FROM sh s JOIN first f ON s.shingle = f.shingle
GROUP BY s.doc_id
"""


# ------------------------------------------------------- importance_sample --
# Quality-weighted downsampling: keep a doc with probability
# w = n_chars / (n_chars + HALF_CHARS) — a saturating length prior
# (longer docs are likelier real prose; the half-point doc keeps with
# p = 0.5). The coin is the same deterministic md5 bucket family as
# stratified_sample / split_assign, so the draw replays identically in
# both engines and across reruns at any scale: pure projection+filter,
# zero shuffles, pushes toward the scan. The BIGINT bucket is compared
# against w·10⁶ (double) — both sides exact well below 2^53.
IMP_HALF_CHARS = 2000.0
IMP_GRID = 1_000_000


def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("imp#"), F.col("doc_id").cast("string"))
                    .cast("binary")
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long") % IMP_GRID
    )
    weight = F.col("n_chars") / (F.col("n_chars") + F.lit(IMP_HALF_CHARS))
    return docs.withColumn("bucket", bucket).filter(
        F.col("bucket") < weight * IMP_GRID
    )


_IMPORTANCE_SAMPLE_SQL = f"""
SELECT doc_id, source, n_chars, bucket FROM (
  SELECT doc_id, source, n_chars,
    CAST(('0x' || substr(md5('imp#' || CAST(doc_id AS VARCHAR)), 1, 8))
         AS BIGINT) % {IMP_GRID} AS bucket
  FROM documents
)
WHERE bucket < (n_chars / (n_chars + {IMP_HALF_CHARS})) * {IMP_GRID}
"""


# ------------------------------------------------------------ ppjoin_pairs --
# Exact set-similarity join (prefix filtering): every doc pair with
# word-3-gram Jaccard ≥ 0.5, NO LSH false negatives. The oracle is the
# brute-force all-pairs SQL — an independent algorithm, so the driver's
# hash equality doubles as the exactness proof. See operators/ppjoin.py
# for the ordering-beats-skew scale argument.


def q_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ppjoin import prefix_jaccard_join

    return prefix_jaccard_join(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------ source_terms --
# Characteristic terms per source (domain fingerprinting): rank terms
# by relative-frequency LIFT — (tf_s / n_s) / (tf_g / n_g), i.e. how
# over-represented a term is in one source vs the whole corpus. The
# TF-IDF idea without logarithms: lift is one division of two exact
# BIGINT products, so it replays bit-identically cross-engine (a log
# would drag in libm). Shape (r9): ONE corpus explode+agg, per-term and
# per-source totals as windows over that aggregate (never re-scanning
# the corpus), one scalar broadcast, top-k per source via one bounded
# window that reuses the source-window exchange.
ST_TOP_K = 5


def q_source_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf_s = words.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    # r9: __ns and __tfg via WINDOWS over the aggregated (source, term)
    # table instead of broadcast-joined re-aggregations — the old shape
    # re-executed the corpus explode+agg subtree once per derived agg
    # (4 corpus scans); windows exchange only the aggregate (vocab x
    # sources slim rows). The scalar __ng still costs one re-execution
    # (an unpartitioned window would funnel the whole aggregate through
    # one task): 4 corpus scans -> 2. The term window runs first, then
    # the source window's exchange is REUSED by the rank window (same
    # partitioning).
    w_term = Window.partitionBy("term").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_src = Window.partitionBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_g = tf_s.agg(F.sum("tf").alias("__ng"))
    lift = (F.col("tf") * F.col("__ng")) / (F.col("__ns") * F.col("__tfg"))
    w = Window.partitionBy("source").orderBy(
        F.col("lift").desc(), F.col("term").asc()
    )
    return (
        tf_s.withColumn("__tfg", F.sum("tf").over(w_term))
        .withColumn("__ns", F.sum("tf").over(w_src))
        .crossJoin(F.broadcast(n_g))
        .withColumn("lift", lift)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ST_TOP_K)
        .select("source", "term", "tf", "lift", "rank")
    )


_SOURCE_TERMS_SQL = f"""
WITH words AS (
  SELECT source, unnest({tokens_sql('text')}) AS term FROM documents
),
tf_s AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words GROUP BY source, term
),
n_s AS (SELECT source, SUM(tf) AS ns FROM tf_s GROUP BY source),
tf_g AS (SELECT term, SUM(tf) AS tfg FROM tf_s GROUP BY term),
n_g AS (SELECT SUM(tf) AS ng FROM tf_s)
SELECT source, term, tf, lift, rank FROM (
  SELECT t.source, t.term, t.tf,
         (t.tf * g.ng) / (s.ns * tg.tfg) AS lift,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY t.source
           ORDER BY (t.tf * g.ng) / (s.ns * tg.tfg) DESC, t.term ASC
         ) AS INTEGER) AS rank
  FROM tf_s t
  JOIN n_s s ON t.source = s.source
  JOIN tf_g tg ON t.term = tg.term
  CROSS JOIN n_g g
)
WHERE rank <= {ST_TOP_K}
"""


ZIPF_TOP = 200  # head terms per source entering the fit


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf fit: degree-1 regression of ln(freq) on ln(rank)
    over the top-``ZIPF_TOP`` terms. Natural text sits near slope −1;
    a flat slope flags boilerplate/templated sources, a cliff flags
    synthetic or truncated-vocabulary text — the corpus-health
    diagnostic next to `dataset_card`/`drift_monitor`.

    Cross-engine determinism: each ln is snapped to the DECIMAL(18,6)
    grid, products and sums stay exact decimals (order-free), and the
    closed-form slope/intercept are scalar double math on identical
    operands (the `linear_trend` recipe).

    Scale shape: one map-side-combining (source, word) count, a rank
    window over the vocabulary-bounded frequency table (language-sized,
    not corpus-sized), a 200-row-per-source agg. Nothing corpus-sized
    shuffles twice."""
    from pyspark.sql import Window as _W

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source",
        F.explode(tokens(F.col("text"))).alias("w"),
    )
    freq = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    win = _W.partitionBy("source").orderBy(F.col("c").desc(), F.col("w").asc())
    staged = (
        freq.withColumn("r", F.row_number().over(win))
        .filter(F.col("r") <= ZIPF_TOP)
        .select(
            "source",
            F.log(F.col("r").cast("double")).cast("decimal(18,6)").alias("x"),
            F.log(F.col("c").cast("double")).cast("decimal(18,6)").alias("y"),
        )
    )
    agg = staged.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    denom = agg.n * agg.sxx - agg.sx * agg.sx
    slope = F.when(denom != 0, (agg.n * agg.sxy - agg.sx * agg.sy) / denom)
    intercept = (agg.sy - slope * agg.sx) / agg.n
    return agg.select(
        "source",
        agg.n.cast("long").alias("n_terms"),
        slope.alias("zipf_slope"),
        intercept.alias("zipf_intercept"),
    )


_ZIPF_SLOPE_SQL = f"""
WITH w AS (SELECT source, {tokens_sql('text')} AS ws
           FROM documents),
toks AS (
  SELECT source, ws[i] AS w
  FROM w, unnest(generate_series(1, len(ws))) AS t(i)
),
freq AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY c DESC, w ASC) AS r
  FROM freq
),
staged AS (
  SELECT source,
         CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(18,6)) AS x,
         CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,6)) AS y
  FROM ranked WHERE r <= {ZIPF_TOP}
),
sums AS (
  SELECT source,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM staged GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n_terms,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS zipf_slope,
       (sy - (CASE WHEN n * sxx - sx * sx <> 0
                   THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * sx) / n
         AS zipf_intercept
FROM sums
"""


CORPUS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "span_dedup": q_span_dedup,
    "repeated_spans": q_repeated_spans,
    "span_scrub": q_span_scrub,
    "doc_chunks": q_doc_chunks,
    "mix_weights": q_mix_weights,
    "mixture_draw": q_mixture_draw,
    "mixture_draw_exact": q_mixture_draw_exact,
    "source_overlap": q_source_overlap,
    "json_props": q_json_props,
    "heavy_hitters": q_heavy_hitters,
    "word_bigrams": q_word_bigrams,
    "dup_ngrams": q_dup_ngrams,
    "shingle_novelty": q_shingle_novelty,
    "importance_sample": q_importance_sample,
    "ppjoin_pairs": q_ppjoin_pairs,
    "source_terms": q_source_terms,
    "zipf_slope": q_zipf_slope,
}

CORPUS_ORACLE: dict[str, str] = {
    "span_dedup": span_dedup_sql(),
    "repeated_spans": repeated_spans_sql(),
    "span_scrub": scrub_repeated_sql(),
    "doc_chunks": chunk_sql(),
    "mix_weights": _MIX_WEIGHTS_SQL,
    "mixture_draw": _MIXTURE_DRAW_SQL,
    "mixture_draw_exact": _MIXTURE_DRAW_EXACT_SQL,
    "source_overlap": _SOURCE_OVERLAP_SQL,
    "json_props": _JSON_PROPS_SQL,
    "heavy_hitters": _HEAVY_HITTERS_SQL,
    "word_bigrams": _WORD_BIGRAMS_SQL,
    "dup_ngrams": _DUP_NGRAMS_SQL,
    "shingle_novelty": _SHINGLE_NOVELTY_SQL,
    "importance_sample": _IMPORTANCE_SAMPLE_SQL,
    "source_terms": _SOURCE_TERMS_SQL,
}


def _ppjoin_oracle() -> str:
    from ..operators.ppjoin import brute_force_sql

    return brute_force_sql()


CORPUS_ORACLE["zipf_slope"] = _ZIPF_SLOPE_SQL
CORPUS_ORACLE["ppjoin_pairs"] = _ppjoin_oracle()
