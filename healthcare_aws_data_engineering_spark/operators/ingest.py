"""Incremental corpus ingest + deterministic shard export (brief
extensions; no reference counterpart — the admission-control and layout
layers of a continuously-growing training corpus).

``incremental_dedup``: a NEW batch of documents is admitted against an
EXISTING corpus — a doc is rejected when its content fingerprint already
exists in the corpus (``dup_corpus``) or when an earlier doc of the same
batch already claimed the fingerprint (``dup_batch``). This is the
batch-mode equivalent of the reference's Glue job-bookmark append
discipline (Glue_tranformation_json_parquet.py:186-199): only new,
novel content reaches the curated zone.

Scale shape:
- The corpus side is reduced to DISTINCT fingerprints (one hash agg,
  map-side combined) — fixed-width 32-hex rows, NOT documents. At 100 TB
  the corpus probe is a shuffle equi-join on fingerprint (AQE picks the
  strategy; a bloom-filter pre-probe prunes most of the batch before the
  join — Spark injects one when runtime filters are enabled).
- Within-batch keep-first is ONE window over the same fingerprint
  shuffle (min doc_id per fingerprint) — the exchange is reused.
- Verdict precedence: corpus-dup wins over batch-dup (a doc that is
  both reports ``dup_corpus``), keep-first within batch.

``shard_manifest``: deterministic md5-bucket shard assignment (salted,
same shared-hash recipe as ``split_assign``) plus the per-shard audit
manifest (doc/token/char totals, id range). The physical write is
``df.repartition(n, shard).write.partitionBy(shard)`` — reader-side
partition pruning for free; the manifest is the audit artifact proving
balance. Pure projection + ONE aggregation; no RNG, no sampled range
boundaries (unlike repartitionByRange), so layout is reproducible
run-to-run and engine-to-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .text import token_count, token_count_sql, tokens, tokens_sql

INCR_SALT = "incr#"
BATCH_PCT = 20        # doc_id bucket < BATCH_PCT → the "new batch"
SHARD_SALT = "shard#"
N_SHARDS = 64


def _salted_bucket(doc_id: Column, salt: str, mod: int) -> Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), doc_id.cast("string")).cast("binary")),
                1, 8,
            ),
            16, 10,
        ).cast("long") % mod
    )


def wordset_fingerprint(text: Column) -> Column:
    """Permutation-invariant content key: md5 of the sorted distinct word
    set. Collapses docs that differ only by word order/repetition — the
    canonicalization level between exact-normalized md5 and MinHash."""
    ws = F.array_sort(F.array_distinct(tokens(text)))
    return F.md5(F.concat_ws(" ", ws).cast("binary"))


def incremental_dedup(docs: DataFrame, batch_pct: int = BATCH_PCT) -> DataFrame:
    """Admission manifest for the new batch: ``doc_id, fingerprint,
    verdict`` (``accept`` | ``dup_corpus`` | ``dup_batch``), keyed on the
    permutation-invariant :func:`wordset_fingerprint`."""
    base = docs.select(
        F.col("doc_id"),
        wordset_fingerprint(F.col("text")).alias("fingerprint"),
        _salted_bucket(F.col("doc_id"), INCR_SALT, 100).alias("bucket"),
    )
    corpus_fp = (
        base.filter(F.col("bucket") >= batch_pct)
        .select("fingerprint")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    batch = base.filter(F.col("bucket") < batch_pct).select("doc_id", "fingerprint")
    first_in_batch = F.min("doc_id").over(W.partitionBy("fingerprint"))
    return (
        batch.withColumn("first_id", first_in_batch)
        .join(corpus_fp, "fingerprint", "left")
        .select(
            "doc_id",
            "fingerprint",
            F.when(F.col("in_corpus").isNotNull(), F.lit("dup_corpus"))
            .when(F.col("doc_id") != F.col("first_id"), F.lit("dup_batch"))
            .otherwise(F.lit("accept"))
            .alias("verdict"),
        )
    )


def incremental_dedup_sql(table: str) -> str:
    """DuckDB oracle twin (same fingerprint recipe, same salted split,
    same precedence)."""
    fp_sql = (
        f"md5(array_to_string(list_sort(list_distinct({tokens_sql('text')})), ' '))"
    )
    return f"""
WITH
  base AS (
    SELECT doc_id,
           {fp_sql} AS fingerprint,
           CAST(('0x' || substr(md5('{INCR_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 100 AS bucket
    FROM {table}
  ),
  corpus AS (
    SELECT DISTINCT fingerprint, 1 AS in_corpus FROM base WHERE bucket >= {BATCH_PCT}
  ),
  batch AS (
    SELECT doc_id, fingerprint,
           MIN(doc_id) OVER (PARTITION BY fingerprint) AS first_id
    FROM base WHERE bucket < {BATCH_PCT}
  )
SELECT b.doc_id, b.fingerprint,
       CASE WHEN c.in_corpus IS NOT NULL THEN 'dup_corpus'
            WHEN b.doc_id <> b.first_id THEN 'dup_batch'
            ELSE 'accept' END AS verdict
FROM batch b LEFT JOIN corpus c USING (fingerprint)
"""


def with_shard(docs: DataFrame) -> DataFrame:
    """Append the deterministic ``shard`` column (use as the
    ``repartition``/``partitionBy`` key for the physical export)."""
    return docs.withColumn(
        "shard", _salted_bucket(F.col("doc_id"), SHARD_SALT, N_SHARDS)
    )


def shard_manifest(docs: DataFrame) -> DataFrame:
    """Per-shard audit manifest: ``shard, n_docs, min_doc, max_doc,
    total_tokens, total_chars``."""
    staged = with_shard(docs).select(
        "shard",
        F.col("doc_id"),
        token_count(F.col("text")).cast("long").alias("n_tok"),
        F.length(F.col("text")).cast("long").alias("n_chr"),
    )
    return staged.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chr").alias("total_chars"),
    )


def shard_manifest_sql(table: str) -> str:
    """DuckDB oracle twin of :func:`shard_manifest`."""
    return rf"""
SELECT CAST(('0x' || substr(md5('{SHARD_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) % {N_SHARDS} AS shard,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc,
       CAST(SUM({token_count_sql('text')}) AS BIGINT) AS total_tokens,
       CAST(SUM(len(text)) AS BIGINT) AS total_chars
FROM {table}
GROUP BY shard
"""
