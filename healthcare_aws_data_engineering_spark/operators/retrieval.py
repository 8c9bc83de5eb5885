"""BM25 keyword retrieval over a document corpus (brief extension; no
reference counterpart — the reference has no text-search surface).

Classic Okapi BM25 (Robertson/Sparck Jones; the scoring function behind
Lucene/Elasticsearch defaults) expressed as pure DataFrame algebra:

    score(d, Q) = Σ_{t∈Q} idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·dl/avgdl))
    idf(t)      = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )   (Lucene form)

Scale design (the 100 TB story):
- The query-term filter is applied BEFORE the (doc, term) aggregation, so
  the exploded token stream collapses immediately to rows that mention a
  query term — for a q-term query the shuffle carries at most
  |Q| · n_docs fixed-width rows, not the corpus token stream.
- Corpus stats (N, avgdl) are ONE scalar row; per-term document
  frequencies are |Q| rows — both attached via broadcast joins, never a
  shuffle.
- Top-k uses the unique total order (score DESC, doc_id) → TakeOrdered,
  no global sort materialization.
- Everything is built-in column math (whole-stage codegen); no UDFs.

Cross-engine determinism: tf/df/dl/N are exact integers; the only float
ops are ln and the closed-form ratio, computed identically (IEEE double)
in Spark and DuckDB, then snapped to the DECIMAL(18,6) grid (emitted
as DOUBLE) before the final
order/limit so near-ties cannot reorder between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import token_count, tokens

BM25_K1 = 1.2
BM25_B = 0.75
RRF_C = 60  # reciprocal-rank-fusion smoothing constant


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 25) -> DataFrame:
    """Top-k documents for a bag-of-words query under Okapi BM25.

    Returns ``doc_id, n_terms_hit, score`` (DOUBLE on the DECIMAL(18,6)
    grid, unique total
    order score DESC then doc_id).
    """
    base = docs.select(
        F.col("doc_id"),
        tokens(F.col("text")).alias("ws"),
        token_count(F.col("text")).cast("long").alias("dl"),
    )
    # Corpus scalars: one row, broadcast. (Computed over ALL docs — dl of
    # non-matching docs participates in avgdl, as BM25 requires.)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # Per-(doc, term) frequency — filter to query terms BEFORE the agg.
    tf = (
        base.select("doc_id", "dl", F.explode("ws").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    # Per-term document frequency via a WINDOW over the (doc, term)
    # aggregate (r9): the old broadcast-joined groupBy re-executed the
    # corpus scan+explode subtree a second time for |Q| rows — the
    # window exchanges only the matched (doc, term) rows by term
    # (bounded by matches x |Q| terms), cutting the corpus scans from
    # 3 to 2 (the avgdl stats scalar still costs its own pass).
    from pyspark.sql import Window as _W

    w_term = _W.partitionBy("term").rowsBetween(
        _W.unboundedPreceding, _W.unboundedFollowing
    )
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_term))
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ),
        )
        .withColumn(
            "leg",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        # Snap to the DECIMAL(18,6) grid, then emit as DOUBLE: decimal→
        # double is the correctly-rounded nearest double in both engines,
        # and integer/double cells are the only numeric kinds the
        # driver's hash renders identically to the local replica.
        F.round(F.sum("leg"), 6)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("score"),
    )
    return per_doc.orderBy(F.desc("score"), "doc_id").limit(k)


def bm25_sql(table: str, terms: list[str], k: int = 25) -> str:
    """DuckDB oracle twin of :func:`bm25_topk` (same math, same rounding,
    same unique total order)."""
    quoted = ", ".join(f"'{t}'" for t in terms)
    return rf"""
WITH
  base AS (
    SELECT doc_id, string_split_regex(trim(text, ' '), '[ \t\n\x0B\f\r]+') AS ws,
           len(string_split_regex(trim(text, ' '), '[ \t\n\x0B\f\r]+')) AS dl
    FROM {table}
  ),
  stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM base),
  tok AS (
    SELECT doc_id, dl, ws[i] AS term
    FROM base, unnest(generate_series(1, len(ws))) AS t(i)
    WHERE ws[i] IN ({quoted})
  ),
  tf AS (
    SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
    FROM tok GROUP BY doc_id, term
  ),
  df_t AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
  scored AS (
    SELECT tf.doc_id,
           ln((stats.n_docs - df_t.df + 0.5) / (df_t.df + 0.5) + 1.0)
             * (tf.tf * ({BM25_K1} + 1))
             / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / stats.avgdl)) AS leg
    FROM tf JOIN df_t USING (term) CROSS JOIN stats
  )
SELECT doc_id, n_terms_hit, score FROM (
  SELECT doc_id, COUNT(*) AS n_terms_hit,
         CAST(CAST(round(SUM(leg), 6) AS DECIMAL(18,6)) AS DOUBLE) AS score,
         ROW_NUMBER() OVER (
           ORDER BY CAST(round(SUM(leg), 6) AS DECIMAL(18,6)) DESC, doc_id
         ) AS rk
  FROM scored GROUP BY doc_id
) WHERE rk <= {k}
"""


def rrf_fuse(keyword: DataFrame, semantic: DataFrame, k: int = 25) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of a keyword leg
    and a semantic leg — the standard hybrid-retrieval combiner behind
    Elasticsearch/OpenSearch "hybrid search" and most RAG stacks:

        rrf(d) = Σ_legs 1 / (RRF_C + rank_leg(d))      (absent leg → 0)

    Inputs are the two legs' rankings (``doc_id, rank`` with rank 1-based
    and already truncated to the leg's retrieval depth). Output:
    ``doc_id, kw_rank, sem_rank, rrf_score, rank`` — top-``k`` under the
    unique total order (score DESC, doc_id).

    Scale shape: both legs arrive pre-truncated to their depth (bounded
    row counts — for per-query depth d, ≤ d rows per leg), so the fusion
    join and the global rank window run on a trivially small relation no
    matter the corpus size; all the heavy lifting stays inside the legs,
    which keep their own scale stories (BM25: term-filtered agg +
    broadcast stats; ANN: banded/bucketed probe joins).

    Cross-engine determinism: ranks are exact integers, each RRF term is
    one IEEE-double division, and the two-term sum has a fixed operand
    order (keyword + semantic) — then snapped to the DECIMAL(18,6) grid
    before the final order/limit so near-ties cannot reorder.
    """
    kw = keyword.select(F.col("doc_id"), F.col("rank").alias("kw_rank"))
    sem = semantic.select(F.col("doc_id"), F.col("rank").alias("sem_rank"))
    fused = kw.join(sem, "doc_id", "full_outer")
    term = lambda col: F.coalesce(  # noqa: E731
        F.lit(1.0).cast("double") / (F.lit(float(RRF_C)) + F.col(col)),
        F.lit(0.0),
    )
    scored = fused.select(
        "doc_id",
        "kw_rank",
        "sem_rank",
        F.round(term("kw_rank") + term("sem_rank"), 6)
        .cast("decimal(18,6)")
        .alias("__s"),
    )
    from pyspark.sql import Window as _W

    w = _W.orderBy(F.col("__s").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            "kw_rank",
            "sem_rank",
            F.col("__s").cast("double").alias("rrf_score"),
            "rank",
        )
    )
