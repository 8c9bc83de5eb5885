"""Driver-facing queries for the training-data extension operators
(dedup / similarity / text analysis) over ``documents`` and ``embeddings``.

Oracle notes:
- md5 is the only hash both engines share, so the oracle-checked LSH
  pipeline uses the md5 backend; the xxhash64 production path is covered by
  the rows-only queries + pytest recall checks.
- cosine top-k uses the exact (decimal-accumulated) dot product on both
  sides — order-independent, bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup as D
from ..operators import graph as G
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as T
from ..sources.tables import load_table, spread
from .pipeline_queries import SPLIT_TRAIN_PCT, SPLIT_VAL_PCT, with_split

# Shared SQL fragments -------------------------------------------------------

_SHINGLES_SQL = r"""
  w AS (SELECT doc_id, string_split_regex(trim(text, ' '), '[ \t\n\x0B\f\r]+') AS ws FROM documents),
  sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                ELSE array_to_string(ws, ' ') END AS shingle
    FROM w, unnest(generate_series(1, greatest(1, len(ws)-2))) AS t(i)
  )
"""

# minhash signature: 6 permutations (md5 backend), 3 bands of 2
_SIG_SQL = """
  sig AS (
    SELECT doc_id,
      min(md5(shingle || '#0')) AS h0, min(md5(shingle || '#1')) AS h1,
      min(md5(shingle || '#2')) AS h2, min(md5(shingle || '#3')) AS h3,
      min(md5(shingle || '#4')) AS h4, min(md5(shingle || '#5')) AS h5
    FROM sh GROUP BY doc_id
  ),
  bands AS (
    SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS bh FROM sig
    UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
    UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
  ),
  capped AS (
    SELECT * FROM (
      SELECT band, bh, doc_id,
             COUNT(*) OVER (PARTITION BY band, bh) AS bucket_n
      FROM bands
    ) WHERE bucket_n BETWEEN 2 AND 50
  ),
  lsh_pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
  )
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with the scan spread over the session's cores (guide
    §2.5: the testdata files are single-row-group, so an unspread scan
    runs every fused per-row stage — shingle HOFs, md5 chains, regex
    passes — on ONE task). Used by the per-row-CPU-heavy query paths;
    cheap scan+agg queries keep the plain scan."""
    return spread(load_table(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# Curation composites all start from the same text_stats staging. At
# 100 TB you run the tagger pass ONCE per corpus snapshot
# (operators.text.doc_attributes → parquet) and every downstream
# composite reads slim attribute rows instead of re-deriving the text
# projection — set this conf to that table's path to switch every
# composite onto it. doc_attributes is a column superset of text_stats
# and test-pinned equal on the shared columns, so results are identical
# by construction (pinned again end-to-end in test_training_data_ops).
ATTRS_PATH_CONF = "spark.graft.attributesPath"


def _doc_stats(spark: SparkSession, sf_dir: str, cols: list[str]) -> DataFrame:
    path = spark.conf.get(ATTRS_PATH_CONF, "")
    if path:
        return spark.read.parquet(path).select(*cols)
    # NOT spread: text_stats' per-row work is light enough that the extra
    # exchange costs more than the parallelism buys (measured r16:
    # token_budget_fill 1.55 s as-is vs 1.67 s spread).
    return T.text_stats(_docs(spark, sf_dir)).select(*cols)


# The second shared staging: the verified near-dup cluster table
# (q_dup_clusters' output shape — doc_id, cluster_id, cluster_size,
# is_keeper; singletons absent by contract). dedup_weighted,
# cluster_split and corpus_curation each consume it; like the attribute
# table, a 100 TB pipeline builds it ONCE per snapshot and the
# composites read the pair-sized result instead of re-running
# LSH → Jaccard → connected components per query.
CLUSTERS_PATH_CONF = "spark.graft.clustersPath"


def _dup_cluster_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = spark.conf.get(CLUSTERS_PATH_CONF, "")
    if path:
        return spark.read.parquet(path)
    docs = _docs_s(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(
        docs, num_perm=6, bands=3, backend="md5", max_bucket=50
    )
    verified = (
        D.ngram_jaccard(docs, pairs)
        .filter(F.col("jaccard") >= DUP_CLUSTER_JACCARD)
        .select("doc_a", "doc_b")
    )
    return G.dup_clusters(verified)


# ----------------------------------------------------------------- queries --


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup group table: normalized-content hash → keeper + count
    (dup_count=1 groups included so the check is substantial on a corpus
    with no exact dups)."""
    return D.exact_dedup(_docs(spark, sf_dir))


_DEDUP_EXACT_SQL = """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w \\t\\n\\x0B\\f\\r]', '', 'g'),
                               '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' ')) AS content_hash,
       min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs, md5 backend (6 perms, 3 bands of 2) —
    the full shingle→signature→band→bucket-join pipeline, oracle-checked."""
    return D.minhash_lsh_pairs(
        _docs_s(spark, sf_dir), num_perm=6, bands=3, backend="md5", max_bucket=50
    )


_DEDUP_MINHASH_SQL = f"""
WITH {_SHINGLES_SQL}, {_SIG_SQL}
SELECT doc_a, doc_b FROM lsh_pairs
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard verification over the LSH candidates."""
    docs = _docs_s(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs, num_perm=6, bands=3, backend="md5", max_bucket=50)
    return D.ngram_jaccard(docs, pairs)


_NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLES_SQL}, {_SIG_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_intersect
  FROM lsh_pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_intersect,
       sa.n + sb.n - i.n_intersect AS n_union,
       CAST(i.n_intersect AS DOUBLE) / CAST(greatest(sa.n + sb.n - i.n_intersect, 1) AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
"""


DUP_CLUSTER_JACCARD = 0.5  # verified-pair threshold feeding the clustering


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: LSH candidates → exact-Jaccard verification →
    distributed connected components (min-label propagation,
    ``operators/graph.py``) → one canonical keeper per component. The
    full dedup deliverable, end to end (or the persisted copy when
    ``spark.graft.clustersPath`` is set — see :func:`_dup_cluster_table`)."""
    return _dup_cluster_table(spark, sf_dir)


# Oracle: same verified pairs, then transitive closure as a recursive CTE
# (min reachable label == the operator's min-label fixpoint). Shared CTE
# chain — _DUP_CLUSTERS_SQL and _CLUSTER_SPLIT_SQL both end in `cc`.
_DUP_CC_CTES = f"""
WITH RECURSIVE {_SHINGLES_SQL}, {_SIG_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_intersect
  FROM lsh_pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
),
verified AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.n_intersect AS DOUBLE)
        / CAST(greatest(sa.n + sb.n - i.n_intersect, 1) AS DOUBLE)
        >= {DUP_CLUSTER_JACCARD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION ALL SELECT doc_b, doc_a FROM verified
),
reach(node, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
"""

_DUP_CLUSTERS_SQL = f"""
{_DUP_CC_CTES}
SELECT node AS doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       node = cluster_id AS is_keeper
FROM cc
"""


def q_dedup_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates, every document
    gets loss weight 1/|cluster| so each near-dup cluster contributes
    exactly one document's worth of gradient (docs with no verified dup
    keep weight 1.0). The down-weight alternative to `dup_clusters`'
    keeper selection — used when duplicates carry signal you don't want
    to zero out entirely.

    Scale shape: same pair-bounded LSH→Jaccard→CC chain as dup_clusters,
    then one LEFT join of the corpus against the cluster table — UNHINTED
    (the cluster table is corpus-fraction-sized at web-crawl dup rates;
    AQE broadcasts it only when it is actually small — the
    `cluster_split` r6 lesson). Output: ``doc_id, cluster_id,
    n_near_dups, weight`` with sum(weight) == 1.0 per cluster."""
    docs = _docs(spark, sf_dir)
    clusters = _dup_cluster_table(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).alias("n_near_dups"),
            (F.lit(1.0) / F.coalesce("cluster_size", F.lit(1))).alias(
                "weight"
            ),
        )
    )


_DEDUP_WEIGHTED_SQL = f"""
{_DUP_CC_CTES},
sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n FROM cc GROUP BY 1)
SELECT d.doc_id,
  COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
  COALESCE(sz.n, 1) AS n_near_dups,
  CAST(1.0 AS DOUBLE) / COALESCE(sz.n, 1) AS weight
FROM documents d
LEFT JOIN cc ON cc.node = d.doc_id
LEFT JOIN sz ON sz.cluster_id = cc.cluster_id
"""


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split UNIT is the near-dup
    cluster, not the document — a near-duplicate of a training document
    can never land in val/test (the contamination mode a per-document
    or per-source split cannot rule out). Singletons (no verified dup)
    are their own unit. Same md5 'split#' bucketing as split_assign, so
    the 80/10/10 shares and determinism carry over."""
    docs = _docs(spark, sf_dir)
    clusters = _dup_cluster_table(spark, sf_dir).select("doc_id", "cluster_id")
    # No broadcast hint: the cluster table holds one row per document in
    # any verified near-dup pair — at web-crawl dup rates (30%+ of docs)
    # that is corpus-fraction-sized, and a forced broadcast OOMs every
    # executor. AQE broadcasts it when it measures small and falls back
    # to a shuffle join when it isn't.
    unit = docs.join(clusters, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("split_unit")
    )
    return with_split(unit, group_col="split_unit").select(
        "doc_id", "split_unit", "bucket", "split"
    )


_CLUSTER_SPLIT_SQL = f"""
{_DUP_CC_CTES},
unit AS (
  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS split_unit
  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
),
bkt AS (
  SELECT doc_id, split_unit,
    CAST(('0x' || substr(md5('split#' || CAST(split_unit AS VARCHAR)), 1, 8))
         AS BIGINT) % 100 AS bucket
  FROM unit
)
SELECT doc_id, split_unit, bucket,
  CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
       WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
       ELSE 'test' END AS split
FROM bkt
"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composite a 100 TB training-data
    pipeline actually runs: per-doc quality/token stats → quality floor →
    near-dup LOSER removal (LSH → Jaccard → connected components, keep
    one doc per cluster) → leakage-safe group split → per-(split, lang)
    corpus manifest with document and token counts.

    Plan shape: the stats+filter leg is a pure projection; the dedup leg
    produces a loser set that is tiny relative to the corpus, so the
    left-anti join broadcasts (AQE); the final rollup is ONE shuffle on
    (split, lang)."""
    stats = _doc_stats(
        spark, sf_dir, ["doc_id", "lang", "source", "n_tokens", "quality"]
    )
    kept = stats.filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 20))
    losers = (
        _dup_cluster_table(spark, sf_dir)
        .filter(~F.col("is_keeper"))
        .select("doc_id")
    )
    curated = with_split(kept.join(losers, "doc_id", "left_anti"), "source")
    return curated.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


_CORPUS_CURATION_SQL = f"""
WITH RECURSIVE {_SHINGLES_SQL}, {_SIG_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_intersect
  FROM lsh_pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
),
verified AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.n_intersect AS DOUBLE)
        / CAST(greatest(sa.n + sb.n - i.n_intersect, 1) AS DOUBLE)
        >= {DUP_CLUSTER_JACCARD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION ALL SELECT doc_b, doc_a FROM verified
),
reach(node, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
losers AS (
  SELECT node AS doc_id FROM (
    SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
  ) WHERE node <> cluster_id
),
tb AS (
  SELECT doc_id, lang, source, text,
    CASE WHEN length(trim(text, ' ')) = 0 THEN 0
         ELSE len(string_split_regex(trim(text, ' '), '[ \\t\\n\\x0B\\f\\r]+')) END AS n_tokens,
    string_split_regex(trim(text, ' '), '[ \\t\\n\\x0B\\f\\r]+') AS ws,
    len(regexp_extract_all(text, '[^\\w \\t\\n\\x0B\\f\\r]')) AS n_punct,
    len(regexp_extract_all(lower(text),
        '\\b(the|and|of|to|a|in|is|that)\\b')) AS hits_en
  FROM documents
),
q AS (
  SELECT doc_id, lang, source, n_tokens,
    least(length(text) / 200.0, 1.0) * 0.3
    + least(hits_en / greatest(n_tokens, 1) * 4.0, 1.0) * 0.3
    + greatest(0.0, 1.0 - (n_punct / greatest(length(text), 1)) * 4.0) * 0.2
    + (CASE WHEN (list_sum(list_transform(ws, w -> length(w)))
                  / greatest(len(ws), 1)) >= 3.0
             AND (list_sum(list_transform(ws, w -> length(w)))
                  / greatest(len(ws), 1)) <= 10.0
            THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
  FROM tb
),
kept AS (
  SELECT q.* FROM q
  WHERE quality >= 0.5 AND n_tokens >= 20
    AND NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = q.doc_id)
),
sp AS (
  SELECT *, CAST(('0x' || substr(md5('split#' || CAST(source AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 AS bucket
  FROM kept
)
SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM sp GROUP BY 1, 2
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (32-bit votes from md5 hex digits, 4 bands
    of 8) — the full votes→pack→band→bucket-join→Hamming pipeline,
    oracle-checked leg for leg in DuckDB."""
    # NOT spread (r16): matched-window A/B vs the r15 tree measured the
    # spread form slower in suite context (3.2s vs 2.2s median).
    return D.simhash_pairs(_docs(spark, sf_dir), bands=4, max_hamming=3)


def _simhash_sql(bits: int = 32, bands: int = 4, max_hamming: int = 3,
                 max_bucket: int = 50) -> str:
    width = bits // bands
    vote_legs = ",\n      ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    pack = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
WITH {_SHINGLES_SQL},
  hx AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
    FROM sh
  ),
  votes AS (
    SELECT doc_id,
      {vote_legs}
    FROM hx GROUP BY doc_id
  ),
  sig AS (SELECT doc_id, CAST({pack} AS BIGINT) AS sim FROM votes),
  bands AS (
    SELECT doc_id, sim, b.band, (sim >> ({width} * b.band)) & {(1 << width) - 1} AS bkey
    FROM sig, (SELECT unnest(generate_series(0, {bands - 1})) AS band) b
  ),
  capped AS (
    SELECT * FROM (
      SELECT band, bkey, doc_id, sim,
             COUNT(*) OVER (PARTITION BY band, bkey) AS bucket_n
      FROM bands
    ) WHERE bucket_n BETWEEN 2 AND {max_bucket}
  )
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sim, b.sim)) AS hamming
FROM capped a JOIN capped b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < 5 — the exact
    baseline, decimal-accumulated dot products for oracle bit-equality."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    return S.cosine_topk(embs, queries, k=10, exact=True)


_ANN_COSINE_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
pairs AS (
  SELECT query_id, neighbor_id, qe, ce FROM q, c WHERE neighbor_id <> query_id
),
terms AS (
  SELECT query_id, neighbor_id,
    CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) AS qc,
    CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) AS qq,
    CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) AS cc
  FROM pairs, unnest(generate_series(1, 64)) AS t(i)
),
sums AS (
  SELECT query_id, neighbor_id,
    CAST(SUM(CAST(qc AS DECIMAL(28,12))) AS DOUBLE) AS dot,
    CAST(SUM(CAST(qq AS DECIMAL(28,12))) AS DOUBLE) AS nq,
    CAST(SUM(CAST(cc AS DECIMAL(28,12))) AS DOUBLE) AS nc
  FROM terms GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, dot / (sqrt(nq) * sqrt(nc)) AS sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC,
                                     neighbor_id ASC) AS rank
  FROM sums
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: top-8 most-similar DIFFERENT-label
    vectors per anchor (vec_id < 5), exact cosine for oracle bit-equality."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    return S.hard_negatives(embs, queries, k=8, exact=True)


_HARD_NEG_SQL = """
WITH q AS (SELECT vec_id AS query_id, label AS anchor_label, embedding AS qe
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, label AS neg_label, embedding AS ce
      FROM embeddings),
pairs AS (
  SELECT query_id, anchor_label, neighbor_id, neg_label, qe, ce
  FROM q, c WHERE neg_label <> anchor_label
),
terms AS (
  SELECT query_id, anchor_label, neighbor_id, neg_label,
    CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) AS qc,
    CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) AS qq,
    CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) AS cc
  FROM pairs, unnest(generate_series(1, 64)) AS t(i)
),
sums AS (
  SELECT query_id, anchor_label, neighbor_id, neg_label,
    CAST(SUM(CAST(qc AS DECIMAL(28,12))) AS DOUBLE) AS dot,
    CAST(SUM(CAST(qq AS DECIMAL(28,12))) AS DOUBLE) AS nq,
    CAST(SUM(CAST(cc AS DECIMAL(28,12))) AS DOUBLE) AS nc
  FROM terms GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT query_id, anchor_label, neighbor_id, neg_label,
         dot / (sqrt(nq) * sqrt(nc)) AS sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC,
                                     neighbor_id ASC) AS rank
  FROM sums
)
SELECT query_id, anchor_label, neighbor_id, neg_label, sim, rank
FROM ranked WHERE rank <= 8
"""


# Literal ±1 hyperplanes (md5-derived, Python-side) shared by the Spark
# queries AND the SQL oracles below — the whole LSH pipeline is then
# engine-reproducible (signature sign decided on a DECIMAL(28,6) fold).
_EMB_DIM = 64
_PLANES16 = S.rademacher_planes(16, _EMB_DIM)


# scale-6 micro-unit quantization — twin of similarity.quantize_vec (the
# decimal cast keeps the proven cross-engine rounding grid; everything
# downstream is exact integer math, order-independent under SUM)
_QUANT_SQL = """
  qe AS (
    SELECT vec_id, list_transform(
      embedding,
      x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
    ) AS q
    FROM embeddings
  )"""


def _sig_bands_sql(plane_matrix: list[list[int]], bands: int) -> str:
    """CTE fragment: embeddings → quantized micro-units → exact integer
    plane dots → sign bits → (band, bkey) rows. Twin of
    quantize_vec + hyperplane_signature_q + band posexplode."""
    planes = len(plane_matrix)
    width = planes // bands
    term_legs = ",\n      ".join(
        "q[i] * ([{lst}][i]) AS t{p}".format(
            lst=",".join(str(c) for c in row), p=p
        )
        for p, row in enumerate(plane_matrix)
    )
    sum_legs = ", ".join(f"SUM(t{p}) AS d{p}" for p in range(planes))
    unions = []
    for b in range(bands):
        key = " + ".join(
            f"{1 << j} * (CASE WHEN d{b * width + j} > 0 THEN 1 ELSE 0 END)"
            for j in range(width)
        )
        unions.append(f"SELECT vec_id, {b} AS band, {key} AS bkey FROM dots")
    band_union = "\n    UNION ALL ".join(unions)
    return f"""{_QUANT_SQL},
  sig_terms AS (
    SELECT vec_id,
      {term_legs}
    FROM qe, unnest(generate_series(1, {_EMB_DIM})) AS t(i)
  ),
  dots AS (SELECT vec_id, {sum_legs} FROM sig_terms GROUP BY vec_id),
  banded AS (
    {band_union}
  )"""


# exact (decimal-accumulated) cosine rerank over a `cands(query_id,
# neighbor_id)` CTE — shared tail of the LSH/IVF oracles (twin of
# cosine(…, exact=True), DECIMAL(28,12) like _ANN_COSINE_SQL).
_RERANK_SQL = """
  pairs AS (
    SELECT cands.query_id, cands.neighbor_id, q.embedding AS qe, c.embedding AS ce
    FROM cands
    JOIN embeddings q ON q.vec_id = cands.query_id
    JOIN embeddings c ON c.vec_id = cands.neighbor_id
  ),
  terms AS (
    SELECT query_id, neighbor_id,
      CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) AS qc,
      CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE) AS qq,
      CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) AS cc
    FROM pairs, unnest(generate_series(1, 64)) AS t(i)
  ),
  sums AS (
    SELECT query_id, neighbor_id,
      CAST(SUM(CAST(qc AS DECIMAL(28,12))) AS DOUBLE) AS dot,
      CAST(SUM(CAST(qq AS DECIMAL(28,12))) AS DOUBLE) AS nq,
      CAST(SUM(CAST(cc AS DECIMAL(28,12))) AS DOUBLE) AS nc
    FROM terms GROUP BY query_id, neighbor_id
  ),
  ranked AS (
    SELECT query_id, neighbor_id, dot / (sqrt(nq) * sqrt(nc)) AS sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC,
                                       neighbor_id ASC) AS rank
    FROM sums
  )"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH-bucketed approximate top-10 — the scale path
    (equi-join on signature bands instead of a cross join). Literal
    md5-derived ±1 planes + decimal-folded signs and rerank, so the full
    pipeline is oracle-checked; the stateless xxhash64-plane variant
    shares all plumbing and is pytest-covered for recall."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    # bands=4 → 4-bit keys (16 buckets/band): selective enough that LSH
    # actually prunes (width-2 keys put ~whole corpus in every query's
    # candidate set, defeating the point of the bucket join).
    return S.lsh_topk(
        embs, queries, k=10, bands=4,
        plane_matrix=_PLANES16, exact=True,
    )


_ANN_LSH_SQL = f"""
WITH {_sig_bands_sql(_PLANES16, bands=4)},
  cands AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM banded q JOIN banded c
      ON q.band = c.band AND q.bkey = c.bkey AND c.vec_id <> q.vec_id
    WHERE q.vec_id < 5
  ),
{_RERANK_SQL}
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
"""


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training's first-iteration pair statistics: weighted adjacent
    symbol-pair counts over the corpus vocabulary (chars + the </w>
    terminator), top-20 with deterministic tiebreak — the table whose
    argmax IS the first learned merge (`operators/bpe.py::learn_merges`;
    later iterations depend on prior merges and are covered by the
    python-parity pytest instead of SQL). Scale shape: ONE bounded-key
    word-count agg (the only corpus-scale pass), then per-WORD char
    pairs — work ∝ vocabulary, not corpus."""
    from ..operators.bpe import END, word_counts

    wc = word_counts(load_table(spark, sf_dir, "documents"))
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit(END)))
    staged = wc.select("n", syms.alias("s"))
    pair = F.filter(
        F.zip_with(
            F.col("s"),
            F.slice(F.col("s"), 2, F.greatest(F.size("s") - 1, F.lit(0))),
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(),
                F.struct(a.alias("a"), b.alias("b")),
            ),
        ),
        lambda g: g.isNotNull(),
    )
    return (
        staged.select("n", F.explode(pair).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
        .limit(20)
    )


_BPE_PAIRS_SQL = r"""
WITH words AS (
  SELECT w AS word, COUNT(*) AS n
  FROM (SELECT unnest(string_split_regex(trim(lower(text), ' '), '[ \t\n\x0B\f\r]+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY 1
),
syms AS (
  SELECT word, n, list_append(string_split(word, ''), '</w>') AS s FROM words
),
pairs AS (
  SELECT s[i] AS a, s[i+1] AS b, n
  FROM syms, unnest(generate_series(1, len(s) - 1)) AS t(i)
)
SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt
FROM pairs GROUP BY a, b
ORDER BY cnt DESC, a, b LIMIT 20
"""


def q_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-1 multi-probe LSH top-10 (Lv et al., VLDB'07): TWO wide
    8-bit bands (256 buckets each — too selective for plain LSH to
    recall well) + 8 single-bit-flip probe keys per query band. The
    probe expansion is query-side XOR fan-out only — the corpus index
    is identical to the 2-band plain index, which is the point: probes
    buy recall where more bands would buy index size. Same literal
    planes + exact rerank as `ann_lsh_topk`, fully oracle-checked."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    return S.lsh_topk(
        embs, queries, k=10, bands=2,
        plane_matrix=_PLANES16, exact=True, multiprobe=True,
    )


_PROBE_MASKS = ", ".join(str(m) for m in [0] + [1 << j for j in range(8)])

_ANN_MULTIPROBE_SQL = f"""
WITH {_sig_bands_sql(_PLANES16, bands=2)},
  probes AS (
    SELECT vec_id, band, xor(bkey, pm.m) AS bkey
    FROM banded, (SELECT unnest([{_PROBE_MASKS}]) AS m) pm
    WHERE vec_id < 5
  ),
  cands AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM probes q JOIN banded c
      ON q.band = c.band AND q.bkey = c.bkey AND c.vec_id <> q.vec_id
  ),
{_RERANK_SQL}
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
"""


# Index-build state (IVF centroids, PQ codebooks) is derived INSIDE each
# query, every invocation (r16, r15 verdict #2 generalized): the old
# per-sf_dir module caches memoized data-derived collects across the
# bench's warm-up/timed boundary — the gaming class the brief bans. Both
# derivations are bounded 16-row collects over the md5-stratified sample
# the SQL oracle re-derives.


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-10 (coarse cells + n_probe probing + exact
    rerank) — the second ANN scale path besides LSH. Centroids are the
    md5-stratified deterministic sample and distances are quantized
    micro-unit integers, so the WHOLE index build + probe + rerank replays
    in DuckDB; the trained-KMeans centroid path is pytest-covered for
    recall."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    return S.ivf_topk(
        embs, queries, k=10, n_centroids=16, n_probe=6,
        centroids=S.sample_centroids(embs, 16), exact=True,
    )


_ANN_IVF_SQL = f"""
WITH {_QUANT_SQL},
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
         q AS qc
  FROM qe
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
dterms AS (
  SELECT e.vec_id, c.cell,
    (e.q[i] - c.qc[i]) * (e.q[i] - c.qc[i]) AS t
  FROM qe e, cent c, unnest(generate_series(1, 64)) AS t(i)
),
dists AS (SELECT vec_id, cell, SUM(t) AS d FROM dterms GROUP BY vec_id, cell),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
    FROM dists WHERE vec_id < 5
  ) WHERE rn <= 6
),
cands AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
),
""" + _RERANK_SQL.lstrip() + """
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (hyperplane-LSH bucketed).
    Threshold 0.35 because the synthetic embeddings are near-orthogonal
    random vectors (max pairwise cosine ≈ 0.51 at sf0.01) — a production
    0.9+ threshold would make the check vacuously empty. Literal
    md5-derived planes + quantized-integer cosine (exact long sums,
    IEEE sqrt/divide — no decimal fold) → full DuckDB oracle."""
    return S.embedding_near_dup(
        _embs(spark, sf_dir), threshold=0.35, bands=8,
        plane_matrix=_PLANES16,
    )


_NEAR_DUP_SQL = f"""
WITH {_sig_bands_sql(_PLANES16, bands=8)},
  capped AS (
    SELECT * FROM (
      SELECT band, bkey, vec_id,
             COUNT(*) OVER (PARTITION BY band, bkey) AS bucket_n
      FROM banded
    ) WHERE bucket_n BETWEEN 2 AND 200
  ),
  cands AS (
    SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
  ),
  qpairs AS (
    SELECT cands.query_id, cands.neighbor_id, a.q AS qa, b.q AS qb
    FROM cands
    JOIN qe a ON a.vec_id = cands.query_id
    JOIN qe b ON b.vec_id = cands.neighbor_id
  ),
  qterms AS (
    SELECT query_id, neighbor_id,
           qa[i] * qb[i] AS ab, qa[i] * qa[i] AS aa, qb[i] * qb[i] AS bb
    FROM qpairs, unnest(generate_series(1, 64)) AS t(i)
  ),
  qsums AS (
    -- integer cosine: exact long sums of micro-unit products, then
    -- correctly-rounded IEEE sqrt/divide — no decimal accumulator
    SELECT query_id, neighbor_id,
           CAST(SUM(ab) AS BIGINT) AS dq,
           CAST(SUM(aa) AS BIGINT) AS na,
           CAST(SUM(bb) AS BIGINT) AS nb
    FROM qterms GROUP BY query_id, neighbor_id
  )
SELECT query_id AS doc_a, neighbor_id AS doc_b,
       CAST(dq AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
         AS cosine
FROM qsums
WHERE CAST(dq AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
      >= 0.35
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis: token counts (ws + BPE-ish), punctuation
    ratio, mean word length, stopword-profile language ID, quality score,
    content fingerprint. Pure projection."""
    return T.text_stats(_docs(spark, sf_dir)).drop("text")


# base/d CTE chain + quality expression shared by _TEXT_STATS_SQL and
# _QUALITY_CALIBRATED_SQL so the heuristic can never drift between them
_TEXT_STATS_CTES = r"""
base AS (
  SELECT doc_id, lang, source, n_chars, text,
    length(text) AS n_chars_actual,
    CASE WHEN length(trim(text, ' ')) = 0 THEN 0
         ELSE len(string_split_regex(trim(text, ' '), '[ \t\n\x0B\f\r]+')) END AS n_tokens,
    string_split_regex(trim(text, ' '), '[ \t\n\x0B\f\r]+') AS ws,
    len(regexp_extract_all(text, '[^\w \t\n\x0B\f\r]')) AS n_punct,
    len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that)\b')) AS hits_en,
    len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ein|zu)\b')) AS hits_de,
    len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est|une|dans)\b')) AS hits_fr,
    len(regexp_extract_all(lower(text), '\b(el|de|la|que|y|en|los|una)\b')) AS hits_es
  FROM documents
),
d AS (
  SELECT *,
    CASE WHEN length(trim(text, ' ')) = 0 THEN 0
         ELSE list_sum(list_transform(ws, w -> greatest(1, CAST(ceil(length(w) / 4.0) AS INT)))) END
      AS n_tokens_bpe_ish,
    n_punct / greatest(length(text), 1) AS punct_ratio,
    list_sum(list_transform(ws, w -> length(w))) / greatest(len(ws), 1) AS mean_word_len,
    hits_en / greatest(n_tokens, 1) AS s_en,
    hits_de / greatest(n_tokens, 1) AS s_de,
    hits_fr / greatest(n_tokens, 1) AS s_fr,
    hits_es / greatest(n_tokens, 1) AS s_es
  FROM base
)
"""

_QUALITY_EXPR_SQL = """least(length(text) / 200.0, 1.0) * 0.3
    + least(hits_en / greatest(n_tokens, 1) * 4.0, 1.0) * 0.3
    + greatest(0.0, 1.0 - (n_punct / greatest(length(text), 1)) * 4.0) * 0.2
    + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2"""

_TEXT_STATS_SQL = rf"""
WITH {_TEXT_STATS_CTES}
SELECT doc_id, lang, source, n_chars, n_chars_actual, n_tokens,
  CAST(n_tokens_bpe_ish AS INT) AS n_tokens_bpe_ish,
  punct_ratio, mean_word_len,
  CASE WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de THEN 'es'
       WHEN s_en > 0 AND s_en >= s_de THEN 'en'
       WHEN s_de > 0 THEN 'de'
       ELSE 'und' END AS lang_guess,
  {_QUALITY_EXPR_SQL}
    AS quality,
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^\w \t\n\x0B\f\r]', '', 'g'),
                          '[ \t\n\x0B\f\r]+', ' ', 'g'), ' ')) AS fingerprint
FROM d
"""


# --------------------------------------------------------- quality_calibrated --
QUALITY_KEEP_PCT = 0.2  # drop the bottom 20% of each source


def q_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE quality calibration (the FineWeb-style trick): rank each
    document's quality within its own source and drop the bottom
    ``QUALITY_KEEP_PCT`` of every source, instead of one global threshold
    that would gut low-register sources wholesale and let boilerplate
    from high-register sources through.

    Determinism: percent_rank over a unique (quality, doc_id) order is
    (row_number−1)/(n−1) — an exact integer ratio, identical in DuckDB;
    the keep decision compares that raw double. Scale shape: ONE shuffle
    by source + a per-source sort (the honest price of the full
    pct-annotated manifest this oracle-facing form emits). When a
    mega-source outgrows one task, a boundary-bucket two-phase selects
    the same keep set with no per-source full sort (6.5× faster on the
    50%-hot probe corpus, measured in SCALING.md; no query or data size
    here needs it)."""
    from pyspark.sql import Window as _W

    stats = _doc_stats(spark, sf_dir, ["doc_id", "source", "quality"])
    win = _W.partitionBy("source").orderBy(
        F.col("quality").asc(), F.col("doc_id").asc()
    )
    pct = F.percent_rank().over(win)
    return stats.select(
        "doc_id",
        "source",
        "quality",
        F.round(pct, 6).cast("decimal(18,6)").cast("double").alias("pct_in_source"),
        (pct >= QUALITY_KEEP_PCT).alias("keep"),
    )


_QUALITY_CALIBRATED_SQL = rf"""
WITH {_TEXT_STATS_CTES},
q AS (
  SELECT doc_id, source, {_QUALITY_EXPR_SQL} AS quality FROM d
),
r AS (
  SELECT doc_id, source, quality,
    PERCENT_RANK() OVER (PARTITION BY source
                         ORDER BY quality ASC, doc_id ASC) AS pct
  FROM q
)
SELECT doc_id, source, quality,
  CAST(CAST(round(pct, 6) AS DECIMAL(18,6)) AS DOUBLE) AS pct_in_source,
  pct >= {QUALITY_KEEP_PCT} AS keep
FROM r
"""


# ------------------------------------------------------ doc_attributes --


def q_doc_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused Dolma-taggers pass (`operators/text.py::doc_attributes`):
    every text_stats + repetition_stats attribute in ONE projection-only
    corpus scan — the manifest a snapshot materializes once so every
    downstream filter reads slim attribute rows instead of re-scanning
    100 TB of text. Test-pinned equal to the standalone twins."""
    return T.doc_attributes(_docs_s(spark, sf_dir))


_DOC_ATTRIBUTES_SQL = rf"""
WITH {_TEXT_STATS_CTES},
tok AS (SELECT doc_id, unnest(ws) AS w FROM base),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
a1 AS (SELECT doc_id, COUNT(*) AS nd, MAX(c) AS topw FROM wc GROUP BY doc_id),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                i -> ws[i] || ' ' || ws[i+1])) AS g
  FROM base WHERE len(ws) >= 2
),
bc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY doc_id, g),
a2 AS (SELECT doc_id, SUM(c) AS nb, MAX(c) AS topb FROM bc GROUP BY doc_id)
SELECT d.doc_id, d.lang, d.source, d.n_chars, d.n_chars_actual, d.n_tokens,
  CAST(d.n_tokens_bpe_ish AS INT) AS n_tokens_bpe_ish,
  d.punct_ratio, d.mean_word_len,
  CASE WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de THEN 'es'
       WHEN s_en > 0 AND s_en >= s_de THEN 'en'
       WHEN s_de > 0 THEN 'de'
       ELSE 'und' END AS lang_guess,
  {_QUALITY_EXPR_SQL}
    AS quality,
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^\w \t\n\x0B\f\r]', '', 'g'),
                          '[ \t\n\x0B\f\r]+', ' ', 'g'), ' ')) AS fingerprint,
  CAST(a1.nd AS BIGINT) AS n_distinct,
  CAST(CAST(round(a1.nd / CAST(greatest(d.n_tokens, 1) AS DOUBLE), 6)
       AS DECIMAL(18,6)) AS DOUBLE) AS distinct_ratio,
  CAST(CAST(round(a1.topw / CAST(greatest(d.n_tokens, 1) AS DOUBLE), 6)
       AS DECIMAL(18,6)) AS DOUBLE) AS top_word_frac,
  CAST(CAST(round(COALESCE(a2.topb / CAST(a2.nb AS DOUBLE), 0.0), 6)
       AS DECIMAL(18,6)) AS DOUBLE) AS top_bigram_frac,
  (a1.topw / CAST(greatest(d.n_tokens, 1) AS DOUBLE) > {T.TOP_WORD_FRAC_MAX}
   OR COALESCE(a2.topb / CAST(a2.nb AS DOUBLE), 0.0) > {T.TOP_BIGRAM_FRAC_MAX}
   OR a1.nd / CAST(greatest(d.n_tokens, 1) AS DOUBLE) < {T.DISTINCT_RATIO_MIN})
    AS repetitive
FROM d
LEFT JOIN a1 USING (doc_id)
LEFT JOIN a2 USING (doc_id)
"""


# ---------------------------------------------------------- domain_cap --
# Absolute per-source document cap (the FineWeb/Gopher "domain cap"
# curation pass): no single domain may contribute more than DOMAIN_CAP
# documents, and the ones it does contribute are its best by quality.
# Complements quality_calibrated (a per-source FRACTION) — the cap is
# what stops a single mega-domain (blogspot.com-class) from dominating
# the mixture no matter how good its percentile profile looks.
DOMAIN_CAP = 15


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rank + absolute cap: ``doc_id, source, quality,
    rk, src_total, keep`` where keep = rank ≤ DOMAIN_CAP by (quality
    DESC, doc_id ASC).

    Scale shape: ONE shuffle by source; rank + count share the same
    window exchange. Per-domain partitions can be huge on web crawls —
    if a single domain outgrows an executor, use
    :func:`domain_cap_topk`: a salted two-stage top-k that never sorts
    a whole domain on one task and is test-pinned to the same keep set
    (it emits kept rows only, not the full rank manifest this
    oracle-facing form produces)."""
    from pyspark.sql import Window as _W

    stats = _doc_stats(spark, sf_dir, ["doc_id", "source", "quality"])
    w = _W.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    rk = F.row_number().over(w)
    return stats.select(
        "doc_id",
        "source",
        "quality",
        rk.alias("rk"),
        F.count(F.lit(1)).over(_W.partitionBy("source")).alias("src_total"),
        (rk <= DOMAIN_CAP).alias("keep"),
    )


_DOMAIN_CAP_SQL = rf"""
WITH {_TEXT_STATS_CTES},
q AS (
  SELECT doc_id, source, {_QUALITY_EXPR_SQL} AS quality FROM d
)
SELECT doc_id, source, quality,
  CAST(ROW_NUMBER() OVER (PARTITION BY source
                          ORDER BY quality DESC, doc_id ASC) AS INT) AS rk,
  CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS src_total,
  ROW_NUMBER() OVER (PARTITION BY source
                     ORDER BY quality DESC, doc_id ASC) <= {DOMAIN_CAP} AS keep
FROM q
"""


def domain_cap_topk(
    stats: DataFrame, cap: int = DOMAIN_CAP, salts: int = 32
) -> DataFrame:
    """The skew-safe path q_domain_cap's docstring promises, implemented:
    per-source top-``cap`` WITHOUT a full per-source sort. Two-stage
    salted top-k: stage 1 ranks inside (source, salt) groups — each
    ~1/salts of the domain, so a blogspot.com-class mega-domain never
    sorts on one executor — and keeps each group's top ``cap``; stage 2
    ranks the ≤ salts·cap survivors per source exactly. Sound because
    any doc in a source's global top-cap is necessarily in its salt
    group's top-cap. Output: KEPT rows only (``doc_id, source, quality,
    rk``) — the capped corpus, not the full rank manifest; test-pinned
    to select the same keep set as the exact window."""
    from pyspark.sql import Window as _W

    salted = stats.withColumn(
        "__salt", F.pmod(F.xxhash64("doc_id"), F.lit(salts)).cast("int")
    )
    w1 = _W.partitionBy("source", "__salt").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    survivors = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= cap)
        .drop("__salt", "__r1")
    )
    w2 = _W.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        survivors.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= cap)
        .select("doc_id", "source", "quality", "rk")
    )


def q_domain_cap_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate coverage for the skew-safe salted top-k leg (r9):
    until now :func:`domain_cap_topk` was only test-pinned against the
    exact window; this runs it against the DuckDB oracle directly (the
    oracle may sort whole sources — the Spark plan must not, which is
    the point of the two-stage salt)."""
    stats = _doc_stats(spark, sf_dir, ["doc_id", "source", "quality"])
    return domain_cap_topk(stats)


_DOMAIN_CAP_SALTED_SQL = rf"""
WITH {_TEXT_STATS_CTES},
q AS (
  SELECT doc_id, source, {_QUALITY_EXPR_SQL} AS quality FROM d
),
r AS (
  SELECT doc_id, source, quality,
    CAST(ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id ASC) AS INT) AS rk
  FROM q
)
SELECT doc_id, source, quality, rk FROM r WHERE rk <= {DOMAIN_CAP}
"""


# ---------------------------------------------------- token_budget_fill --
# Token-budget selection: keep documents in quality order until the
# running token total crosses a budget (here NUM/DEN = half the corpus's
# tokens, so the query is meaningful at every SF). The integer-ratio
# comparison cum*DEN <= total*NUM keeps the keep decision exact on both
# engines — no double threshold.
TOKEN_BUDGET_NUM, TOKEN_BUDGET_DEN = 1, 2
MIN_QUALITY_BUCKETS = 256       # the r4–r6 gate constant, now the floor
TARGET_BUCKET_ROWS = 100_000    # aim: rows per within-bucket window partition
GUARD_MIN_BUCKET_ROWS = 1_000_000  # any bucket under this sorts fine on 1 task
GUARD_BUCKET_FRACTION = 16      # above the floor, >n/16 in ONE bucket = degenerate


def quality_buckets_for(n_rows: int, target: int = TARGET_BUCKET_ROWS) -> int:
    """Bucket count for the two-phase prefix sum so the EXPECTED
    within-bucket window partition is ≈ ``target`` rows: ``ceil(n /
    target)``, floored at the gate grid (256) and rounded up to a power
    of two so bucket grids NEST as corpora grow (a doc's bucket at 2B is
    a refinement of its bucket at B — replays stay comparable).

    The prefix-sum twin of :func:`~..operators.similarity.cells_for`
    (r6 verdict #2): a bucket count pinned for the gate corpus re-creates
    the single-task sort at 1000× — n=60k → 256; n=1e9 → 16384;
    n=1e11 → 2²⁰. Derivation bounds the EXPECTED partition; the
    DISTRIBUTION is guarded in-plan (see :func:`two_phase_cum_tokens`)."""
    import math

    b = max(MIN_QUALITY_BUCKETS, math.ceil(max(n_rows, 1) / target))
    return 1 << (b - 1).bit_length()


def two_phase_cum_tokens(
    stats: DataFrame,
    n_buckets: int | None = None,
    n_rows: int | None = None,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Exact global running token total over (quality DESC, doc_id ASC)
    WITHOUT a single-partition window — see :func:`q_token_budget_fill`.
    Input: ``doc_id, quality, n_tokens``; output adds ``cum_tokens`` and
    ``__total`` (the corpus token total, same value on every row).

    ``n_buckets`` defaults to :func:`quality_buckets_for` over ``n_rows``
    (pass the cheap parquet-metadata count; falls back to counting
    ``stats`` — one extra pass — when neither is given). Bucketing by
    ``floor(quality·B)`` only bounds partitions if quality SPREADS across
    buckets: a corpus where one value dominates (a default score,
    post-filter mass at 1.0) concentrates into ONE bucket partition and
    re-creates the single-task sort this operator exists to avoid — so
    the bucket table carries an IN-PLAN loud guard (zero extra passes):
    any bucket holding more than ``max_bucket_rows`` (default
    ``max(GUARD_MIN_BUCKET_ROWS, n/GUARD_BUCKET_FRACTION)``) raises with
    the bucket id and count instead of silently serializing. Remedies:
    raise ``n_buckets``, recurse the two-phase split inside the fat
    bucket, or tiebreak/jitter the degenerate quality score."""
    from pyspark.sql import Window as _W

    if n_buckets is None:
        n_buckets = quality_buckets_for(
            n_rows if n_rows is not None else stats.count()
        )
    staged = stats.withColumn(
        "__b",
        F.least(
            F.floor(F.col("quality") * n_buckets),
            F.lit(n_buckets - 1),
        ).cast("int"),
    )
    per_bucket = staged.groupBy("__b").agg(
        F.sum("n_tokens").alias("__bt"),
        F.count(F.lit(1)).alias("__bn"),
    )
    # ≤B rows: the unpartitioned window here is bounded by the bucket
    # count, never the corpus.
    w_all = _W.orderBy(F.col("__b").desc())
    w_full = w_all.rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
    threshold = (
        F.lit(max_bucket_rows).cast("long")
        if max_bucket_rows is not None
        else F.greatest(
            F.lit(GUARD_MIN_BUCKET_ROWS).cast("long"),
            F.ceil(
                F.sum("__bn").over(w_full) / F.lit(GUARD_BUCKET_FRACTION)
            ).cast("long"),
        )
    )
    # The guard rides the __prefix expression (adds 0 when healthy) so
    # column pruning can never drop it from the executed plan.
    guard = (
        F.when(
            F.col("__bn") > threshold,
            F.raise_error(
                F.concat(
                    F.lit("two_phase_cum_tokens: quality bucket "),
                    F.col("__b").cast("string"),
                    F.lit(" holds "),
                    F.col("__bn").cast("string"),
                    F.lit(" rows (> guard "),
                    threshold.cast("string"),
                    F.lit(
                        ") — degenerate quality distribution at this grid;"
                        " raise n_buckets, recurse the split inside the fat"
                        " bucket, or tiebreak the dominant quality value"
                    ),
                )
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    prefixed = per_bucket.select(
        "__b",
        (
            F.coalesce(
                F.sum("__bt").over(w_all.rowsBetween(_W.unboundedPreceding, -1)),
                F.lit(0),
            )
            + guard
        ).alias("__prefix"),
        F.sum("__bt").over(w_full).alias("__total"),
    )
    w_in = (
        _W.partitionBy("__b")
        .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    cum = F.col("__prefix") + F.sum("n_tokens").over(w_in)
    return staged.join(F.broadcast(prefixed), "__b").select(
        "doc_id",
        "quality",
        "n_tokens",
        cum.alias("cum_tokens"),
        "__total",
    )


def q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global prefix-sum WITHOUT a global single-partition window — the
    scale trap in the naive `SUM() OVER (ORDER BY ...)` form is that
    Spark executes an unpartitioned window on one task. Two-phase
    instead: (1) coarse quality buckets (floor(quality·B), monotone in
    the sort key) aggregate to a ≤B-row table whose window pass is
    bounded by B, not the corpus; (2) each doc's exact cum_tokens =
    its bucket's prefix (broadcast join) + a within-bucket running sum
    (window partitioned by bucket, ~1/B of the corpus per partition).
    B derives from the corpus row count (:func:`quality_buckets_for` —
    parquet-metadata count, no data scan) and a degenerate quality
    distribution fails loudly in-plan instead of serializing (r6
    verdict #2). Output: ``doc_id, quality, n_tokens, cum_tokens,
    keep`` — identical to the naive global window (test- and
    hypothesis-pinned via :func:`two_phase_cum_tokens`)."""
    stats = _doc_stats(spark, sf_dir, ["doc_id", "quality", "n_tokens"])
    cum = two_phase_cum_tokens(stats, n_rows=_docs(spark, sf_dir).count())
    return cum.select(
        "doc_id",
        "quality",
        "n_tokens",
        "cum_tokens",
        (
            F.col("cum_tokens") * TOKEN_BUDGET_DEN
            <= F.col("__total") * TOKEN_BUDGET_NUM
        ).alias("keep"),
    )


_TOKEN_BUDGET_SQL = rf"""
WITH {_TEXT_STATS_CTES},
q AS (
  SELECT doc_id, {_QUALITY_EXPR_SQL} AS quality, n_tokens FROM d
),
c AS (
  SELECT doc_id, quality, CAST(n_tokens AS INT) AS n_tokens,
    CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_tokens
  FROM q
),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM q)
SELECT c.doc_id, c.quality, c.n_tokens, c.cum_tokens,
  (c.cum_tokens * {TOKEN_BUDGET_DEN} <= t.total * {TOKEN_BUDGET_NUM}) AS keep
FROM c, t
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: exact (normalized md5) + winnowing-style
    rolling minimum over 16-char grams."""
    staged = T.with_normalized(_docs_s(spark, sf_dir))
    return staged.select(
        "doc_id",
        F.md5(F.col("norm_text").cast("binary")).alias("fingerprint"),
        T.rolling_fingerprint(
            F.col("norm_text"), window=16, pre_normalized=True
        ).alias("rolling_fp"),
    )


_DOC_FINGERPRINT_SQL = r"""
WITH n AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^\w \t\n\x0B\f\r]', '', 'g'),
         '[ \t\n\x0B\f\r]+', ' ', 'g'), ' ') AS norm
  FROM documents
)
SELECT doc_id, md5(norm) AS fingerprint,
  (SELECT min(md5(substr(n.norm, i, 16)))
   FROM unnest(generate_series(1, greatest(1, length(n.norm) - 15))) AS t(i)) AS rolling_fp
FROM n
"""

# events→labs reference ranges for the severity-ranked selection (O3)
SEVERITY_RANGES = {
    "click": (2.0, 40.0),
    "view": (5.0, 50.0),
    "purchase": (10.0, 60.0),
    "signup": (1.0, 30.0),
    "error": (3.0, 20.0),
}


def q_severity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: latest value per (patient, analyte) → F14 banding → severity
    rank → severity<2 rows (abnormal + borderline, test.py:541), top-3
    per patient worst-first."""
    from ..operators.severity import severity_topk

    events = load_table(spark, sf_dir, "events")
    order = F.struct(F.col("ts"), F.col("event_id"))
    labs = events.groupBy(
        F.col("user_id").alias("patient_id"),
        F.col("event_type").alias("analyte"),
    ).agg(F.max_by("value", order).alias("value"))
    return severity_topk(labs, SEVERITY_RANGES, k=3)


def _severity_sql() -> str:
    bands = []
    for analyte, (lo, hi) in SEVERITY_RANGES.items():
        bands.append(
            f"WHEN analyte = '{analyte}' THEN CASE"
            f" WHEN value IS NULL THEN 'Unknown'"
            f" WHEN value < {0.9 * lo} THEN 'Low'"
            f" WHEN value < {lo} THEN 'Borderline low'"
            f" WHEN value <= {hi} THEN 'In range'"
            f" WHEN value <= {1.2 * hi} THEN 'Borderline high'"
            f" ELSE 'High' END"
        )
    case = "CASE " + " ".join(bands) + " ELSE 'Unknown' END"
    return f"""
WITH latest AS (
  SELECT patient_id, analyte, value FROM (
    SELECT user_id AS patient_id, event_type AS analyte, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
), banded AS (
  SELECT *, {case} AS status FROM latest
), sev AS (
  SELECT *, CASE status WHEN 'High' THEN 0 WHEN 'Low' THEN 0
            WHEN 'Borderline high' THEN 1 WHEN 'Borderline low' THEN 1
            WHEN 'In range' THEN 2 ELSE 3 END AS severity
  FROM banded
), kept AS (
  SELECT patient_id, analyte, value, status, severity,
         ROW_NUMBER() OVER (PARTITION BY patient_id
                            ORDER BY severity ASC, analyte ASC) AS rank
  FROM sev
  WHERE severity < 2
)
SELECT patient_id, analyte, value, status, severity, rank
FROM kept WHERE rank <= 3
"""


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata/stats stage (JVM-only, pre-decode filter) over
    the deterministic media corpus derived from documents."""
    return M.media_stats(M.media_from_documents(_docs(spark, sf_dir)))


_MEDIA_STATS_SQL = """
SELECT doc_id AS media_id,
  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  octet_length(encode(text)) AS n_bytes,
  md5(text) AS content_md5,
  CAST(doc_id % 64 + 16 AS INT) AS width,
  CAST(doc_id % 48 + 16 AS INT) AS height,
  16000 AS sample_rate,
  CAST(length(text) * 10 AS INT) AS duration_ms,
  CAST(doc_id % 64 + 16 AS INT) * CAST(doc_id % 48 + 16 AS INT) AS n_pixels
FROM documents
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→embed mapInPandas stage (stubbed deterministic codec) —
    features exploded to (media_id, dim_idx, value) so the driver's hash
    covers the vector contents. The md5-seeded fake codec is replayed by
    the DuckDB oracle, so the whole Arrow round-trip is value-checked."""
    feats = M.media_features(M.media_from_documents(_docs(spark, sf_dir)), dim=8)
    return feats.select("media_id", "kind", F.posexplode("features").alias("dim_idx", "value"))


_MEDIA_FEATURES_SQL = """
SELECT doc_id AS media_id,
  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(k AS INT) AS dim_idx,
  CAST(CAST(('0x' || substr(md5(text || '#feat:' || CAST(k AS VARCHAR)), 1, 12)) AS BIGINT)
       / 281474976710656.0 AS FLOAT) AS value
FROM documents, unnest(generate_series(0, 7)) AS t(k)
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1→N mapInPandas fan-out), frame content as
    lowercase hex so the md5-fake bytes are hash-comparable with the
    DuckDB replay (oracle derives the same fan-out + digests from text)."""
    media = M.media_from_documents(_docs(spark, sf_dir))
    return M.sample_frames(media, every_ms=1000, max_frames=8).select(
        "media_id",
        "frame_idx",
        "frame_ms",
        F.lower(F.hex("frame")).alias("frame_md5"),
    )


_FRAME_SAMPLE_SQL = """
WITH v AS (
  SELECT doc_id, text, CAST(length(text) * 10 AS INT) AS dur
  FROM documents WHERE doc_id % 3 = 2
),
n AS (
  SELECT doc_id, text, LEAST(8, GREATEST(1, dur // 1000)) AS nf FROM v
)
SELECT doc_id AS media_id,
  CAST(i AS INT) AS frame_idx,
  CAST(i * 1000 AS INT) AS frame_ms,
  md5(text || '#frame:' || CAST(i AS VARCHAR)) AS frame_md5
FROM n, unnest(generate_series(0, nf - 1)) AS t(i)
"""


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL-bytes multimodal leg (r8; r7 verdict ask #4): documents →
    real uncompressed containers (binary PPM / 24-bpp BMP / PCM16 WAV)
    encoded entirely in JVM expressions → Arrow-batched ``struct``-only
    decode (``operators/media_codecs.py``) that parses headers, un-pads
    and flips BMP rows, and recovers the payload. ``payload_md5`` digests
    the recovered payload's hex, so ANY decoder offset/flip/padding bug
    breaks the oracle match; the oracle rebuilds the expected payload
    from the md5 chain without ever parsing a container."""
    media = M.encoded_media_from_documents(_docs(spark, sf_dir))
    return M.decode_media_stats(media)


_MEDIA_DECODE_SQL = """
WITH p AS (
  SELECT doc_id,
    CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav' ELSE 'bmp' END AS container,
    CAST(doc_id % 13 + 4 AS INT) AS w,
    CAST(doc_id % 11 + 4 AS INT) AS h,
    CAST(doc_id % 200 + 50 AS INT) AS ns,
    CAST(8000 + (doc_id % 4) * 4000 AS INT) AS rate,
    text
  FROM documents
), sz AS (
  SELECT *, CASE WHEN container = 'wav' THEN ns * 2 ELSE w * h * 3 END AS n FROM p
), chain AS (
  SELECT *, substr(
      list_reduce(
        list_transform(range(CAST((n + 15) // 16 AS BIGINT)),
                       b -> md5(text || '#px:' || CAST(b AS VARCHAR))),
        (a, x) -> a || x),
      1, 2 * n) AS hx
  FROM sz
)
SELECT doc_id AS media_id, container,
  CASE WHEN container = 'wav' THEN NULL ELSE w END AS width,
  CASE WHEN container = 'wav' THEN NULL ELSE h END AS height,
  CASE WHEN container = 'wav' THEN rate ELSE NULL END AS sample_rate,
  CAST(n AS BIGINT) AS n_payload,
  md5(hx) AS payload_md5,
  CAST(list_sum(list_transform(range(CAST(n AS BIGINT)),
       i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT), 2)) AS INT))) AS DOUBLE) / n AS byte_mean
FROM chain
"""


def q_media_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded-SAMPLE feature extraction over the real containers (r8):
    per-channel pixel means for images (stride-3 walk over the payload
    the decoder recovered — a BMP row-flip or padding bug shifts bytes
    between channels and breaks the match) and signed-int16 RMS for
    audio. Exact integer sums; one double divide + IEEE sqrt, identical
    in both engines."""
    # NOT spread (r16): matched-window A/B measured 2.14s spread vs
    # 1.13s plain in suite context (the isolated probe's win did not
    # transfer - Arrow decode stages pay per-partition worker costs).
    media = M.encoded_media_from_documents(_docs(spark, sf_dir))
    return M.media_channel_stats(media)


_MEDIA_CHANNEL_SQL = """
WITH p AS (
  SELECT doc_id,
    CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav' ELSE 'bmp' END AS container,
    CAST(doc_id % 13 + 4 AS INT) AS w,
    CAST(doc_id % 11 + 4 AS INT) AS h,
    CAST(doc_id % 200 + 50 AS INT) AS ns,
    text
  FROM documents
), sz AS (
  SELECT *, CASE WHEN container = 'wav' THEN ns * 2 ELSE w * h * 3 END AS n FROM p
), chain AS (
  SELECT *, substr(
      list_reduce(
        list_transform(range(CAST((n + 15) // 16 AS BIGINT)),
                       b -> md5(text || '#px:' || CAST(b AS VARCHAR))),
        (a, x) -> a || x),
      1, 2 * n) AS hx
  FROM sz
), bytes AS (
  SELECT *, list_transform(range(CAST(n AS BIGINT)),
       i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT), 2)) AS INT)) AS bs
  FROM chain
)
SELECT doc_id AS media_id, container,
  CASE WHEN container = 'wav' THEN NULL ELSE
    CAST(list_sum(list_transform(range(CAST(w*h AS BIGINT)), i -> bs[CAST(3*i+1 AS INT)]))
         AS DOUBLE) / (w*h) END AS mean_r,
  CASE WHEN container = 'wav' THEN NULL ELSE
    CAST(list_sum(list_transform(range(CAST(w*h AS BIGINT)), i -> bs[CAST(3*i+2 AS INT)]))
         AS DOUBLE) / (w*h) END AS mean_g,
  CASE WHEN container = 'wav' THEN NULL ELSE
    CAST(list_sum(list_transform(range(CAST(w*h AS BIGINT)), i -> bs[CAST(3*i+3 AS INT)]))
         AS DOUBLE) / (w*h) END AS mean_b,
  CASE WHEN container = 'wav' THEN CAST(ns AS BIGINT) END AS n_samples,
  CASE WHEN container = 'wav' THEN
    sqrt(CAST(list_sum(list_transform(range(CAST(ns AS BIGINT)), i ->
      CAST(CASE WHEN bs[CAST(2*i+1 AS INT)] + 256 * bs[CAST(2*i+2 AS INT)] >= 32768
                THEN bs[CAST(2*i+1 AS INT)] + 256 * bs[CAST(2*i+2 AS INT)] - 65536
                ELSE bs[CAST(2*i+1 AS INT)] + 256 * bs[CAST(2*i+2 AS INT)] END AS BIGINT)
      * CAST(CASE WHEN bs[CAST(2*i+1 AS INT)] + 256 * bs[CAST(2*i+2 AS INT)] >= 32768
                  THEN bs[CAST(2*i+1 AS INT)] + 256 * bs[CAST(2*i+2 AS INT)] - 65536
                  ELSE bs[CAST(2*i+1 AS INT)] + 256 * bs[CAST(2*i+2 AS INT)] END AS BIGINT)))
      AS DOUBLE) / ns) END AS rms
FROM bytes
"""


def q_media_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded-domain information measures over the real containers
    (r9): byte-histogram Shannon entropy for every file + zero-crossing
    count/rate for audio. The oracle rebuilds the payload from the md5
    chain and replays the histogram/ZCR byte-wise — an int16 sample is
    negative iff its high byte >= 0x80, so the sign test never needs the
    reassembled sample. Entropy sums run in ascending byte-value order
    on both engines and land on the DECIMAL(18,6) grid."""
    media = M.encoded_media_from_documents(_docs(spark, sf_dir))
    ent = M.media_entropy(media)

    def dec6(c):
        return F.round(c, 6).cast("decimal(18,6)").cast("double")

    return ent.select(
        "media_id",
        "container",
        "n_payload",
        "n_distinct_bytes",
        dec6(F.col("byte_entropy")).alias("byte_entropy"),
        "zero_crossings",
        dec6(F.col("zcr")).alias("zcr"),
    )


_MEDIA_ENTROPY_SQL = """
WITH p AS (
  SELECT doc_id,
    CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav' ELSE 'bmp' END AS container,
    CAST(doc_id % 13 + 4 AS INT) AS w,
    CAST(doc_id % 11 + 4 AS INT) AS h,
    CAST(doc_id % 200 + 50 AS INT) AS ns,
    text
  FROM documents
), sz AS (
  SELECT *, CASE WHEN container = 'wav' THEN ns * 2 ELSE w * h * 3 END AS n FROM p
), chain AS (
  SELECT *, substr(
      list_reduce(
        list_transform(range(CAST((n + 15) // 16 AS BIGINT)),
                       b -> md5(text || '#px:' || CAST(b AS VARCHAR))),
        (a, x) -> a || x),
      1, 2 * n) AS hx
  FROM sz
), bytes AS (
  SELECT *, list_transform(range(CAST(n AS BIGINT)),
       i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT), 2)) AS INT)) AS bs
  FROM chain
), hist AS (
  SELECT doc_id, container, n, ns, v, COUNT(*) AS c
  FROM (SELECT doc_id, container, n, ns, unnest(bs) AS v FROM bytes)
  GROUP BY doc_id, container, n, ns, v
), ent AS (
  SELECT doc_id, container, n, ns,
         CAST(COUNT(*) AS INT) AS nd,
         greatest(0, log2(CAST(n AS DOUBLE))
           - list_sum(list_transform(list(c ORDER BY v),
               c -> CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))) / n) AS H
  FROM hist GROUP BY doc_id, container, n, ns
), zc AS (
  -- COALESCE: at ns == 1 the range is EMPTY and list_sum yields NULL,
  -- but zero crossings of a 1-sample signal are definitionally 0
  -- (Spark emits 0); unreachable with the current generator (ns >= 50)
  -- but pinned so a fixture change cannot silently split the engines
  SELECT doc_id, ns,
         CAST(COALESCE(list_sum(list_transform(range(CAST(ns - 1 AS BIGINT)),
           i -> CASE WHEN (bs[CAST(2*i+2 AS INT)] >= 128)
                       <> (bs[CAST(2*i+4 AS INT)] >= 128)
                     THEN 1 ELSE 0 END)), 0) AS BIGINT) AS z
  FROM bytes WHERE container = 'wav'
)
SELECT e.doc_id AS media_id, e.container,
  CAST(e.n AS BIGINT) AS n_payload,
  e.nd AS n_distinct_bytes,
  CAST(CAST(round(e.H, 6) AS DECIMAL(18,6)) AS DOUBLE) AS byte_entropy,
  zc.z AS zero_crossings,
  CASE WHEN zc.ns > 1 THEN
    CAST(CAST(round(CAST(zc.z AS DOUBLE) / (zc.ns - 1), 6) AS DECIMAL(18,6)) AS DOUBLE)
  END AS zcr
FROM ent e LEFT JOIN zc ON zc.doc_id = e.doc_id
"""


def q_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual difference-hash over the real decoded pixels (r9):
    integer ITU-R 601 luma, nearest-neighbor 9x8 grid sampling,
    horizontal gradient bits — every step exact-integer, so the oracle
    replays the full hash from the md5 payload chain byte-wise."""
    media = M.encoded_media_from_documents(_docs(spark, sf_dir)).filter(
        F.col("kind") == "image"
    )
    return M.media_dhash(media)


def q_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs (r9) — dedup extended into the image
    modality: every document yields its image plus a one-byte-perturbed
    variant (corner pixel forced to 0xff, id offset 1e9), and the query
    recovers the pairs via the banded-Hamming join. max_hamming=3
    derives n_bands=4 (r11: the operator now always derives enough
    bands for the pigeonhole guarantee — any pair within 3 bits shares
    an untouched band), so the brute-force O(n^2) oracle and the banded
    plan must agree EXACTLY — the LSH recall proof is baked into the
    gate."""
    docs = _docs(spark, sf_dir)
    # one md5-chain evaluation for both variants (r15) — pinned
    # row-identical to the two-leg union form in tests
    both = M.encoded_media_variants(docs).filter(F.col("kind") == "image")
    return M.dhash_near_dup_pairs(M.media_dhash(both), max_hamming=3)


def q_media_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dup CLUSTERS (r11) — the image modality's end-to-end
    dedup deliverable, completing the text-family arc (pairs →
    `dup_clusters`): the exact-recall banded pairs from
    :func:`q_media_near_dup` feed the same distributed min-label
    connected components (``operators/graph.py``), yielding one
    canonical keeper per perceptual cluster. The oracle replays the
    closure as a recursive CTE over the brute-force O(n²) pair join —
    both the LSH recall proof AND the fixpoint proof in one gate row.
    Scale shape: pair-bounded input, one shuffle join per CC round,
    lineage truncation — identical to the text path."""
    docs = _docs(spark, sf_dir)
    # one md5-chain evaluation for both variants (r15, see q_media_near_dup)
    both = M.encoded_media_variants(docs).filter(F.col("kind") == "image")
    pairs = M.dhash_near_dup_pairs(
        M.media_dhash(both), max_hamming=3
    ).select("media_a", "media_b")
    return G.dup_clusters(pairs, "media_a", "media_b").select(
        F.col("doc_id").alias("media_id"),
        "cluster_id",
        "cluster_size",
        "is_keeper",
    )


def _dhash_oracle_sql(near_dup: bool, clusters: bool = False) -> str:
    """Shared dHash CTE chain for the three perceptual queries: rebuild
    the payload from the md5 chain, (optionally) add the one-byte
    perturbed variant, NN-sample the 9x8 grid with exact-integer luma,
    fold gradient bits into row bytes, hex-agg the 64-bit hash.
    ``clusters=True`` extends the near-dup pair join with the recursive
    transitive closure (same min-reachable-label CTE as
    ``_DUP_CC_CTES`` — the text family's clustering oracle)."""
    gidx = "3*(((r.r*h)//8)*w + ((c.c*w)//9))"
    variants = (
        """
variants AS (
  SELECT doc_id + v.v * 1000000000 AS media_id, container, w, h, n,
         CASE WHEN v.v = 1 THEN 'ff' || substr(hx, 3) ELSE hx END AS hx
  FROM chain0, unnest(generate_series(0, 1)) AS v(v)
),"""
        if near_dup
        else """
variants AS (
  SELECT doc_id AS media_id, container, w, h, n, hx FROM chain0
),"""
    )
    head = f"""
WITH {"RECURSIVE " if clusters else ""}p0 AS (
  SELECT doc_id,
    CASE doc_id % 3 WHEN 0 THEN 'ppm' ELSE 'bmp' END AS container,
    CAST(doc_id % 13 + 4 AS INT) AS w,
    CAST(doc_id % 11 + 4 AS INT) AS h,
    text
  FROM documents WHERE doc_id % 3 <> 1
), sz AS (
  SELECT *, w * h * 3 AS n FROM p0
), chain0 AS (
  SELECT *, substr(
      list_reduce(
        list_transform(range(CAST((n + 15) // 16 AS BIGINT)),
                       b -> md5(text || '#px:' || CAST(b AS VARCHAR))),
        (a, x) -> a || x),
      1, 2 * n) AS hx
  FROM sz
),{variants}
bytes AS (
  SELECT media_id, container, w, h,
         list_transform(range(CAST(n AS BIGINT)),
           i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT), 2)) AS INT)) AS bs
  FROM variants
), grid AS (
  SELECT media_id, container, w, h, r.r AS r, c.c AS c,
    (bs[{gidx}+1]*299 + bs[{gidx}+2]*587 + bs[{gidx}+3]*114) // 1000 AS gray
  FROM bytes,
       unnest(generate_series(0, 7)) AS r(r),
       unnest(generate_series(0, 8)) AS c(c)
), bits AS (
  SELECT media_id, container, w, h, r, c,
         CASE WHEN gray > lead(gray) OVER (PARTITION BY media_id, r ORDER BY c)
              THEN 1 ELSE 0 END AS bit
  FROM grid
), rowb AS (
  SELECT media_id, container, w, h, r,
         CAST(SUM(bit * (1 << (7 - CAST(c AS INT)))) AS INT) AS byte
  FROM bits WHERE c < 8 GROUP BY media_id, container, w, h, r
), hashes AS (
  SELECT media_id, container, w, h,
         string_agg(lpad(lower(to_hex(byte)), 2, '0'), '' ORDER BY r) AS dhash
  FROM rowb GROUP BY media_id, container, w, h
)"""
    if not near_dup:
        return head + """
SELECT media_id, container, w AS width, h AS height, dhash FROM hashes
"""
    pairs = """
SELECT media_a, media_b, hamming FROM (
  SELECT a.media_id AS media_a, b.media_id AS media_b,
    CAST(bit_count(xor(CAST(('0x' || substr(a.dhash, 1, 8)) AS BIGINT),
                       CAST(('0x' || substr(b.dhash, 1, 8)) AS BIGINT)))
       + bit_count(xor(CAST(('0x' || substr(a.dhash, 9, 8)) AS BIGINT),
                       CAST(('0x' || substr(b.dhash, 9, 8)) AS BIGINT)))
      AS INT) AS hamming
  FROM hashes a JOIN hashes b ON a.media_id < b.media_id
) WHERE hamming <= 3
"""
    if not clusters:
        return head + pairs
    return (
        head
        + f""", pairs AS ({pairs}),
edges AS (
  SELECT media_a AS src, media_b AS dst FROM pairs
  UNION ALL SELECT media_b, media_a FROM pairs
),
reach(node, lbl) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT node AS media_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       node = cluster_id AS is_keeper
FROM cc
"""
    )


_MEDIA_DHASH_SQL = _dhash_oracle_sql(near_dup=False)
_MEDIA_NEAR_DUP_SQL = _dhash_oracle_sql(near_dup=True)
_MEDIA_DUP_CLUSTERS_SQL = _dhash_oracle_sql(near_dup=True, clusters=True)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 — the compression leg of the ANN
    family (LSH buckets, IVF cells, PQ codes): the corpus collapses to
    8 code bytes/vector, queries broadcast their 8×16 sub-distance
    tables, and candidate distance is 8 lookups + adds in exact long
    math. Codebooks are sliced from the md5-stratified sample, so the
    whole index build + encode + search replays in DuckDB."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    return S.pq_topk(embs, queries, k=10, codebooks=S.pq_codebooks(embs))


_ANN_PQ_SQL = f"""
WITH {_QUANT_SQL},
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
         q AS cq
  FROM qe
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
enc_terms AS (
  -- CAST: DuckDB SUM(BIGINT) yields HUGEINT; the driver's fetch renders
  -- HUGEINT cells differently than BIGINT (r2 hash mismatch) — snap back.
  SELECT e.vec_id, s.s, c.j,
         CAST(SUM((e.q[s.s*8+i] - c.cq[s.s*8+i]) * (e.q[s.s*8+i] - c.cq[s.s*8+i])) AS BIGINT) AS d
  FROM qe e, cent c,
       unnest(generate_series(0, 7)) AS s(s),
       unnest(generate_series(1, 8)) AS t(i)
  GROUP BY e.vec_id, s.s, c.j
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
    FROM enc_terms
  ) WHERE rn = 1
),
qtab AS (SELECT vec_id AS query_id, s, j, d FROM enc_terms WHERE vec_id < 5),
pairs AS (
  SELECT t.query_id, c.vec_id AS neighbor_id, CAST(SUM(t.d) AS BIGINT) AS adist
  FROM codes c
  JOIN qtab t ON t.s = c.s AND t.j = c.code
  WHERE c.vec_id <> t.query_id
  GROUP BY t.query_id, c.vec_id
)
SELECT query_id, neighbor_id, adist, rank FROM (
  SELECT query_id, neighbor_id, adist,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
         ) AS rank
  FROM pairs
) WHERE rank <= 10
"""


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed top-10 (r12 verdict stretch): the real 100 TB
    serving shape — coarse IVF cells prune the candidate set (same
    argmin cells and probe order as `ann_ivf_topk`), PQ-ADC prices the
    survivors (same codebooks and lookup tables as `ann_pq_topk`) —
    the index carries (cell, 8 code bytes) per vector and never a raw
    float. Cells and codebooks both derive from the SAME md5-stratified
    16-row sample, so one oracle CTE replays both halves; all distance
    math is exact long micro-units."""
    embs = _embs(spark, sf_dir)
    # cells and codebooks derive from the SAME 16-row sample — collect it
    # once per invocation and slice, instead of two collect jobs
    sample = S.sample_centroids(embs, 16)
    queries = embs.filter(F.col("vec_id") < 5)
    return S.ivfpq_topk(
        embs, queries, k=10, n_centroids=16, n_probe=6,
        centroids=sample, codebooks=S.pq_codebooks_from_sample(sample),
    )


_ANN_IVFPQ_SQL = f"""
WITH {_QUANT_SQL},
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
         q AS cq
  FROM qe
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
fterms AS (
  -- full-dim squared distances: IVF cell assignment + query probe order
  SELECT e.vec_id, c.j AS cell,
         CAST(SUM((e.q[i] - c.cq[i]) * (e.q[i] - c.cq[i])) AS BIGINT) AS fd
  FROM qe e, cent c, unnest(generate_series(1, 64)) AS t(i)
  GROUP BY e.vec_id, c.j
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY fd ASC, cell ASC) AS rn
    FROM fterms
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY fd ASC, cell ASC) AS rn
    FROM fterms WHERE vec_id < 5
  ) WHERE rn <= 6
),
enc_terms AS (
  -- per-subspace squared distances: PQ codes + query ADC tables
  SELECT e.vec_id, s.s, c.j,
         CAST(SUM((e.q[s.s*8+i] - c.cq[s.s*8+i]) * (e.q[s.s*8+i] - c.cq[s.s*8+i])) AS BIGINT) AS d
  FROM qe e, cent c,
       unnest(generate_series(0, 7)) AS s(s),
       unnest(generate_series(1, 8)) AS t(i)
  GROUP BY e.vec_id, s.s, c.j
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
    FROM enc_terms
  ) WHERE rn = 1
),
qtab AS (SELECT vec_id AS query_id, s, j, d FROM enc_terms WHERE vec_id < 5),
cands AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
),
pairs AS (
  SELECT x.query_id, x.neighbor_id, CAST(SUM(t.d) AS BIGINT) AS adist
  FROM cands x
  JOIN codes c ON c.vec_id = x.neighbor_id
  JOIN qtab t ON t.query_id = x.query_id AND t.s = c.s AND t.j = c.code
  GROUP BY x.query_id, x.neighbor_id
)
SELECT query_id, neighbor_id, adist, rank FROM (
  SELECT query_id, neighbor_id, adist,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
         ) AS rank
  FROM pairs
) WHERE rank <= 10
"""


TRAINING_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "ngram_jaccard": q_ngram_jaccard,
    "dup_clusters": q_dup_clusters,
    "dedup_weighted": q_dedup_weighted,
    "cluster_split": q_cluster_split,
    "corpus_curation": q_corpus_curation,
    "dedup_simhash": q_dedup_simhash,
    "ann_cosine_topk": q_ann_cosine_topk,
    "hard_negatives": q_hard_negatives,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_multiprobe_topk": q_ann_multiprobe_topk,
    "bpe_pair_counts": q_bpe_pair_counts,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "text_stats": q_text_stats,
    "doc_attributes": q_doc_attributes,
    "quality_calibrated": q_quality_calibrated,
    "domain_cap": q_domain_cap,
    "domain_cap_salted": q_domain_cap_salted,
    "token_budget_fill": q_token_budget_fill,
    "doc_fingerprint": q_doc_fingerprint,
    "severity_topk": q_severity_topk,
    "media_stats": q_media_stats,
    "media_features": q_media_features,
    "frame_sample": q_frame_sample,
    "media_decode": q_media_decode,
    "media_channel_stats": q_media_channel_stats,
    "media_entropy": q_media_entropy,
    "media_dhash": q_media_dhash,
    "media_near_dup": q_media_near_dup,
    "media_dup_clusters": q_media_dup_clusters,
}

TRAINING_ORACLE: dict[str, str] = {
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_minhash_lsh": _DEDUP_MINHASH_SQL,
    "ngram_jaccard": _NGRAM_JACCARD_SQL,
    "dup_clusters": _DUP_CLUSTERS_SQL,
    "dedup_weighted": _DEDUP_WEIGHTED_SQL,
    "cluster_split": _CLUSTER_SPLIT_SQL,
    "corpus_curation": _CORPUS_CURATION_SQL,
    "dedup_simhash": _simhash_sql(),
    "ann_cosine_topk": _ANN_COSINE_SQL,
    "hard_negatives": _HARD_NEG_SQL,
    "ann_lsh_topk": _ANN_LSH_SQL,
    "ann_multiprobe_topk": _ANN_MULTIPROBE_SQL,
    "bpe_pair_counts": _BPE_PAIRS_SQL,
    "ann_ivf_topk": _ANN_IVF_SQL,
    "ann_pq_topk": _ANN_PQ_SQL,
    "ann_ivfpq_topk": _ANN_IVFPQ_SQL,
    "embedding_near_dup": _NEAR_DUP_SQL,
    "text_stats": _TEXT_STATS_SQL,
    "doc_attributes": _DOC_ATTRIBUTES_SQL,
    "quality_calibrated": _QUALITY_CALIBRATED_SQL,
    "domain_cap": _DOMAIN_CAP_SQL,
    "domain_cap_salted": _DOMAIN_CAP_SALTED_SQL,
    "token_budget_fill": _TOKEN_BUDGET_SQL,
    "doc_fingerprint": _DOC_FINGERPRINT_SQL,
    "severity_topk": _severity_sql(),
    "media_stats": _MEDIA_STATS_SQL,
    "media_features": _MEDIA_FEATURES_SQL,
    "frame_sample": _FRAME_SAMPLE_SQL,
    "media_decode": _MEDIA_DECODE_SQL,
    "media_channel_stats": _MEDIA_CHANNEL_SQL,
    "media_entropy": _MEDIA_ENTROPY_SQL,
    "media_dhash": _MEDIA_DHASH_SQL,
    "media_near_dup": _MEDIA_NEAR_DUP_SQL,
    "media_dup_clusters": _MEDIA_DUP_CLUSTERS_SQL,
}
