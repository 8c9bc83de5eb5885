"""Span-level exact deduplication — the n-gram-block approximation of
suffix-array substring dedup (Lee et al., "Deduplicating Training Data
Makes Language Models Better"), the pass that removes boilerplate
repeated ACROSS documents rather than whole-document duplicates.

Semantics: tokenize on single spaces, cut each document into
NON-overlapping ``span_tokens``-token blocks (the tail block may be
shorter), and keep only the globally FIRST occurrence of each distinct
block — "first" by ``(doc_id, span_idx)``, a total order. Surviving
blocks are reassembled in order into the deduplicated document.

Why non-overlapping blocks: overlapping-window removal makes the
reassembly ill-defined (dropping window i changes window i+1's text).
Block granularity trades recall (a duplicate phrase straddling a block
boundary survives) for an exact, order-independent, replayable result —
the same trade the MinHash pass makes at document granularity, one level
down.

Scale shape (100 TB): blocks are built INSIDE the row via
``transform(sequence(...))`` over the token array — no token-level
explode, no per-token shuffle. The plan is: projection → posexplode of
~n_tok/span_tokens blocks per doc → ONE shuffle keyed on the block
fingerprint (the keep-first window; md5 keys are uniform so no skew) →
ONE shuffle keyed on doc_id (the reassembly agg). Output rows are slim
(fingerprint + lengths, not the rebuilt text) so the result of a
100 TB run is manifest-sized; ``emit_text=True`` exists for tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .staging import staged_persist

SPAN_TOKENS = 8


def span_dedup(docs: DataFrame, emit_text: bool = False) -> DataFrame:
    """Per-document result of corpus-wide span dedup: ``doc_id, n_spans,
    n_kept, dedup_len, dedup_fp`` (+ ``dedup_text`` when ``emit_text``).
    ``dedup_fp`` = md5 of the reassembled text ('' when every span of
    the doc was a repeat), so value-level correctness is checkable
    without shipping rebuilt corpora."""
    k = SPAN_TOKENS
    # Deliberately split on a single space, NOT the shared \s+ tokenizer
    # (operators/text.py): spans are re-joined with ' ' to REBUILD the
    # deduplicated text, so the segmentation must round-trip the original
    # bytes exactly (same contract as operators/chunking.py).
    # The token array is STAGED as a real column before the span
    # transform indexes it (r15): an inline split column inside the
    # lambda re-evaluates the split per span — the O(words²) trap the
    # word_shingles docstring names.
    staged = docs.select(
        F.col("doc_id"),
        F.split(F.col("text"), " ").alias("__tk"),
    )
    n_spans = F.ceil(F.size(F.col("__tk")) / F.lit(k)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(F.slice(F.col("__tk"), i * k + 1, k), " "),
    )
    exploded = staged.select(
        "doc_id", F.posexplode(spans).alias("span_idx", "span_text")
    )
    # Globally keep the first (doc_id, span_idx) occurrence of each span.
    w = Window.partitionBy(F.md5(F.col("span_text"))).orderBy(
        "doc_id", "span_idx"
    )
    kept = (
        exploded.withColumn("rn", F.row_number().over(w))
        .withColumn("keep", F.col("rn") == 1)
        .drop("rn")
    )
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("keep"),
                        F.struct(F.col("span_idx"), F.col("span_text")),
                    )
                )
            ),
            lambda s: s.span_text,
        ),
        " ",
    )
    out = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        rebuilt.alias("__txt"),
    )
    cols = [
        F.col("doc_id"),
        F.col("n_spans"),
        F.col("n_kept"),
        F.length("__txt").cast("long").alias("dedup_len"),
        F.md5(F.col("__txt")).alias("dedup_fp"),
    ]
    if emit_text:
        cols.append(F.col("__txt").alias("dedup_text"))
    return out.select(*cols)


def span_dedup_sql() -> str:
    """DuckDB twin: same blocks, same (doc_id, span_idx) keep-first
    order, same single-space reassembly."""
    k = SPAN_TOKENS
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
tok AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i FROM t
),
sp AS (
  SELECT doc_id, (i - 1) // {k} AS span_idx,
         string_agg(w, ' ' ORDER BY i) AS span_text
  FROM tok GROUP BY doc_id, (i - 1) // {k}
),
flagged AS (
  SELECT doc_id, span_idx, span_text,
         ROW_NUMBER() OVER (PARTITION BY md5(span_text)
                            ORDER BY doc_id, span_idx) = 1 AS keep
  FROM sp
),
agg AS (
  SELECT doc_id,
         COUNT(*) AS n_spans,
         SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
         COALESCE(string_agg(CASE WHEN keep THEN span_text END, ' '
                             ORDER BY span_idx), '') AS txt
  FROM flagged GROUP BY doc_id
)
SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST(length(txt) AS BIGINT) AS dedup_len,
       md5(txt) AS dedup_fp
FROM agg
"""


# ----------------------------------------------------------------------
# repeated_spans — the OVERLAPPING-window sibling of span_dedup: exact
# maximal repeated substrings, reported (not removed).
# ----------------------------------------------------------------------
REP_SPAN_L = 8       # window length in tokens (stride 1)
REP_MIN_COUNT = 2    # corpus-wide occurrences at/above which a window repeats


def repeated_spans(
    docs: DataFrame,
    window: int = REP_SPAN_L,
    min_count: int = REP_MIN_COUNT,
) -> DataFrame:
    """Maximal repeated token spans — the streaming-hash rendition of
    Lee et al.'s suffix-array substring dedup at word granularity:
    every length-``window`` token window (STRIDE 1, unlike span_dedup's
    fixed blocks) is hashed; windows occurring ≥ ``min_count`` times
    corpus-wide (within-doc repeats count, as in the paper) mark their
    positions; per document, overlapping/adjacent marked windows merge
    into maximal spans (gaps-and-islands). Output one row per span:
    ``doc_id, span_idx, start_tok, end_tok, span_tokens`` (end
    exclusive; span_idx 1..k in position order). This names the exact
    byte ranges a scrubber would cut — finer than span_dedup's block
    grid, which misses duplicates straddling block boundaries.

    Tokenizes through the SHARED tokenizer (operators/text.py): offsets
    index the canonical token stream, no text is rebuilt, so the
    reversible-segmentation exception does not apply here.

    Scale shape (100 TB): the window explode is token-stream-sized — the
    honest price of EXACT substring mining (a suffix array pays the same
    linear term); rows are (doc_id, pos, 16-byte hash), never text. Then
    ONE map-side-combined count by hash (Zipf head collapses before the
    shuffle), one hash-keyed join back (uniform md5 keys, no skew), and
    the island merge is a window over each doc's OWN marked positions —
    bounded by document length, never corpus-sized partitions.
    """
    from .text import tokens

    staged = docs.select(
        # aliased: the persisted window table keeps attribute ids of its own
        F.col("doc_id").alias("doc_id"), tokens(F.col("text")).alias("__ws")
    ).filter(F.size("__ws") >= window)
    # Persisted: the window table feeds both the corpus-wide count and
    # the mark join — without it the tokenize+hash explode re-runs per
    # subtree (the ppjoin staging precedent). Slim fixed-width rows.
    wins = staged.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(__ws)-{window}),"
                f" i -> md5(array_join(slice(__ws, i+1, {window}), ' ')))"
            )
        ).alias("pos", "h"),
    )
    wins = staged_persist(wins, "spans.repeated_wins")
    repeated = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("h")
    )
    marked = wins.join(repeated, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + window).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = (
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0)
    )
    islands = marked.select(
        "doc_id",
        "pos",
        F.sum(brk)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int")
        .alias("span_idx"),
    )
    return islands.groupBy("doc_id", "span_idx").agg(
        F.min("pos").cast("long").alias("start_tok"),
        (F.max("pos") + window).cast("long").alias("end_tok"),
        (F.max("pos") + window - F.min("pos")).cast("long").alias("span_tokens"),
    )


def repeated_spans_sql() -> str:
    """DuckDB oracle twin of :func:`repeated_spans` (same shared-tokenizer
    class, same island break rule)."""
    from .text import tokens_sql

    return f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS ws FROM documents
),
wins AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(ws[i:i + {REP_SPAN_L - 1}], ' ')) AS h
  FROM t, unnest(generate_series(1, len(ws) - {REP_SPAN_L - 1})) AS u(i)
  WHERE len(ws) >= {REP_SPAN_L}
),
rep AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= {REP_MIN_COUNT}),
marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN rep USING (h)),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos > COALESCE(MAX(pos + {REP_SPAN_L}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS brk
  FROM marked
),
g AS (
  SELECT doc_id, pos,
    CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS span_idx
  FROM isl
)
SELECT doc_id, span_idx,
       CAST(MIN(pos) AS BIGINT) AS start_tok,
       CAST(MAX(pos) + {REP_SPAN_L} AS BIGINT) AS end_tok,
       CAST(MAX(pos) + {REP_SPAN_L} - MIN(pos) AS BIGINT) AS span_tokens
FROM g GROUP BY doc_id, span_idx
"""


# ----------------------------------------------------------------------
# scrub_repeated — the removal transform over repeated_spans' signal:
# keep the globally FIRST occurrence of every repeated window, cut the
# tokens covered by the rest (Lee et al.'s actual dedup transformation).
# ----------------------------------------------------------------------


def scrub_repeated(
    docs: DataFrame,
    window: int = REP_SPAN_L,
    min_count: int = REP_MIN_COUNT,
) -> DataFrame:
    """Keep-first span scrubbing: every length-``window`` token window
    occurring ≥ ``min_count`` times corpus-wide keeps its FIRST
    occurrence (min (doc_id, pos), the stable ingest order) and every
    other occurrence marks its positions for removal; per document the
    marked windows merge into maximal islands (same rule as
    :func:`repeated_spans`) and the covered tokens are cut. One row per
    document (scrub-free docs included): ``doc_id, n_tokens,
    n_removed, n_kept, n_cut_spans, kept_fp`` — ``kept_fp`` is the md5
    of the surviving tokens joined with ' ', so content-level
    correctness is checkable without shipping rebuilt corpora (the
    span_dedup contract, at exact-substring granularity).

    Skew note: the canonical first occurrence is derived with TWO
    map-side-combined aggregations (min doc per hash, then min pos
    within that doc) instead of a row_number window over the hash — a
    universal boilerplate window has corpus-scale occurrence counts,
    and a per-hash sort partition would serialize exactly there.
    """
    from .text import tokens

    staged = docs.select(
        # aliased: the persisted window table keeps attribute ids of its own
        F.col("doc_id").alias("doc_id"), tokens(F.col("text")).alias("__ws")
    )
    # Persisted: three subtrees read the window table (count, first-pos,
    # mark join) — see repeated_spans. Slim fixed-width rows.
    wins = staged.filter(F.size("__ws") >= window).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(__ws)-{window}),"
                f" i -> md5(array_join(slice(__ws, i+1, {window}), ' ')))"
            )
        ).alias("pos", "h"),
    )
    wins = staged_persist(wins, "spans.scrub_wins")
    rep = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__c"), F.min("doc_id").alias("__d0"))
        .filter(F.col("__c") >= min_count)
        .select("h", "__d0")
    )
    first_pos = (
        wins.join(rep, "h")
        .filter(F.col("doc_id") == F.col("__d0"))
        .groupBy("h")
        .agg(F.min("pos").alias("__p0"))
    )
    marked = (
        wins.join(rep, "h")
        .join(first_pos, "h")
        .filter(
            ~((F.col("doc_id") == F.col("__d0")) & (F.col("pos") == F.col("__p0")))
        )
        .select("doc_id", "pos")
        # No distinct needed (r7 advice): each (doc_id, pos) carries
        # exactly ONE window hash, and rep/first_pos are one row per
        # hash, so the two equi-joins cannot duplicate a (doc_id, pos)
        # — a distinct here would be a pure no-op shuffle.
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + window).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    islands = (
        marked.select(
            "doc_id",
            "pos",
            F.sum(brk)
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("__isl"),
        )
        .groupBy("doc_id", "__isl")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + window).alias("e"),
        )
    )
    cuts = islands.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("__cuts"),
        F.count(F.lit(1)).alias("n_cut_spans"),
        F.sum(F.col("e") - F.col("s")).alias("n_removed"),
    )
    from .text import token_count

    base = docs.select(
        F.col("doc_id"),
        tokens(F.col("text")).alias("__ws"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    # 0-based token index i survives when no island covers it; __ws is
    # staged, the HOFs index it in-row (the SCALING.md staging lesson)
    kept_text = F.expr(
        "array_join(transform("
        "  filter(transform(__ws, (w, i) -> struct(w AS w, i AS i)),"
        "         s -> NOT exists(__cuts, c -> s.i >= c.s AND s.i < c.e)),"
        "  s -> s.w), ' ')"
    )
    return (
        base.join(cuts, "doc_id", "left")
        .withColumn("__cuts", F.coalesce("__cuts", F.expr("array()")))
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            (F.col("n_tokens") - F.coalesce("n_removed", F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            F.coalesce("n_cut_spans", F.lit(0)).cast("long").alias("n_cut_spans"),
            F.md5(
                F.when(F.col("n_tokens") == 0, F.lit("")).otherwise(kept_text)
                .cast("binary")
            ).alias("kept_fp"),
        )
    )


def scrub_repeated_sql() -> str:
    """DuckDB oracle twin of :func:`scrub_repeated` (same canonical
    first-occurrence rule, same island merge, same kept-text md5)."""
    from .text import token_count_sql, tokens_sql

    return f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS ws,
         {token_count_sql('text')} AS n_tokens
  FROM documents
),
wins AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(ws[i:i + {REP_SPAN_L - 1}], ' ')) AS h
  FROM t, unnest(generate_series(1, len(ws) - {REP_SPAN_L - 1})) AS u(i)
  WHERE len(ws) >= {REP_SPAN_L}
),
rep AS (
  SELECT h, MIN(doc_id) AS d0 FROM wins GROUP BY h
  HAVING COUNT(*) >= {REP_MIN_COUNT}
),
firstpos AS (
  SELECT w.h, MIN(w.pos) AS p0
  FROM wins w JOIN rep r ON w.h = r.h AND w.doc_id = r.d0
  GROUP BY w.h
),
marked AS (
  -- no DISTINCT: one hash per (doc_id, pos), one row per hash in
  -- rep/firstpos — the joins cannot duplicate (mirrors the Spark side)
  SELECT w.doc_id, w.pos
  FROM wins w
  JOIN rep r ON w.h = r.h
  JOIN firstpos f ON w.h = f.h
  WHERE NOT (w.doc_id = r.d0 AND w.pos = f.p0)
),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos > COALESCE(MAX(pos + {REP_SPAN_L}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS brk
  FROM marked
),
g AS (
  SELECT doc_id, pos,
    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {REP_SPAN_L} AS e
  FROM g GROUP BY doc_id, island
),
cutpos AS (
  SELECT doc_id, list(p) AS cp, COUNT(*) AS n_removed
  FROM (SELECT doc_id, unnest(generate_series(s, e - 1)) AS p FROM spans)
  GROUP BY doc_id
),
cutspans AS (
  SELECT doc_id, COUNT(*) AS n_cut_spans FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(t.n_tokens - COALESCE(c.n_removed, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(s.n_cut_spans, 0) AS BIGINT) AS n_cut_spans,
       md5(CASE WHEN t.n_tokens = 0 THEN '' ELSE
         -- COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
         -- array_join([]) is '' — a fully-scrubbed doc must hash ''
         COALESCE(array_to_string(
           list_transform(
             list_filter(
               list_transform(t.ws, (w, i) -> {{'w': w, 'i': i - 1}}),
               x -> NOT list_contains(COALESCE(c.cp, []), x.i)),
             x -> x.w), ' '), '') END) AS kept_fp
FROM t
LEFT JOIN cutpos c ON c.doc_id = t.doc_id
LEFT JOIN cutspans s ON s.doc_id = t.doc_id
"""
