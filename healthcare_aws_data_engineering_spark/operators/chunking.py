"""Overlapping document chunking — the context-window preparation step
of a training/RAG pipeline: cut each document into fixed-size token
windows with a stride smaller than the window, so consecutive chunks
overlap and no span longer than ``window - stride`` is lost at a
boundary.

Semantics: tokenize on single spaces; chunk ``c`` covers tokens
``[c·stride, c·stride + window)``; chunks start while ``c·stride <
n_tokens`` (the final chunk may be short). Each chunk carries its
offsets and an md5 fingerprint, so downstream passes (decontamination,
dedup, packing) can key on chunks without re-tokenizing.

Scale shape (100 TB): ZERO shuffles — the chunk list is built inside
the row (``transform`` over a ``sequence`` of starts) and posexploded;
Spark never moves a byte between executors, and the explode factor is
``~n_tok/stride`` rows per doc. This is the plan a chunker must have:
anything that shuffles per-token (or collects documents to group
chunks) dies at corpus scale. Fingerprints are md5 so the result
replays bit-identically in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

CHUNK_WINDOW = 64
CHUNK_STRIDE = 48


def chunk_documents(
    docs: DataFrame,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
    emit_text: bool = False,
) -> DataFrame:
    """``doc_id, chunk_idx, start_tok, chunk_tokens, chunk_fp`` per
    overlapping window (+ ``chunk_text`` when ``emit_text``).
    ``chunk_tokens`` is the actual token count (< window only for the
    final chunk)."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    # Deliberately split on a single space, NOT the shared \s+ tokenizer
    # (operators/text.py): chunking is a REVERSIBLE segmentation — the
    # slice is re-joined with ' ' so adjacent chunks re-concatenate to the
    # original text byte-exactly. A \s+ split would normalize tabs/double
    # spaces and make chunk_fp/chunk_text lossy.
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    # starts 0, stride, 2·stride, ... strictly below n (n >= 1 always:
    # split('') is ['']).
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    chunked = docs.select(
        F.col("doc_id"),
        n.cast("long").alias("__n"),
        F.posexplode(
            F.transform(
                starts, lambda s: F.array_join(F.slice(toks, s + 1, window), " ")
            )
        ).alias("chunk_idx", "__txt"),
    )
    cols = [
        F.col("doc_id"),
        F.col("chunk_idx"),
        (F.col("chunk_idx") * stride).cast("long").alias("start_tok"),
        F.least(F.lit(window), F.col("__n") - F.col("chunk_idx") * stride)
        .cast("long")
        .alias("chunk_tokens"),
        F.md5(F.col("__txt")).alias("chunk_fp"),
    ]
    if emit_text:
        cols.append(F.col("__txt").alias("chunk_text"))
    return chunked.select(*cols)


def chunk_sql() -> str:
    """DuckDB twin: ``range(0, n, CHUNK_STRIDE)`` enumerates the same starts;
    ``list_slice`` is 1-based inclusive like Spark's ``slice``."""
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
c AS (
  SELECT doc_id, len(l) AS n, l,
         unnest(range(0, greatest(len(l), 1), {CHUNK_STRIDE})) AS start_tok
  FROM t
)
SELECT doc_id,
       CAST(start_tok // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(LEAST({CHUNK_WINDOW}, n - start_tok) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(list_slice(l, start_tok + 1, start_tok + {CHUNK_WINDOW}), ' '))
         AS chunk_fp
FROM c
"""
