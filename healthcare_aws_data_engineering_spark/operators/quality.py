"""Model-based corpus quality operators: a fastText-style hashed linear
classifier and an int8 scalar-quantization audit for embeddings.

Extensions beyond the reference (no counterpart in ``/root/reference/``):
the quality-classifier step of LLM data curation (Joulin et al. 2016
"Bag of Tricks" — hashed n-gram features → linear model; CCNet / GPT-3
quality filtering) and the embedding-compression audit that precedes
shipping an int8 ANN index.

Scale design (100 TB shape):

- Both operators are **pure projections** — zero shuffle, zero driver
  state; every row is scored/audited independently inside whole-stage
  codegen (array HOFs, no explode, no Python).
- The classifier's weight table is IMPLICIT: the weight of a feature is
  derived from md5 of the feature itself (hash-trick with a
  deterministic weight formula), so there is no weight vector to
  broadcast and the DuckDB oracle can re-derive every weight. A
  production model swaps ``_bigram_weight`` for a lookup against a
  broadcast ``MapType`` literal — the plan shape is identical.
- All arithmetic is exact integer math until one final divide on
  identical operands, so results replay bit-identically cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import tokens, tokens_sql

# hash-trick weight grid: md5 → first 8 hex digits → uint32; weight =
# (h % 2001) - 1000 ∈ [-1000, 1000]. Mean ≈ 0, so document logits are a
# random walk — sign splits the corpus roughly in half (a substantial
# label for the correctness gate).
WEIGHT_SPAN = 2001
WEIGHT_SHIFT = 1000
LOGIT_SCALE = 1_000_000
# Score only the first CLS_MAX_TOKENS words (≤ CLS_MAX_TOKENS−1 bigram
# features): quality signal is front-loaded, and the per-document cost
# becomes BOUNDED regardless of document length — the md5 feature hash
# runs in interpreted HOF evaluation, so an unbounded doc would otherwise
# cost unbounded interpreted work per row (measured 4×: 4.4s → 1.1s at
# sf0.1 with ~500-token docs).
CLS_MAX_TOKENS = 129


def _bigram_weight(bigram: Column) -> Column:
    h = F.conv(F.substring(F.md5(bigram.cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    return (h % WEIGHT_SPAN) - WEIGHT_SHIFT


def tokens_staged(text: Column) -> Column:
    """The truncated token array — callers MUST stage this as a real
    column (``.alias("__ws")``) before handing it to
    :func:`quality_score`: an inlined split is re-evaluated on EVERY
    lambda element reference inside the interpreted HOF (two element_at
    per bigram → O(n²) splits; staging measured 2.6s → 0.2s at sf0.1)."""
    return F.slice(tokens(text), 1, CLS_MAX_TOKENS)


def quality_score(ws: Column) -> tuple[Column, Column]:
    """(n_bigrams, logit_e6) of the hashed-bigram linear model over a
    PRE-STAGED token array (see :func:`tokens_staged`).

    logit_e6 = round(1e6 · Σ w(bigram) / (1000 · n)) — the mean feature
    weight normalized to [-1, 1] then snapped to the 1e-6 grid. The sum
    is exact long addition (order-free); the divide and round see
    identical operands in any engine.
    """
    n = F.size(ws) - 1
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.concat(
            F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + 1)
        ),
    )
    total = F.aggregate(
        F.transform(bigrams, _bigram_weight),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    logit = F.when(
        n > 0,
        F.round(
            F.lit(float(LOGIT_SCALE))
            * (
                total.cast("double")
                / (F.lit(float(WEIGHT_SHIFT)) * n.cast("double"))
            )
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))  # featureless doc → 0, not NULL
    return n.cast("long"), logit


def classify_quality(docs: DataFrame) -> DataFrame:
    """Per-document quality logits + binary keep label.

    Output: ``(doc_id, n_bigrams, logit_e6, label)`` — ``label=1`` when
    the mean hashed-bigram weight is positive. One row per document,
    zero shuffle (plan-tested).
    """
    staged = docs.select(
        F.col("doc_id"),
        tokens_staged(F.col("text")).alias("__ws"),
    )
    n, logit = quality_score(F.col("__ws"))
    return staged.select(
        "doc_id",
        n.alias("n_bigrams"),
        logit.alias("logit_e6"),
        F.when(logit > 0, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("label"),
    )


def classifier_sql() -> str:
    """DuckDB twin of :func:`classify_quality` (same md5 weight grid)."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_slice({tokens_sql('text')}, 1, {CLS_MAX_TOKENS}) AS ws
  FROM documents
),
feats AS (
  SELECT doc_id, len(ws) - 1 AS n,
    list_transform(
      range(1, GREATEST(len(ws) - 1, 1) + 1),
      i -> (CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 8)) AS BIGINT)
            % {WEIGHT_SPAN}) - {WEIGHT_SHIFT}
    ) AS w
  FROM toks
),
scored AS (
  SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
    CASE WHEN n > 0 THEN CAST(round(
      CAST({LOGIT_SCALE} AS DOUBLE)
      * (CAST(list_sum(w) AS DOUBLE)
         / (CAST({WEIGHT_SHIFT} AS DOUBLE) * CAST(n AS DOUBLE)))
    ) AS BIGINT) ELSE CAST(0 AS BIGINT) END AS logit_e6
  FROM feats
)
SELECT doc_id, n_bigrams, logit_e6,
       CAST(CASE WHEN logit_e6 > 0 THEN 1 ELSE 0 END AS INTEGER) AS label
FROM scored
"""


# ------------------------------------------------------- int8 quantization --

INT8_LEVELS = 255


def int8_audit(corpus: DataFrame) -> DataFrame:
    """Per-vector int8 scalar-quantization audit: quantize each vector to
    255 levels over its own [min, max] range and report the exact
    reconstruction error — the go/no-go table for shipping an int8 index.

    All values ride the shared micro-unit grid; the reconstruction error
    is computed in the ×255 integer domain (``err = |255·q − (255·mn +
    code·span)|``), so every cell is exact BIGINT math except the code
    rounding divide, whose operands are identical in any engine.

    Output: ``(vec_id, min_u6, max_u6, max_err_255, sum_err_255)``.
    Zero shuffle — the audit of a billion vectors is one scan.
    """
    from .similarity import quantize_vec

    q = quantize_vec(F.col("embedding"))
    staged = corpus.select(F.col("vec_id"), q.alias("__q"))
    mn = F.array_min(F.col("__q"))
    mx = F.array_max(F.col("__q"))
    span = (mx - mn).alias("__span")
    with_range = staged.select("vec_id", "__q", mn.alias("__mn"), span)
    code = lambda x: F.when(  # noqa: E731
        F.col("__span") > 0,
        F.round(
            F.lit(float(INT8_LEVELS))
            * (
                (x - F.col("__mn")).cast("double")
                / F.col("__span").cast("double")
            )
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    err = F.transform(
        F.col("__q"),
        lambda x: F.abs(
            x * INT8_LEVELS
            - (F.col("__mn") * INT8_LEVELS + code(x) * F.col("__span"))
        ),
    )
    return with_range.select(
        "vec_id",
        F.col("__mn").alias("min_u6"),
        (F.col("__mn") + F.col("__span")).alias("max_u6"),
        F.array_max(err).alias("max_err_255"),
        F.aggregate(
            err, F.lit(0).cast("long"), lambda s, x: s + x
        ).alias("sum_err_255"),
    )


def int8_audit_sql() -> str:
    """DuckDB twin of :func:`int8_audit` (same grids, same rounding)."""
    return f"""
WITH qe AS (
  SELECT vec_id, list_transform(
    embedding,
    x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT)
  ) AS q
  FROM embeddings
),
rng AS (
  SELECT vec_id, q, list_min(q) AS mn, list_max(q) - list_min(q) AS span
  FROM qe
),
errs AS (
  SELECT vec_id, mn, span,
    list_transform(
      q,
      x -> abs(x * {INT8_LEVELS} - (mn * {INT8_LEVELS}
           + (CASE WHEN span > 0 THEN CAST(round(
                CAST({INT8_LEVELS} AS DOUBLE)
                * (CAST(x - mn AS DOUBLE) / CAST(span AS DOUBLE))
              ) AS BIGINT) ELSE 0 END) * span))
    ) AS err
  FROM rng
)
SELECT vec_id, mn AS min_u6, mn + span AS max_u6,
       CAST(list_max(err) AS BIGINT) AS max_err_255,
       CAST(list_sum(err) AS BIGINT) AS sum_err_255
FROM errs
"""
