"""BPE tokenizer training and encoding over a document corpus.

Extension beyond the reference (no counterpart in ``/root/reference/``;
flagged per SURVEY §7.2 step 7): the training-data pipeline step that
token *counting* (``text.token_count``) approximates — actually
LEARNING the subword merge table (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") and encoding documents
with it.

Scale design (100 TB shape)
---------------------------
BPE training factors into two parts with very different scale behavior,
and the split here mirrors how production tokenizer trainers
(SentencePiece, HF tokenizers) work:

- **The corpus-scale pass is ONE bounded-key aggregation**: word →
  count. Distinct words grow sublinearly with corpus size (Heaps' law)
  and the agg map-side-combines, so the shuffle carries the vocabulary,
  not the corpus. This is the ONLY step that touches all the data.
- **Merge learning runs on the collected frequency table** — O(vocab)
  driver memory, deterministic (max count, lexicographic pair
  tiebreak), independent of corpus size. A 100 TB corpus and its 1 GB
  word-frequency table learn identical merges; collecting the table is
  the index-build step, exactly like ``sample_centroids``.
- **Encoding is a broadcast-merges Arrow-batched pandas UDF** — the
  justified Python path (per-word iterative merge application is not
  expressible as a reasonable Column tree; a per-batch word cache keeps
  the amortized cost at one merge walk per DISTINCT word per batch).
"""

# NOTE: no `from __future__ import annotations` here — it stringifies
# the pandas UDF's type hints, which PySpark's hint resolver rejects.
from pyspark.sql import DataFrame, functions as F

END = "</w>"


def word_counts(
    docs: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """``word, n`` frequency table — the one corpus-scale pass (bounded
    keys, map-side combine). Lower-cased whitespace words; empty strings
    dropped."""
    w = F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
        "word"
    )
    out = (
        docs.select(w)
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_count > 1:
        out = out.filter(F.col("n") >= min_count)
    return out


def learn_merges(
    freqs: dict[str, int], n_merges: int
) -> list[tuple[str, str]]:
    """Deterministic BPE merge learning over a word-frequency dict:
    repeatedly merge the most frequent adjacent symbol pair (ties broken
    lexicographically). Pure Python on the bounded vocabulary."""
    words: list[tuple[list[str], int]] = [
        (list(w) + [END], n) for w, n in sorted(freqs.items())
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        best = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
        pair, cnt = best[0], best[1]
        if cnt < 2:
            break  # nothing repeats: further merges are memorization
        merges.append(pair)
        a, b = pair
        ab = a + b
        for syms, _ in words:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i : i + 2] = [ab]
                else:
                    i += 1
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned merges to one word (lowest-rank pair first — the
    standard BPE encode order, shared by the UDF and the tests)."""
    syms = list(word) + [END]
    while len(syms) > 1:
        pairs = [(ranks.get((a, b)), i) for i, (a, b) in enumerate(zip(syms, syms[1:]))]
        ranked = [(r, i) for r, i in pairs if r is not None]
        if not ranked:
            break
        _, i = min(ranked)
        syms[i : i + 2] = [syms[i] + syms[i + 1]]
    return syms


def bpe_train(
    docs: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    min_count: int = 2,
    max_vocab: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a corpus: distributed word
    count → collected bounded frequency table → deterministic merge
    learning (:func:`learn_merges`).

    ``max_vocab`` bounds the driver collect: only the ``max_vocab`` most
    frequent distinct words (ties broken lexicographically — a total
    order, so the truncation is deterministic) reach the driver, as a
    TakeOrdered top-k rather than a full sort. On web-scale text the
    distinct-word table above ``min_count`` is hundreds of millions of
    rows (typos, URLs, code); production trainers (SentencePiece, HF
    tokenizers) train on a bounded/sampled vocabulary for the same
    reason, and the frequency mass BPE merges actually draw on is
    concentrated in the head, so a 1e6-word head is the standard
    contract — not an approximation footnote. Pass ``max_vocab=None``
    to collect the full ``>= min_count`` vocabulary (gate-scale only).
    """
    wc = word_counts(docs, text_col, min_count)
    if max_vocab is not None:
        # TakeOrderedAndProject: top-V by (count desc, word asc), never
        # a full vocabulary sort or an unbounded collect
        wc = wc.orderBy(F.col("n").desc(), F.col("word").asc()).limit(max_vocab)
    rows = wc.collect()
    return learn_merges({r["word"]: r["n"] for r in rows}, n_merges)


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col``: the document's BPE token sequence
    (array<string>). Arrow-batched pandas UDF with a per-batch word
    cache — one merge walk per DISTINCT word per batch, the rest are
    dict hits."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("array<string>")
    def _encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc_doc(t):
            if t is None:
                return []
            out: list[str] = []
            for w in t.lower().split():
                toks = cache.get(w)
                if toks is None:
                    toks = encode_word(w, ranks)
                    cache[w] = toks
                out.extend(toks)
            return out

        return texts.map(enc_doc)

    return docs.withColumn(out_col, _encode(F.col(text_col)))


def vocab_from_merges(merges: list[tuple[str, str]]) -> list[str]:
    """The subword vocabulary the merge table induces (merge products,
    in learning order) — what a trainer ships alongside the merges."""
    return [a + b for a, b in merges]
