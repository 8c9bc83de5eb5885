"""Both subword tokenizer families over one corpus — train, encode,
compare. No driver contract required; every step is an independently
tested library operator (operators/bpe.py, operators/unigram.py).

What the script shows:

1. **One shared corpus-scale pass.** Both trainers consume the SAME
   bounded word-frequency table (`bpe.word_counts` — the only step that
   touches every document; at 100 TB it is the only step whose cost
   scales with the corpus). Everything after it is driver-side model
   math on vocabulary-sized data.
2. **Two model families, one encode shape.** BPE learns a merge table
   bottom-up (Sennrich '16); unigram-LM learns piece probabilities
   top-down by EM + pruning (Kudo '18 / SentencePiece). Both encode via
   the same Arrow pandas-UDF pattern (broadcast model, per-batch word
   cache), so swapping tokenizers never changes the pipeline plan.
3. **What to compare.** Tokens per document (compression), vocabulary
   actually exercised, and fertility (tokens per word) — the numbers a
   tokenizer choice is made on. Both encodings are lossless, so the
   comparison is purely about segmentation quality per budget.

Run from the repo root:

    python examples/tokenizer_pipeline.py [sf_dir]   # default /root/testdata/sf0.001
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from healthcare_aws_data_engineering_spark.operators import bpe as B
from healthcare_aws_data_engineering_spark.operators import unigram as U
from healthcare_aws_data_engineering_spark.session import get_spark
from healthcare_aws_data_engineering_spark.sources.tables import load_table

# The driver corpus is synthetic with a ~31-word vocabulary, so any
# budget above it just memorizes whole words (fertility 1.0 both
# families). Budgets BELOW the word count force real subword
# segmentation — the regime the comparison is about.
N_MERGES = 15
VOCAB_SIZE = 30


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("tokenizer-example")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # ---- train (shared corpus pass inside each; vocabulary-bounded) ----
    merges = B.bpe_train(docs, n_merges=N_MERGES, min_count=2)
    pieces = U.unigram_train(docs, vocab_size=VOCAB_SIZE, min_count=2)

    # ---- encode (same Arrow UDF shape for both) ----
    enc = U.unigram_encode(B.bpe_encode(docs, merges), pieces)
    stats = enc.select(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size("bpe_tokens")).alias("bpe_tokens"),
        F.sum(F.size("unigram_tokens")).alias("uni_tokens"),
        F.sum(
            F.size(F.split(F.trim(F.lower("text")), r"\s+"))
        ).alias("words"),
    ).first()

    bpe_used = (
        enc.select(F.explode("bpe").alias("t")).distinct().count()
    )
    uni_used = (
        enc.select(F.explode("uni").alias("t")).distinct().count()
    )

    print(f"corpus: {stats['docs']} docs, {stats['words']} words")
    for name, toks, used_n, budget in (
        ("bpe", stats["bpe_tokens"], bpe_used, N_MERGES),
        ("unigram", stats["uni_tokens"], uni_used, VOCAB_SIZE),
    ):
        print(
            f"{name:8s} tokens={toks}  fertility={toks / stats['words']:.3f}"
            f"  distinct pieces used={used_n} (budget {budget})"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
