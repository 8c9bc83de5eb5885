"""End-to-end training-corpus curation with this engine's operators —
the LLM-data-pipeline story in one script, no driver contract required.

Chain (each stage is an independently-oracled driver query; this script
shows how they compose as a library):

1. **Attributes** — ONE corpus scan materializes every per-doc signal
   (`operators.text.doc_attributes`: counts, ratios, language guess,
   quality, fingerprint, repetition flags).
2. **Soft dedup** — LSH→Jaccard→connected-components near-dup clusters;
   every doc gets loss weight 1/|cluster| instead of being dropped
   (`plans.training_data_queries.q_dedup_weighted` logic, inlined here
   against the attribute table).
3. **Domain cap** — at most DOMAIN_CAP docs per source, best-by-quality,
   via the skew-safe salted two-stage top-k
   (`plans.training_data_queries.domain_cap_topk`).
4. **Token budget** — fill half the surviving token mass in quality
   order with the two-phase global prefix sum (no single-partition
   window; `plans.training_data_queries.two_phase_cum_tokens`).
5. **Mixture draw** — epoch-upsample the curated set to sqrt-temperature
   source shares (`plans.corpus_queries.mixture_draw`: full epochs +
   one hash-threshold partial epoch, zero windows).
6. **Epoch order** — deterministic per-epoch shuffle manifest:
   (shard, pos) permutation from one bounded-key shuffle.

Run from the repo root:

    python examples/curation_pipeline.py [sf_dir]   # default /root/testdata/sf0.001
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F

from healthcare_aws_data_engineering_spark.operators import dedup as D
from healthcare_aws_data_engineering_spark.operators import graph as G
from healthcare_aws_data_engineering_spark.operators.text import doc_attributes
from healthcare_aws_data_engineering_spark.plans.corpus_queries import mixture_draw
from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
    DOMAIN_CAP,
    DUP_CLUSTER_JACCARD,
    TOKEN_BUDGET_DEN,
    TOKEN_BUDGET_NUM,
    domain_cap_topk,
    two_phase_cum_tokens,
)
from healthcare_aws_data_engineering_spark.session import get_spark
from healthcare_aws_data_engineering_spark.sources.tables import load_table


def curate(spark, sf_dir: str):
    """Returns (manifest DataFrame, stage-stats dict). The manifest is
    one row per SELECTED doc: doc_id, source, quality, n_tokens, weight,
    shard, pos — everything a trainer's data loader needs."""
    docs = load_table(spark, sf_dir, "documents")
    stats = {}

    # 1. one-scan attribute manifest
    attrs = doc_attributes(docs).select(
        "doc_id", "source", "quality", "n_tokens"
    )
    stats["corpus_docs"] = attrs.count()

    # 2. soft dedup: weight = 1/|near-dup cluster|
    pairs = D.minhash_lsh_pairs(
        docs, num_perm=6, bands=3, backend="md5"
    )
    verified = (
        D.ngram_jaccard(docs, pairs)
        .filter(F.col("jaccard") >= DUP_CLUSTER_JACCARD)
        .select("doc_a", "doc_b")
    )
    clusters = G.dup_clusters(verified).select("doc_id", "cluster_size")
    weighted = attrs.join(clusters, "doc_id", "left").withColumn(
        "weight", F.lit(1.0) / F.coalesce("cluster_size", F.lit(1))
    )
    stats["near_dup_docs"] = weighted.filter(F.col("weight") < 1.0).count()

    # 3. per-domain cap (salted top-k keeps the hot-domain story honest)
    capped = domain_cap_topk(
        weighted.select("doc_id", "source", "quality"), cap=DOMAIN_CAP
    ).select("doc_id", "rk")
    selected = weighted.join(capped, "doc_id")
    stats["after_domain_cap"] = selected.count()

    # 4. token budget: half the surviving token mass, best-quality first
    # (n_rows: reuse the count stage 3 already materialized — the bucket
    # count derives from it without re-evaluating the selection chain)
    cum = two_phase_cum_tokens(
        selected.select("doc_id", "quality", "n_tokens"),
        n_rows=stats["after_domain_cap"],
    )
    kept = cum.filter(
        F.col("cum_tokens") * TOKEN_BUDGET_DEN
        <= F.col("__total") * TOKEN_BUDGET_NUM
    ).select("doc_id", "cum_tokens")
    final = selected.join(kept, "doc_id")
    stats["after_token_budget"] = final.count()

    # 5. epoch-upsampled mixture draw: re-balance the curated set to
    # sqrt-temperature source shares (one row per (doc, epoch) copy —
    # the trainer-facing draw; uses the precomputed n_tokens so the
    # text is never re-scanned)
    draw = mixture_draw(
        final.select("doc_id", "source", "n_tokens"),
        epoch_docs=stats["after_token_budget"],
        n_tokens_col="n_tokens",
    )
    drawn = final.join(draw.select("doc_id", "epoch"), "doc_id")
    stats["mixture_rows"] = drawn.count()

    # 6. deterministic epoch order (inline twin of q_training_order;
    # the epoch index salts the key so every epoch reshuffles)
    okey = F.md5(
        F.concat(
            F.lit("ep"), F.col("epoch").cast("string"), F.lit("#"),
            F.col("doc_id").cast("string"),
        ).cast("binary")
    )
    shard = (F.conv(F.substring(okey, 1, 8), 16, 10).cast("long") % 64).cast(
        "int"
    )
    ordered = drawn.select(
        "doc_id", "source", "quality", "n_tokens", "weight", "epoch",
        shard.alias("shard"), okey.alias("__k"),
    )
    w = Window.partitionBy("shard").orderBy("__k", "doc_id")
    manifest = ordered.select(
        "doc_id", "source", "quality", "n_tokens", "weight", "epoch",
        "shard", F.row_number().over(w).alias("pos"),
    )
    return manifest, stats


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("curation-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    manifest, stats = curate(spark, sf_dir)
    n = manifest.count()
    print("curation stages:", stats)
    print(f"selected {n} docs into {64} shards; sample:")
    manifest.orderBy("shard", "pos").show(10, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
