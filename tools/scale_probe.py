"""Empirical scaling probe: replicate the sf0.1 corpus ×M (disjoint id
spaces) and time the heavy operators at each multiplier. The
``ml_risk_scores`` row replicates the ``customer`` table the same way,
with ``events`` re-keyed to match, and scores it through
``predict_diseases``.

The point is evidence for the 100 TB design claims: bucketed/banded
operators must scale near-linearly in corpus size (cost ∝ rows, bucket
fan-out bounded by caps), with NO quadratic blowup. Run:

    python tools/scale_probe.py [multipliers ...] [ops ...]

Multipliers default to 1 2 4; naming operators (for example
``ml_risk_scores``) runs only those rows.

Prints one JSON line per (operator, M) with wall seconds and output
rows; a final summary line reports the cost ratio per doubling (≈2 ⇒
linear, ≈4 ⇒ quadratic). Results are recorded in SCALING.md.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import DataFrame, functions as F

from healthcare_aws_data_engineering_spark.ml.features import feature_table
from healthcare_aws_data_engineering_spark.ml.inference import predict_diseases
from healthcare_aws_data_engineering_spark.operators import similarity as S
from healthcare_aws_data_engineering_spark.operators.dedup import (
    minhash_lsh_pairs,
)
from healthcare_aws_data_engineering_spark.operators.graph import pagerank
from healthcare_aws_data_engineering_spark.operators.quality import (
    classify_quality,
)
from healthcare_aws_data_engineering_spark.operators.semdedup import (
    knn_graph,
    semantic_dedup,
)
from healthcare_aws_data_engineering_spark.session import get_spark
from healthcare_aws_data_engineering_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.1"
ID_STRIDE = 100_000_000


def replicate(df: DataFrame, id_col: str, m: int) -> DataFrame:
    """×m union with disjoint id spaces (replica i shifts ids by
    i·ID_STRIDE). Text/vector payloads repeat — fine for cost probes;
    ids never collide, so pair semantics stay sane."""
    out = df
    for i in range(1, m):
        out = out.unionByName(
            df.withColumn(id_col, F.col(id_col) + i * ID_STRIDE)
        )
    return out


def timed(fn):
    t0 = time.perf_counter()
    n = fn().count()
    return round(time.perf_counter() - t0, 2), n


def main() -> None:
    args = sys.argv[1:]
    ms = [int(x) for x in args if x.isdigit()] or [1, 2, 4]
    ops = {x for x in args if not x.isdigit()}
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    embs0 = load_table(spark, SF_DIR, "embeddings")
    docs0 = load_table(spark, SF_DIR, "documents")
    customer0 = load_table(spark, SF_DIR, "customer")
    events0 = load_table(spark, SF_DIR, "events")
    planes = S.rademacher_planes(16, 64)
    results: dict[str, dict[int, float]] = {}
    for m in ms:
        embs = replicate(embs0, "vec_id", m).persist()
        docs = replicate(docs0, "doc_id", m).persist()
        customer = replicate(customer0, "c_custkey", m).persist()
        events = replicate(events0, "user_id", m).persist()
        embs.count(), docs.count(), customer.count(), events.count()
        cents = S.sample_centroids(embs, 16)

        def run(name, fn):
            if ops and name not in ops:
                return
            sec, rows = timed(fn)
            results.setdefault(name, {})[m] = sec
            print(json.dumps({"op": name, "m": m, "sec": sec, "rows": rows}),
                  flush=True)

        run("quality_classifier", lambda: classify_quality(docs))
        run("minhash_lsh_pairs", lambda: minhash_lsh_pairs(docs))
        run(
            "semantic_dedup",
            lambda: semantic_dedup(embs, cents, threshold=0.30),
        )
        run(
            "knn_graph_w4",
            lambda: knn_graph(embs, k=3, plane_matrix=planes, bands=4),
        )
        # scaled signature width: keep expected bucket size bounded as the
        # corpus grows (width ≈ log2(n / target_bucket)); the fixed-width
        # leg above saturates its bucket cap instead (flat cost, recall
        # collapses to 0) — the production knob is WIDTH, not the cap
        run(
            "knn_graph_w8",
            lambda: knn_graph(embs, k=3, plane_matrix=planes, bands=2),
        )
        # derived width (plane_matrix=None → width_for(n, target)): the
        # production default — expected bucket size stays ≈ target as the
        # corpus grows, so output must stay non-empty and near-linear in
        # M where the pinned-width legs above go to 0 rows
        run(
            "knn_graph_derived",
            lambda: knn_graph(embs, k=3, bands=4, target_bucket=200),
        )
        run(
            "embedding_near_dup_w2",
            lambda: S.embedding_near_dup(
                embs, threshold=0.35, bands=8, plane_matrix=planes,
            ),
        )
        run(
            "embedding_near_dup_w8",
            lambda: S.embedding_near_dup(
                embs, threshold=0.35, bands=2, plane_matrix=planes,
            ),
        )
        run(
            "embedding_near_dup_derived",
            lambda: S.embedding_near_dup(embs, threshold=0.35, bands=8),
        )
        if not ops or "pagerank_3it" in ops:
            edges = (
                knn_graph(embs, k=3, plane_matrix=planes, bands=2)
                .select(F.col("vec_id").alias("src"),
                        F.col("neighbor_id").alias("dst"))
                .persist()
            )
            edges.count()  # time PageRank alone, not the k-NN edge build
            run("pagerank_3it", lambda: pagerank(embs, edges, n_iter=3))
            edges.unpersist()
        # the filter reads a probability, so the count runs the scoring
        # UDF (a bare count would prune it)
        run(
            "ml_risk_scores",
            lambda: predict_diseases(feature_table(events, customer)).filter(
                "prob_cvd >= 0"
            ),
        )
        for df in (embs, docs, customer, events):
            df.unpersist()
    # per-doubling cost ratios
    summary = {}
    for op, by_m in results.items():
        ratios = []
        for a, b in zip(ms, ms[1:]):
            if a in by_m and b in by_m and by_m[a] > 0:
                ratios.append(round(by_m[b] / by_m[a], 2))
        summary[op] = {"sec_by_m": by_m, "ratio_per_step": ratios}
    print(json.dumps({"summary": summary}, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()
