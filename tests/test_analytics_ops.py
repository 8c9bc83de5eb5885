"""Round-3 analytics operators: semantic dedup, k-NN graph, hashed
quality classifier, int8 quantization audit, length buckets, dataset
card, z-score outliers — invariants, python-model twins, plan shapes."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import Row, functions as F

from healthcare_aws_data_engineering_spark.operators.quality import (
    INT8_LEVELS,
    WEIGHT_SHIFT,
    WEIGHT_SPAN,
    classify_quality,
    int8_audit,
)
from healthcare_aws_data_engineering_spark.operators.semdedup import (
    knn_graph,
    semantic_dedup,
)
from healthcare_aws_data_engineering_spark.operators.similarity import (
    quantize_py,
    rademacher_planes,
)

from conftest import assert_knn_vectors_shuffle_once, n_exchanges, plan_string

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------- quality classifier


def _py_logit(text: str) -> tuple[int, int]:
    from healthcare_aws_data_engineering_spark.operators.quality import (
        CLS_MAX_TOKENS,
    )

    ws = text.split(" ")[:CLS_MAX_TOKENS]
    n = len(ws) - 1
    if n <= 0:
        return max(n, 0), 0
    total = 0
    for i in range(n):
        bg = ws[i] + " " + ws[i + 1]
        h = int(hashlib.md5(bg.encode()).hexdigest()[:8], 16)
        total += (h % WEIGHT_SPAN) - WEIGHT_SHIFT
    from decimal import ROUND_HALF_UP, Decimal

    logit = int(
        Decimal(repr(1e6 * (total / (float(WEIGHT_SHIFT) * n)))).quantize(
            Decimal(1), ROUND_HALF_UP
        )
    )
    return n, logit


def test_classifier_matches_python_model(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "alpha beta gamma",
        "one two",
        "single",
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["logit_e6"], r["label"])
        for r in classify_quality(df).collect()
    }
    for i, t in enumerate(texts):
        n, logit = _py_logit(t)
        assert got[i][0] == n, (t, got[i])
        assert got[i][1] == logit, (t, got[i])
        assert got[i][2] == (1 if logit > 0 else 0)


def test_classifier_zero_shuffle(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert n_exchanges(plan_string(classify_quality(docs))) == 0


# ------------------------------------------------------------- int8 audit


def test_int8_error_bound(spark):
    """|255·(q−mn) − code·span| ≤ span/2 by the rounding definition."""
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = int8_audit(embs).collect()
    assert len(rows) == embs.count()
    for r in rows:
        span = r["max_u6"] - r["min_u6"]
        assert 0 <= r["max_err_255"] <= span / 2 + 1, dict(r.asDict())
        assert r["sum_err_255"] >= r["max_err_255"]


def test_int8_constant_vector_exact(spark):
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[0.25] * 8), Row(vec_id=2, embedding=[-0.1] * 8)]
    )
    for r in int8_audit(df).collect():
        assert r["max_err_255"] == 0 and r["sum_err_255"] == 0
        assert r["min_u6"] == r["max_u6"]


def test_int8_zero_shuffle(spark):
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert n_exchanges(plan_string(int8_audit(embs))) == 0


# --------------------------------------------------------- semantic dedup


def _dup_corpus(spark):
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(50)
    clones = embs.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    return embs.unionByName(clones)


def test_semantic_dedup_drops_exact_clones(spark):
    from healthcare_aws_data_engineering_spark.operators.similarity import (
        sample_centroids,
    )

    corpus = _dup_corpus(spark)
    cents = sample_centroids(corpus, 4)
    out = semantic_dedup(corpus, cents, threshold=0.9).collect()
    assert len(out) == corpus.count()
    by_id = {r["vec_id"]: r for r in out}
    for vid in range(5):
        clone = by_id[vid + 10_000]
        # identical vector ⇒ same cluster, cosine 1 ⇒ clone removed
        assert clone["keep"] == 0
        assert clone["kept_by"] == vid
        assert by_id[vid]["cluster"] == clone["cluster"]
    for r in out:
        assert r["keep"] in (0, 1)
        assert (r["kept_by"] == -1) == (r["keep"] == 1)
        if r["keep"] == 0:
            assert r["kept_by"] < r["vec_id"]


# -------------------------------------------------------------- knn graph


def test_knn_graph_clone_is_rank1(spark):
    corpus = _dup_corpus(spark)
    planes = rademacher_planes(16, 64)
    g = knn_graph(corpus, k=3, plane_matrix=planes, bands=4).collect()
    top = {
        r["vec_id"]: r for r in g if r["rank"] == 1
    }
    for vid in range(5):
        # clone pairs share every band → each is the other's top neighbor
        assert top[vid]["neighbor_id"] == vid + 10_000
        assert top[vid]["cosine"] == pytest.approx(1.0, abs=1e-9)
    for r in g:
        assert 1 <= r["rank"] <= 3
        assert r["neighbor_id"] != r["vec_id"]
        assert r["cosine"] <= 1.0 + 1e-9


def test_knn_graph_pair_stage_carries_no_vectors(spark):
    """The pair side of the plan must shuffle only ids and the cosine —
    the quantized array crosses exactly one exchange, the bucket one
    that feeds the per-bucket scoring pass."""
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    planes = rademacher_planes(16, 64)
    plan = plan_string(
        knn_graph(embs, k=3, plane_matrix=planes, bands=4), "formatted"
    )
    assert_knn_vectors_shuffle_once(plan)


# --------------------------------------------------- aggregate-style checks


def test_length_buckets_bounds(spark):
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        q_length_buckets,
    )

    rows = q_length_buckets(spark, SF_DIR).collect()
    docs_total = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == docs_total
    for r in rows:
        assert r["bucket_len"] % 64 == 0 and r["bucket_len"] > 0
        assert r["sum_tokens"] <= r["padded_tokens"]
        assert 0 <= r["waste_e6"] < 1_000_000


def test_dataset_card_consistency(spark):
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        q_dataset_card,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = q_dataset_card(spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    for r in rows:
        assert r["top_lang"] in langs
        assert 0 <= r["n_exact_dups"] < r["n_docs"]
        assert r["n_langs"] >= 1


def test_zscore_outliers_python_twin(spark):
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        Z_THRESHOLD_E3,
        q_zscore_outliers,
    )

    events = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    by_type: dict[str, list[tuple[int, int]]] = {}
    for e in events:
        by_type.setdefault(e["event_type"], []).append(
            (e["event_id"], quantize_py(e["value"]))
        )
    expected = {}
    for et, vals in by_type.items():
        n = len(vals)
        s = sum(v for _, v in vals)
        s2 = sum(v * v for _, v in vals)
        mean = s / n
        var = s2 / n - mean * mean
        std = math.sqrt(var)
        if std <= 0:
            continue
        for eid, v in vals:
            z = round(1000.0 * ((v - mean) / std))
            if abs(z) >= Z_THRESHOLD_E3:
                expected[eid] = (et, v, int(z))
    got = {
        r["event_id"]: (r["event_type"], r["value_u6"], r["z_e3"])
        for r in q_zscore_outliers(spark, SF_DIR).collect()
    }
    assert set(got) == set(expected)
    for eid, exp in expected.items():
        assert got[eid][0] == exp[0]
        assert got[eid][1] == exp[1]
        assert abs(got[eid][2] - exp[2]) <= 1  # float-order slack vs python


def test_curriculum_monotone_and_covering(spark):
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        CURRICULUM_STAGES,
        q_curriculum_stages,
    )

    rows = q_curriculum_stages(spark, SF_DIR).collect()
    docs_total = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == docs_total
    by_logit = sorted(rows, key=lambda r: (r["logit_e6"], r["doc_id"]))
    stages = [r["stage"] for r in by_logit]
    assert all(1 <= s <= CURRICULUM_STAGES for s in stages)
    # stage is a monotone function of the logit
    assert stages == sorted(stages)
    # every stage is populated (histogram thresholds actually split)
    assert set(stages) == set(range(1, CURRICULUM_STAGES + 1))


def test_eval_draw_fixed_k_deterministic(spark):
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        EVAL_DRAW_K,
        q_eval_draw,
    )

    r1 = sorted((r["source"], r["draw_rank"], r["doc_id"])
                for r in q_eval_draw(spark, SF_DIR).collect())
    r2 = sorted((r["source"], r["draw_rank"], r["doc_id"])
                for r in q_eval_draw(spark, SF_DIR).collect())
    assert r1 == r2  # no RNG state anywhere
    from collections import Counter

    per_source = Counter(s for s, _, _ in r1)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    source_sizes = {
        r["source"]: r["n"] for r in
        docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for s, n in source_sizes.items():
        assert per_source[s] == min(EVAL_DRAW_K, n)


def test_drift_monitor_bounds_and_totals(spark):
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        q_drift_monitor,
    )

    rows = q_drift_monitor(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # L1 between two probability distributions is in [0, 2]
        assert 0 <= r["l1_e6"] <= 2_000_000, dict(r.asDict())
        assert r["n_day"] >= 1
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    per_type = {
        r["event_type"]: r["n"] for r in
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got_type_totals: dict[str, int] = {}
    for r in rows:
        got_type_totals[r["event_type"]] = (
            got_type_totals.get(r["event_type"], 0) + r["n_day"]
        )
    assert got_type_totals == per_type


def test_scd2_intervals_partition_time(spark):
    from healthcare_aws_data_engineering_spark.operators.scd import SCD_OPEN_MS
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        SCD_T0_MS,
        SCD_T1_MS,
        q_scd2_history,
    )

    rows = q_scd2_history(spark, SF_DIR).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["c_custkey"], []).append(r)
    n_cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    assert len(by_key) == n_cust
    n_updated = 0
    for key, vs in by_key.items():
        vs.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in vs) == 1
        assert vs[-1]["valid_to"] == SCD_OPEN_MS
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"]  # seamless history
        if len(vs) == 2:
            n_updated += 1
            assert vs[0]["valid_from"] == SCD_T0_MS
            assert vs[1]["valid_from"] == SCD_T1_MS
            assert vs[1]["c_mktsegment"].endswith("_V2")
        else:
            assert len(vs) == 1
    assert 0 < n_updated < n_cust  # the md5 subset is real and proper


def test_k_anonymity_flags_exactly_small_groups(spark):
    from healthcare_aws_data_engineering_spark.operators.scd import K_ANON
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        q_k_anonymity,
    )

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    true_counts = {
        (r["c_nationkey"], r["c_mktsegment"]): r["n"]
        for r in cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        (r["c_nationkey"], r["c_mktsegment"]): r["group_n"]
        for r in q_k_anonymity(spark, SF_DIR).collect()
    }
    expected = {k: n for k, n in true_counts.items() if n < K_ANON}
    assert got == expected


def test_shipping_priority_topk_shape(spark):
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        SHIP_CUTOFF,
        SHIP_TOP_K,
        q_shipping_priority,
    )

    rows = q_shipping_priority(spark, SF_DIR).collect()
    assert 0 < len(rows) <= SHIP_TOP_K
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    import datetime

    cutoff = datetime.datetime.fromisoformat(SHIP_CUTOFF)
    for r in rows:
        assert r["o_orderdate"] < cutoff
        assert r["revenue"] > 0


def test_rfm_segments_consistency(spark):
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        q_rfm_segments,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    rows = q_rfm_segments(spark, SF_DIR).collect()
    assert len(rows) == orders.select("o_custkey").distinct().count()
    for r in rows:
        for s in (r["r_score"], r["f_score"], r["m_score"]):
            assert s in (1, 2, 3)
        assert r["segment"] == 100 * r["r_score"] + 10 * r["f_score"] + r["m_score"]
        assert r["frequency"] >= 1 and r["monetary"] > 0


def test_cohort_retention_python_twin(spark):
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        q_cohort_retention,
    )
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type", F.expr("unix_millis(ts)").alias("ms")
    ).collect()
    wk = {}
    rows_by_user: dict[int, list] = {}
    for e in events:
        w = (e["ms"] // 86400000) // 7
        rows_by_user.setdefault(e["user_id"], []).append((e["event_type"], w))
    expected: dict[tuple, set] = {}
    for uid, evs in rows_by_user.items():
        c = min(w for _, w in evs)
        for et, w in evs:
            expected.setdefault((c, w - c, et), set()).add(uid)
    got = {
        (r["cohort_wk"], r["age_weeks"], r["event_type"]): r["n_active_users"]
        for r in q_cohort_retention(spark, SF_DIR).collect()
    }
    assert got == {k: len(v) for k, v in expected.items()}


def test_fuzzy_join_dist1_exact_recall(spark):
    from healthcare_aws_data_engineering_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame(
        [Row(id=1, key="alpha"), Row(id=2, key="beta"), Row(id=3, key="gamma")]
    )
    right = spark.createDataFrame(
        [
            Row(id=10, key="alpha"),   # exact
            Row(id=11, key="alpa"),    # deletion
            Row(id=12, key="betta"),   # insertion
            Row(id=13, key="gamna"),   # substitution
            Row(id=14, key="gmmaa"),   # dist 2 — must NOT match
        ]
    )
    pairs = {
        (r["left_id"], r["right_id"], r["dist"])
        for r in fuzzy_join(left, right).collect()
    }
    assert (1, 10, 0) in pairs
    assert (1, 11, 1) in pairs
    assert (2, 12, 1) in pairs
    assert (3, 13, 1) in pairs
    assert not any(r == 14 for (_, r, _) in pairs)


def test_fuzzy_match_recovers_corrupted_names(spark):
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        q_fuzzy_match,
    )

    rows = q_fuzzy_match(spark, SF_DIR).collect()
    assert rows
    # every dirty customer's own original must be among its matches at
    # dist exactly 1 (pure single-deletion corruption)
    self_pairs = {
        (r["left_id"], r["right_id"]): r["dist"]
        for r in rows
        if r["left_id"] == r["right_id"]
    }
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        _dirty_customers,
    )

    n_dirty = _dirty_customers(spark, SF_DIR).count()
    assert len(self_pairs) == n_dirty
    assert all(d == 1 for d in self_pairs.values())


def test_debounce_transitive_chain(spark):
    """Events 0,40,80,120 min apart pairwise ≤ 60-min gap must collapse
    to ONE row even though the chain spans > gap — the lag-only filter
    would wrongly keep a middle row... actually keeps all-after-gap;
    transitivity is the point."""
    import datetime

    from pyspark.sql import Row as R

    from healthcare_aws_data_engineering_spark.operators.fuzzy import debounce

    t0 = datetime.datetime(2024, 1, 1)
    mins = [0, 40, 80, 120, 500, 530]
    events = spark.createDataFrame(
        [
            R(event_id=i, user_id=1, event_type="x",
              ts=t0 + datetime.timedelta(minutes=m))
            for i, m in enumerate(mins)
        ]
    )
    kept = debounce(
        events, gap_ms=60 * 60 * 1000, key_cols=["user_id"]
    ).collect()
    # chain 0-120 collapses to event 0 (burst 1); 500,530 to event 4
    assert {(r["event_id"], r["burst_seq"]) for r in kept} == {(0, 1), (4, 2)}


def test_semantic_dedup_two_level_assign_catches_clones(spark):
    """r14 linear-build hatch wired through SemDeDup: an exact clone is
    bit-identical input to the (deterministic) two-level argmin, so it
    lands in its original's cell and is dropped exactly like the flat
    path; corpus coverage and keep/kept_by semantics are unchanged."""
    from healthcare_aws_data_engineering_spark.operators.similarity import (
        sample_centroids,
    )

    corpus = _dup_corpus(spark)
    cents = sample_centroids(corpus, 9)
    flat = semantic_dedup(corpus, cents, threshold=0.9).collect()
    two = semantic_dedup(
        corpus, cents, threshold=0.9, assign="two_level"
    ).collect()
    assert len(two) == len(flat) == corpus.count()
    by_id = {r["vec_id"]: r for r in two}
    for vid in range(5):
        clone = by_id[vid + 10_000]
        assert clone["keep"] == 0
        assert clone["kept_by"] == vid
