"""Semantics + plan-shape tests for the pipeline extension operators
(sessionize / dist_summary / stratified_sample / vocab_topk)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from conftest import n_exchanges as _n_exchanges, plan_string as _plan
from healthcare_aws_data_engineering_spark.plans import pipeline_queries as pq

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------ sessionize --
def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_sessionize_gap_boundaries(spark):
    # user 1: events at 0, 10, 20 min (one session), then 60 min (gap 40 > 30
    # → new session). user 2: single event.
    rows = [
        (1, _ts(0), 100), (1, _ts(10), 101), (1, _ts(20), 102), (1, dt.datetime(2024, 1, 1, 1, 0), 103),
        (2, _ts(5), 200),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {
        (r.user_id, r.session_seq): r
        for r in pq.sessionize(ev).collect()
    }
    assert len(out) == 3
    s1 = out[(1, 1)]
    assert s1.n_events == 3 and s1.duration_ms == 20 * 60 * 1000
    s2 = out[(1, 2)]
    assert s2.n_events == 1 and s2.duration_ms == 0
    assert s2.start_ms == int(dt.datetime(2024, 1, 1, 1, 0).timestamp() * 1000)
    assert out[(2, 1)].n_events == 1


def test_sessionize_gap_exactly_at_threshold_stays_in_session(spark):
    # gap == gap_ms is NOT a new session (strict >).
    rows = [(1, _ts(0), 1), (1, _ts(30), 2)]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = pq.sessionize(ev).collect()
    assert len(out) == 1 and out[0].n_events == 2


def test_sessionize_single_shuffle(spark):
    """lag/cumsum windows and the session agg all hash by user_id — the
    exchange must be reused (session_seq grouping is satisfied by the
    user_id partitioning)."""
    plan = _plan(pq.q_sessionize(spark, SF))
    assert _n_exchanges(plan) == 1, plan


# ---------------------------------------------------------- dist_summary --
def test_dist_summary_discrete_quantiles(spark):
    ev = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 11)] + [("b", 7.0)],
        "event_type string, value double",
    )
    out = {r.event_type: r for r in pq.dist_summary(ev).collect()}
    a = out["a"]
    # n=10: idx50=(500+99)//100=5 → 5; idx90=(999)//100=9 → 9; idx99=10 → 10
    assert a.n_rows == 10
    assert a.p50_u6 == 5_000_000 and a.p90_u6 == 9_000_000 and a.p99_u6 == 10_000_000
    assert a.min_val_u6 == 1_000_000 and a.max_val_u6 == 10_000_000
    b = out["b"]
    assert b.n_rows == 1 and b.p50_u6 == 7_000_000 == b.p99_u6


def test_dist_summary_single_shuffle(spark):
    plan = _plan(pq.q_dist_summary(spark, SF))
    assert _n_exchanges(plan) == 1, plan


# ----------------------------------------------------- stratified_sample --
def test_stratified_sample_deterministic_and_bounded(spark):
    a = pq.q_stratified_sample(spark, SF).collect()
    b = pq.q_stratified_sample(spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        rate = pq.STRATA_RATES.get(r.lang, pq.STRATA_DEFAULT)
        assert 0 <= r.bucket < rate


def test_stratified_sample_no_shuffle(spark):
    plan = _plan(pq.q_stratified_sample(spark, SF))
    assert _n_exchanges(plan) == 0, plan
    assert "Window" not in plan and "Sort" not in plan


# ---------------------------------------------------------- split_assign --
def test_split_assign_group_purity_and_ratios(spark):
    out = pq.q_split_assign(spark, SF).collect()
    # group-aware: every source maps to exactly one split
    by_source = {}
    for r in out:
        by_source.setdefault(r.source, set()).add(r.split)
    assert all(len(s) == 1 for s in by_source.values())
    # bucket ranges encode the split
    for r in out:
        if r.bucket < pq.SPLIT_TRAIN_PCT:
            assert r.split == "train"
        elif r.bucket < pq.SPLIT_TRAIN_PCT + pq.SPLIT_VAL_PCT:
            assert r.split == "val"
        else:
            assert r.split == "test"
    assert {r.split for r in out} >= {"train"}  # 80% mass must appear


def test_split_assign_no_shuffle(spark):
    plan = _plan(pq.q_split_assign(spark, SF))
    assert _n_exchanges(plan) == 0, plan
    assert "Window" not in plan and "Sort" not in plan


# ------------------------------------------------------------ vocab_topk --
def test_vocab_topk_doc_frequency_and_ties(spark):
    docs = spark.createDataFrame(
        [
            (1, "x y z"),          # shingle "x y z"
            (2, "x y z"),          # same → doc_freq 2
            (3, "a b c"),
            (4, "short doc"),      # <3 words → whole doc as one shingle
        ],
        "doc_id long, text string",
    )
    out = pq.vocab_topk(docs, k=2).collect()
    assert [(r.shingle, r.doc_freq) for r in out] == [("x y z", 2), ("a b c", 1)]


def test_vocab_topk_uses_takeordered(spark):
    plan = _plan(pq.q_vocab_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert _n_exchanges(plan) == 1, plan


# ------------------------------------------------------------ range_join --
def test_range_join_semantics(spark):
    from healthcare_aws_data_engineering_spark.operators.intervals import range_join

    pts = spark.createDataFrame(
        [(1, 0.0), (2, 5.0), (3, 9.9), (4, -3.0), (5, 100.0)],
        "pid long, v double",
    )
    iv = spark.createDataFrame(
        [(10, 0.0, 5.0), (11, 4.9, 12.0), (12, -10.0, -1.0)],
        "iid long, lo double, hi double",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(pts, iv, "v", "lo", "hi", bin_width=3.0).collect()
    )
    # inclusive both ends; straddling bins found exactly once; negatives ok
    assert got == [(1, 10), (2, 10), (2, 11), (3, 11), (4, 12)]


def test_range_join_is_equi_join_not_nested_loop(spark):
    plan = _plan(pq.q_range_join(spark, SF))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "Join" in plan  # a real equi-join on the bin key


# ----------------------------------------------------------- time_rollup --
def test_time_rollup_levels(spark):
    ev = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), 1.0), ("a", dt.datetime(2024, 1, 2), 2.0),
         ("a", dt.datetime(2024, 2, 1), 4.0), ("b", dt.datetime(2024, 1, 1), 8.0)],
        "event_type string, ts timestamp, value double",
    )
    # same rollup as the query function, built inline over the fixture
    base = ev.select(
        "event_type",
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
        F.col("ts").cast("date").alias("day"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    out = base.rollup("event_type", "month", "day").agg(
        F.grouping("month").cast("int").alias("g_month"),
        F.grouping("day").cast("int").alias("g_day"),
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("s"),
    ).collect()
    total = [r for r in out if r.event_type is None]
    assert len(total) == 1 and total[0].n == 4 and total[0].s == 15.0
    a_month_jan = [
        r for r in out
        if r.event_type == "a" and r.g_month == 0 and r.g_day == 1
        and str(r.month) == "2024-01-01"
    ]
    assert len(a_month_jan) == 1 and a_month_jan[0].n == 2 and a_month_jan[0].s == 3.0


def test_time_rollup_single_expand_single_shuffle(spark):
    plan = _plan(pq.q_time_rollup(spark, SF))
    assert "Expand" in plan, plan
    assert _n_exchanges(plan) == 1, plan


# -------------------------------------------------------- pack_sequences --
def test_pack_sequences_manifest(spark):
    # budget=10. stream "s": doc1=3 tokens (off 0-2), doc2=8 (off 3-10 →
    # chunks 0 and 1), doc3=1 (off 11 → chunk 1). total=12 → chunk1 fill 2.
    docs = spark.createDataFrame(
        [
            ("s", 1, "a b c"),
            ("s", 2, "t t t t t t t t"),
            ("s", 3, "x"),
            ("s", 4, "   "),      # zero tokens → occupies no space
            ("u", 9, "y z"),      # separate stream
        ],
        "source string, doc_id long, text string",
    )
    out = {
        (r.source, r.chunk_id): r
        for r in pq.pack_sequences(docs, budget=10).collect()
    }
    assert set(out) == {("s", 0), ("s", 1), ("u", 0)}
    c0 = out[("s", 0)]
    assert (c0.n_docs, c0.first_doc, c0.last_doc, c0.n_tokens) == (2, 1, 2, 10)
    c1 = out[("s", 1)]
    assert (c1.n_docs, c1.first_doc, c1.last_doc, c1.n_tokens) == (2, 2, 3, 2)
    u0 = out[("u", 0)]
    assert (u0.n_docs, u0.n_tokens) == (1, 2)


def test_pack_sequences_conservation(spark):
    """Σ chunk fills == Σ doc token counts (nothing lost or double-counted
    at chunk boundaries), on real data."""
    from healthcare_aws_data_engineering_spark.operators.text import token_count
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    total_tokens = docs.select(
        F.sum(token_count(F.col("text")).cast("long")).alias("t")
    ).collect()[0].t
    manifest = pq.pack_sequences(docs)
    total_fill = manifest.select(F.sum("n_tokens").alias("t")).collect()[0].t
    assert total_fill == total_tokens


def test_pack_sequences_single_shuffle(spark):
    plan = _plan(pq.q_pack_sequences(spark, SF))
    assert _n_exchanges(plan) == 1, plan


# ------------------------------------------------------------- asof_join --
def test_asof_join_semantics(spark):
    from healthcare_aws_data_engineering_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(10, 1, _ts(10)), (11, 1, _ts(30)), (12, 1, _ts(5)), (13, 2, _ts(10))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 1, _ts(10), 1.0),   # equal ts → visible (inclusive)
            (101, 1, _ts(10), 2.0),   # same (key, ts): higher id wins
            (102, 1, _ts(20), 3.0),
            (103, 3, _ts(0), 9.0),    # other key, never matched
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = {
        r.event_id: r
        for r in as_of_join(
            left, right, key="user_id", ts="ts",
            payload_cols=["value"], right_id="event_id",
        ).collect()
    }
    assert out[10].asof_value == 2.0           # equal-ts inclusive + id argmax
    assert out[10].asof_ts == _ts(10)
    assert out[11].asof_value == 3.0           # latest preceding (t=20)
    assert out[12].asof_value is None          # nothing at or before t=5
    assert out[13].asof_value is None          # no right rows for key 2


def test_asof_join_null_payload_not_skipped(spark):
    """A NULL payload on the MATCHED right row must yield NULL, not a
    stale value from an older row (the matched row travels as one
    struct; DuckDB ASOF parity)."""
    from healthcare_aws_data_engineering_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(10, 1, _ts(30))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, 1, _ts(10), 1.0), (101, 1, _ts(20), None)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    row = as_of_join(
        left, right, key="user_id", ts="ts",
        payload_cols=["value"], right_id="event_id",
    ).collect()[0]
    assert row.asof_ts == _ts(20) and row.asof_value is None


def test_asof_join_null_keys_never_match(spark):
    """NULL keys match nothing (equality semantics): NULL-key right rows
    are dropped; NULL-key left rows come back with NULL payload."""
    from healthcare_aws_data_engineering_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(10, None, _ts(30))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, None, _ts(10), 1.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    row = as_of_join(
        left, right, key="user_id", ts="ts",
        payload_cols=["value"], right_id="event_id",
    ).collect()[0]
    assert row.asof_value is None and row.asof_ts is None


def test_sessionize_accepts_renamed_columns(spark):
    rows = [(1, _ts(0), 100), (1, _ts(50), 101)]
    ev = spark.createDataFrame(rows, "uid long, tstamp timestamp, eid long")
    out = pq.sessionize(ev, user_col="uid", ts_col="tstamp", id_col="eid").collect()
    assert len(out) == 2


def test_dist_summary_ignores_nulls(spark):
    ev = spark.createDataFrame(
        [("a", None), ("a", 10.0), ("a", 20.0)],
        "event_type string, value double",
    )
    row = pq.dist_summary(ev).collect()[0]
    assert row.n_rows == 2 and row.p50_u6 == 10_000_000 and row.max_val_u6 == 20_000_000


def test_asof_join_single_shuffle_no_inequality_join(spark):
    """The union+window formulation must compile to ONE keyed shuffle —
    no SortMergeJoin/BroadcastNestedLoopJoin from a range predicate."""
    plan = _plan(pq.q_asof_join(spark, SF))
    assert _n_exchanges(plan) == 1, plan
    assert "NestedLoop" not in plan and "SortMergeJoin" not in plan, plan


# ------------------------------------------------------- distinct_sketch --
def test_distinct_sketch_error_bound_and_exact(spark):
    """k=32 min-hash estimate should land within ~3/sqrt(k) (~53%) of the
    true distinct count — loose bound, tight in practice; also check the
    exact column rides along when asked."""
    rows = [(f"g{ i % 2 }", f"v{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "g string, v string")
    from healthcare_aws_data_engineering_spark.operators.sketch import distinct_sketch

    out = {r.g: r for r in distinct_sketch(df, "g", "v", include_exact=True).collect()}
    assert set(out) == {"g0", "g1"}
    for r in out.values():
        assert r.exact_distinct == 500
        assert abs(r.est_distinct - r.exact_distinct) / r.exact_distinct < 0.53


def test_distinct_sketch_single_shuffle(spark):
    """The sketch must compile to one hash-agg shuffle of k fixed-width
    mins — no Expand (the exact-distinct two-phase shape)."""
    from healthcare_aws_data_engineering_spark.operators.sketch import distinct_sketch

    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    plan = _plan(distinct_sketch(ev, "event_type", "user_id"))
    assert _n_exchanges(plan) == 1, plan
    assert "Expand" not in plan, plan


def test_distinct_sketch_null_values_ignored(spark):
    from healthcare_aws_data_engineering_spark.operators.sketch import distinct_sketch

    df = spark.createDataFrame(
        [("a", None), ("a", "x"), ("a", "y")], "g string, v string"
    )
    row = distinct_sketch(df, "g", "v", include_exact=True).collect()[0]
    assert row.exact_distinct == 2
    assert row.est_distinct > 0


# ------------------------------------------------------------ rolling_avg --
def test_rolling_avg_range_frame_boundaries(spark):
    """RANGE frame keeps rows by TIME distance: events 8 days apart must
    not share a window even though they are adjacent rows."""
    rows = [
        (1, 1, dt.datetime(2024, 1, 1), 10.0),
        (2, 1, dt.datetime(2024, 1, 5), 20.0),   # within 7d of #1
        (3, 1, dt.datetime(2024, 1, 20), 40.0),  # alone (15d later)
        (4, 2, dt.datetime(2024, 1, 1), 99.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    ).withColumn("event_type", F.lit("purchase"))
    import healthcare_aws_data_engineering_spark.plans.pipeline_queries as pq2
    base = ev.select(
        "event_id", "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    from pyspark.sql import Window as W
    w = (
        W.partitionBy("user_id").orderBy("ts_ms")
        .rangeBetween(-pq2.ROLLING_WINDOW_MS, 0)
    )
    out = {
        r.event_id: r
        for r in base.select(
            "event_id",
            F.count(F.lit(1)).over(w).alias("n_window"),
            (F.sum("v").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias("avg_7d"),
        ).collect()
    }
    assert out[1].n_window == 1 and out[1].avg_7d == 10.0
    assert out[2].n_window == 2 and out[2].avg_7d == 15.0
    assert out[3].n_window == 1 and out[3].avg_7d == 40.0   # 15d gap → alone
    assert out[4].n_window == 1 and out[4].avg_7d == 99.0   # other user isolated


def test_rolling_avg_single_shuffle(spark):
    plan = _plan(pq.q_rolling_avg(spark, SF))
    assert _n_exchanges(plan) == 1, plan


# ----------------------------------------------------------- unpivot_wide --
def test_unpivot_round_trip_identity(spark):
    """melt(pivot(x)) must recover exactly the per-(user, type) maxima of
    the input — no rows invented, none lost (beyond the null cells)."""
    rows = [
        (1, "click", 1.0), (1, "click", 3.0), (1, "view", 2.0),
        (2, "purchase", 5.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, value double")
    import healthcare_aws_data_engineering_spark.plans.pipeline_queries as pq2
    wide = ev.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("event_type") == t, F.col("value"))).alias(t)
            for t in pq2.UNPIVOT_TYPES
        ]
    )
    long = (
        wide.unpivot(["user_id"], pq2.UNPIVOT_TYPES, "metric", "value")
        .filter(F.col("value").isNotNull())
    )
    got = {(r.user_id, r.metric): r.value for r in long.collect()}
    assert got == {(1, "click"): 3.0, (1, "view"): 2.0, (2, "purchase"): 5.0}


def test_unpivot_single_shuffle(spark):
    """The pivot is the only aggregation; unpivot is an Expand projection
    — one exchange total."""
    plan = _plan(pq.q_unpivot_wide(spark, SF))
    assert _n_exchanges(plan) == 1, plan


# --------------------------------------------------------- hist_quantiles --
def test_hist_quantiles_within_one_bin_of_exact(spark):
    from healthcare_aws_data_engineering_spark.operators.sketch import (
        HIST_BINS,
        hist_quantiles,
    )

    rows = [("a", float(v)) for v in range(1, 101)] + [("b", 7.0)] * 5
    df = spark.createDataFrame(rows, "event_type string, value double")
    lo, hi = 0.0, 128.0
    width = (hi - lo) / HIST_BINS
    out = {r.event_type: r for r in
           hist_quantiles(df, "event_type", "value", lo, hi).collect()}
    import math
    a = out["a"]
    assert a.n_rows == 100
    for q, exact in ((50, 50.0), (90, 90.0), (99, 99.0)):
        est = float(a[f"p{q}"])
        assert exact <= est <= exact + 2 * width, (q, est, exact)
    b = out["b"]
    assert b.n_rows == 5
    # all values in one bin → every quantile reports that bin's edge
    assert float(b.p50) == float(b.p99)


def test_hist_quantiles_clamps_out_of_range(spark):
    from healthcare_aws_data_engineering_spark.operators.sketch import (
        hist_quantiles,
    )

    df = spark.createDataFrame(
        [("a", -5.0), ("a", 1e9)], "event_type string, value double"
    )
    out = hist_quantiles(df, "event_type", "value", 0.0, 64.0).collect()[0]
    # clamped to edge bins; estimates stay inside [lo, hi]
    assert 0.0 <= float(out.p50) <= 64.0 and 0.0 <= float(out.p99) <= 64.0


def test_hist_quantiles_single_pass_shuffles(spark):
    plan = _plan(pq.q_hist_quantiles(spark, SF))
    # (group, bin) agg + the group window/final agg: ≤2 exchanges, and
    # never a per-group global sort of raw values.
    assert _n_exchanges(plan) <= 2, plan


# ----------------------------------------------------------------- funnel --
def test_funnel_strict_ordering(spark):
    from healthcare_aws_data_engineering_spark.plans.pipeline_queries import funnel

    rows = [
        # user 1: full ordered funnel
        (1, "signup", _ts(0)), (1, "view", _ts(5)), (1, "purchase", _ts(9)),
        # user 2: purchase BEFORE view → chain stops at view
        (2, "signup", _ts(0)), (2, "purchase", _ts(1)), (2, "view", _ts(2)),
        # user 3: view only, never signed up → not in funnel at all
        (3, "view", _ts(4)),
        # user 4: simultaneous signup/view (strictly-after excludes ties)
        (4, "signup", _ts(7)), (4, "view", _ts(7)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r.user_id: r for r in funnel(ev).collect()}
    assert out[1].stage == 3
    assert out[1].t3_ms > out[1].t2_ms > out[1].t1_ms
    assert out[2].stage == 2 and out[2].t3_ms is None  # purchase pre-view ignored
    assert 3 not in out
    assert out[4].stage == 1  # tie is not strictly after


def test_funnel_takes_earliest_valid_step(spark):
    from healthcare_aws_data_engineering_spark.plans.pipeline_queries import funnel

    rows = [
        (1, "signup", _ts(0)),
        (1, "view", _ts(3)), (1, "view", _ts(8)),       # earliest valid view = 3
        (1, "purchase", _ts(2)),                          # before any view → invalid
        (1, "purchase", _ts(10)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    r = funnel(ev).collect()[0]
    assert r.t2_ms == int(_ts(3).timestamp() * 1000)
    assert r.t3_ms == int(_ts(10).timestamp() * 1000)
    assert r.stage == 3


def test_skew_audit_finds_hot_key(spark):
    """A fixture where one key holds half the rows: the audit must rank
    it first with ~500000 share_e6, a skew factor ≈ n_keys/2, and a salt
    recommendation that would actually level it; a uniform table must
    report skew_e6 == 1_000_000 (1.0x) for every key."""
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators.skew import skew_audit

    rows = [(0, i) for i in range(100)] + [
        (k, i) for k in range(1, 11) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "user_id long, x long")
    out = skew_audit(df, "user_id", top_k=3).collect()
    top = out[0]
    assert top.key == "0" and top.cnt == 100
    assert top.n_rows == 200 and top.n_keys == 11
    assert top.share_e6 == 500000
    assert top.skew_e6 == 5_500_000  # 100 / (200/11) = 5.5x
    assert top.salt_rec == 6
    assert [r.cnt for r in out] == [100, 10, 10]

    uni = spark.createDataFrame(
        [(k, i) for k in range(8) for i in range(25)], "user_id long, x long"
    )
    for r in skew_audit(uni, "user_id", top_k=8).collect():
        assert r.skew_e6 == 1_000_000 and r.salt_rec == 1


def test_salted_agg_remedy_matches_naive_at_audited_fanout(spark):
    """Audit→remedy closed loop (r5 verdict ask #7): on a fixture with a
    hot key holding ~90% of rows, salted_agg at the audit's recommended
    salt_rec must (a) produce results identical to the naive groupBy and
    (b) actually spread the hot key over >= salt_rec stage-1 reducer
    keys — the property that levels the straggler at 100 TB."""
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators.skew import (
        salted_agg,
        skew_audit,
    )

    rows = [(0, float(i % 7)) for i in range(2000)] + [
        (k, float(i)) for k in range(1, 21) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k long, v double")
    rec = skew_audit(df, "k", top_k=1).collect()[0]
    assert rec.key == "0" and rec.salt_rec >= 15  # 2000/(2200/21) ~ 19.1

    aggs = {
        "n": (F.count(F.lit(1)), F.sum("n")),
        "s": (F.sum(F.col("v").cast("decimal(18,6)")), F.sum("s")),
        "mx": (F.max("v"), F.max("mx")),
    }
    salted = {
        r.k: (r.n, float(r.s), r.mx)
        for r in salted_agg(df, ["k"], aggs, salt_buckets=rec.salt_rec).collect()
    }
    naive = {
        r.k: (r.n, float(r.s), r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,6)")).alias("s"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert salted == naive

    # the hot key's 2000 rows really occupy >= salt_rec distinct stage-1
    # reducer keys (same salt expression salted_agg stages)
    spread = (
        df.filter(F.col("k") == 0)
        .select(
            F.pmod(
                F.xxhash64(F.col("k"), F.monotonically_increasing_id()),
                F.lit(rec.salt_rec),
            ).alias("salt")
        )
        .distinct()
        .count()
    )
    assert spread >= rec.salt_rec  # all buckets hit at 2000 rows / ~19 buckets


def test_training_order_is_a_permutation_and_seed_sensitive(spark):
    """(shard, pos) must be a full deterministic permutation: every doc
    exactly once, pos dense 1..|shard| within each shard, and the order
    actually scrambles ids (not accidentally sorted by doc_id)."""
    from healthcare_aws_data_engineering_spark.plans.pipeline_queries import (
        N_ORDER_SHARDS,
        q_training_order,
    )

    rows = q_training_order(spark, "/root/testdata/sf0.001").collect()
    assert len({r.doc_id for r in rows}) == len(rows)
    by_shard = {}
    for r in rows:
        assert 0 <= r.shard < N_ORDER_SHARDS
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        assert sorted(r.pos for r in rs) == list(range(1, len(rs) + 1)), shard
        order = sorted(rs, key=lambda r: r.pos)
        ids = [r.doc_id for r in order]
        # the epoch order must not be the identity order within a shard
        if len(ids) > 3:
            assert ids != sorted(ids), shard
    # deterministic: second run identical
    again = q_training_order(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
