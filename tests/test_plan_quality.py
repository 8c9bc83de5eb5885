"""Physical-plan quality gates (SURVEY §4): these assert the *shape* of
the plans Catalyst produces for the driver queries — pushdown, broadcast
choice, partial aggregation, exchange counts — so a regression that adds
a shuffle or drops a pushed filter fails CI, not just the benchmark.

Checked at sf0.001 (plan shape is scale-independent; AQE may collapse
exchanges at runtime but the compiled plan records the strategy).
"""

from __future__ import annotations

import re

import pytest

from healthcare_aws_data_engineering_spark.plans import testdata_queries as tq

SF = "/root/testdata/sf0.001"


from conftest import n_exchanges as _n_exchanges, plan_string  # noqa: E402


def _plan(spark, name: str, mode: str = "formatted") -> str:
    return plan_string(tq.QUERIES[name](spark, SF), mode)


def test_report_cvd_single_shuffle_with_partial_agg(spark):
    """Latest-per-key + pivot compiles to ONE shuffle with a map-side
    partial aggregate (max_by pairs), not a window sort + groupBy chain."""
    plan = _plan(spark, "report_cvd")
    assert _n_exchanges(plan) == 1, plan
    assert "partial_max_by" in plan or plan.count("SortAggregate") >= 2, plan
    assert "Window" not in plan  # max_by formulation, no window exec


def test_revenue_by_nation_broadcasts_dims(spark):
    """Fact-to-dims star join: every dim side must broadcast — a
    SortMergeJoin here would shuffle the fact table per join."""
    plan = _plan(spark, "revenue_by_nation")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert _n_exchanges(plan) == 1  # only the final aggregation shuffles


def test_filter_pushdown_reaches_scan(spark):
    """Predicates on scans must appear as PushedFilters in the parquet
    scan node (row-group pruning at 100 TB depends on it)."""
    # (targeted isin_filter until its r15 retirement; filtered_count
    # carries the same pushed equality+range predicate shape)
    plan = _plan(spark, "filtered_count")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and ("In(event_type" in m.group(1) or "EqualTo" in m.group(1)), plan


def test_column_pruning_reaches_scan(spark):
    """text_stats reads documents: the scan must NOT materialize unused
    columns (ReadSchema limited to what the projection needs)."""
    plan = _plan(spark, "text_stats")
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m is not None
    # all document columns are used by text_stats except none — check the
    # narrow case on doc_fingerprint instead, which needs only (doc_id, text)
    plan_fp = _plan(spark, "doc_fingerprint")
    m = re.search(r"ReadSchema: ([^\n]*)", plan_fp)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1), plan_fp


def test_text_stats_is_projection_only(spark):
    """Per-document text analysis must not shuffle — it fuses with the
    scan and scales linearly with input splits."""
    plan = _plan(spark, "text_stats")
    assert _n_exchanges(plan) == 0, plan


def test_media_decode_zero_exchange(spark):
    """The real-codec legs (r8) must stay Scan → Project (JVM container
    encode, scan-fused) → MapInPandas: ZERO exchanges — the binary
    column is produced and consumed inside one stage and never
    shuffles. A regression that shuffles MB-scale media bytes is the
    single worst thing that can happen to this family at 100 TB."""
    for name in ("media_decode", "media_channel_stats", "media_entropy"):
        plan = _plan(spark, name)
        assert _n_exchanges(plan) == 0, (name, plan)
        assert "MapInPandas" in plan, (name, plan)


def test_ml_preprocess_join_then_rowwise_math(spark):
    """Impute→scale→PCA→cluster is per-row math: the only exchanges
    allowed are the upstream feature-pivot aggregate and the demo-side
    shuffle of the (unhinted, scale-safe) patient_id join; the ML math
    itself must add no shuffle and no extra join."""
    plan = _plan(spark, "ml_preprocess")
    assert _n_exchanges(plan) <= 2, plan
    assert plan.split("\n\n(1)")[0].count("Join") == 1  # no ML self-join


def test_ml_features_scale_safe_join(spark):
    """Neither side of the demo↔labs join is bounded (both grow with the
    user population), so the compiled plan must NOT pin a broadcast side —
    an explicit hint here is a 100-TB OOM AQE cannot demote. The shuffle
    join must reuse the pivot aggregate's patient_id partitioning: one
    exchange for the agg, at most one more for the customer side."""
    ext = _plan(spark, "ml_features", mode="extended")
    logical = ext.split("== Physical Plan ==")[0]
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical, (
        logical
    )  # stats/AQE-chosen broadcast is fine; a pinned hint is not
    plan = _plan(spark, "ml_features")
    assert _n_exchanges(plan) <= 2, plan
    # the pivot still compiles to ONE hash aggregate pair with map-side
    # partial max_by (the shape the 100-TB plan depends on)
    assert "partial_max_by" in plan or "HashAggregate" in plan, plan
    # filter on event_type is still pushed to the scan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "In(event_type" in m.group(1), plan


def test_ann_cosine_broadcasts_queries(spark):
    """Brute-force top-k: the (tiny) query set must be the broadcast side
    of the cross join; the corpus streams."""
    plan = _plan(spark, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_minhash_reuses_banded_exchange(spark):
    """The bucket self-join reads the banded signature table twice; the
    runtime (AQE) plan must reuse one exchange rather than recompute the
    shingle→signature pipeline per side. (AQE inserts ReusedExchange during
    execution, so assert on the post-execution final plan.)"""
    df = tq.QUERIES["dedup_minhash_lsh"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "ReusedExchange" in plan, plan
    # and only ONE scan branch of documents should remain in the final plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, final


@pytest.mark.parametrize(
    "name", ["pricing_summary", "frequency_count", "keyed_dedup"]
)
def test_aggregations_have_map_side_partial(spark, name):
    """Every groupBy aggregate must show a partial aggregate BEFORE its
    exchange (map-side combine) — shuffle carries combined rows only."""
    plan = _plan(spark, name, mode="extended")
    phys = plan.split("== Physical Plan ==")[-1]
    assert re.search(r"partial", phys) or "HashAggregate" in phys, phys
    # the exchange must sit between two aggregate nodes
    segs = re.split(r"Exchange hashpartitioning", phys)
    assert len(segs) >= 2 and re.search(r"Aggregate", segs[-1]), phys


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    """S2's partitionBy hook (unused in the reference — SURVEY §4 flags it)
    must yield partition pruning: a filter on the partition column shows up
    as PartitionFilters on the scan, and only matching directories are read."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(observation_id=i, patient_id=i % 7, obs_year=2020 + (i % 4))
            for i in range(200)
        ]
    )
    out = str(tmp_path / "obs_part")
    df.write.partitionBy("obs_year").parquet(out)

    scan = spark.read.parquet(out).filter("obs_year = 2022")
    plan = scan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "obs_year" in m.group(1), plan
    assert scan.count() == 50


def test_height_weight_single_aggregate(spark):
    """height/weight latest-lookup must compile to ONE hash aggregate
    (conditional max_by legs sharing the shuffle) — no window sort, no
    per-analyte join."""
    plan = _plan(spark, "height_weight_bmi")
    assert _n_exchanges(plan) == 1, plan
    tree = plan.split("\n\n(1)")[0]
    assert "Window" not in tree and "Join" not in tree, tree


def test_etl_observations_linear_flow(spark):
    """Synthesized-bundle ETL: one groupBy (bundle assembly), the explode+
    extraction projection, and the deterministic-dedup aggregate — no
    self-joins, no windows; generate_outer explode preserved."""
    plan = _plan(spark, "etl_observations")
    tree = plan.split("\n\n(1)")[0]
    assert tree.count("Join") == 0, tree
    assert "Window" not in tree, tree
    assert "Generate" in tree, tree  # the explode_outer leg
    assert _n_exchanges(plan) <= 3, plan


def test_drift_monitor_broadcasts_range_and_totals(spark):
    """The per-type range/total tables (bounded-key aggs) must broadcast
    into the binning projection and the final join — the event stream is
    never shuffled row-wise by a SortMergeJoin against them."""
    plan = _plan(spark, "drift_monitor")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # no sort-merge join anywhere: every join keys on bounded-cardinality
    # derived tables
    assert "SortMergeJoin" not in plan, plan


def test_eval_draw_single_bounded_shuffle(spark):
    """Fixed-K draw: one hash exchange on source (the window), nothing
    else."""
    plan = _plan(spark, "eval_draw")
    assert _n_exchanges(plan) == 1, plan


def test_length_buckets_partial_agg(spark):
    """Bucket rollup must partial-aggregate map-side before its single
    shuffle."""
    plan = _plan(spark, "length_buckets")
    assert _n_exchanges(plan) == 1, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_semantic_dedup_no_cartesian(spark):
    """Within-cluster pairing must be an equi-join on cluster (plus the
    id inequality as a join filter) — never a cartesian/nested-loop."""
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_graph_no_cartesian_and_id_only_pair_shuffles(spark):
    plan = _plan(spark, "knn_graph")
    assert "CartesianProduct" not in plan, plan
    # banding/pair exchanges must not carry the quantized vector
    tree = plan.split("\n\n(1)")[0]
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", tree):
        assert "__q" not in m.group(1), m.group(0)


def test_ann_multiprobe_query_side_fanout_only(spark):
    """The Hamming-1 probe expansion must live on the QUERY leg only:
    the corpus leg stays the plain banded index (same as ann_lsh_topk),
    and no cartesian/nested-loop sneaks in."""
    plan = _plan(spark, "ann_multiprobe_topk")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    tree = plan.split("\n\n(1)")[0]
    # exactly one leg carries the probe explosion: Generate explode(...)
    # appears once for the probe array (query side) on top of the
    # posexplode both legs share
    n_generate = len(re.findall(r"[+:]- Generate ", tree))
    assert n_generate == 3, tree  # corpus posexplode + query posexplode + query probe explode


def test_cluster_split_unpinned_cluster_join(spark):
    """The docs <- dup-cluster left join must NOT pin a broadcast side:
    the cluster-membership table is one row per document in any verified
    near-dup pair — corpus-fraction-sized at web-crawl dup rates (30%+),
    so a forced hint OOMs where AQE would demote to a shuffle join. The
    compiled logical plan must carry no hint; whatever join strategy the
    optimizer then picks at gate scale is fine."""
    ext = _plan(spark, "cluster_split", mode="extended")
    logical = ext.split("== Physical Plan ==")[0]
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical, (
        logical
    )


def test_domain_cap_single_source_exchange(spark):
    """Rank + per-source count must share ONE shuffle by source on top of
    the projection-only text_stats scan — a second window exchange would
    double-shuffle the corpus."""
    plan = _plan(spark, "domain_cap")
    assert _n_exchanges(plan) == 1, plan
    assert "Window" in plan, plan


def test_token_budget_fill_no_global_window_over_corpus(spark):
    """The corpus-side window must be PARTITIONED (by the quality
    bucket); the only unpartitioned window runs over the <=256-row
    bucket table, and the bucket prefix table must arrive broadcast."""
    plan = _plan(spark, "token_budget_fill")
    assert "BroadcastHashJoin" in plan, plan
    # the corpus-side window's required distribution is a hash partition
    # on the bucket key; the only SinglePartition exchange feeds the
    # <=256-row bucket-prefix window.
    assert "hashpartitioning(__b" in plan, plan
    assert plan.count("SinglePartition") == 1, plan


def test_dedup_weighted_unpinned_cluster_join(spark):
    """Same contract as cluster_split: the corpus <- cluster-table left
    join must carry no broadcast hint (cluster table is corpus-fraction-
    sized at web-crawl dup rates; AQE decides)."""
    ext = _plan(spark, "dedup_weighted", mode="extended")
    logical = ext.split("== Physical Plan ==")[0]
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical, (
        logical
    )


def test_late_suppliers_single_lineitem_exchange(spark):
    """Q21 shape: the EXISTS + NOT EXISTS self-joins are rewritten as
    per-order collect_set windows riding the lineitem<-orders join's
    exchange — lineitem must be scanned ONCE and shuffled ONCE on
    l_orderkey (the textbook form shuffles it three times), both set
    aggregates must share ONE Window node, and the status filter must
    reach the orders scan."""
    plan = _plan(spark, "late_suppliers")
    assert plan.count("lineitem.parquet") == 1, plan
    assert len(re.findall(r"hashpartitioning\(l_orderkey", plan)) == 1, plan
    # exactly 2 shuffles total: orderkey (windows) + suppkey (final agg)
    assert _n_exchanges(plan) == 2, plan
    assert len(re.findall(r"Window \(\d+\)", plan)) == 1, plan
    assert "EqualTo(o_orderstatus,F)" in plan, plan


def test_small_qty_revenue_single_lineitem_scan(spark):
    """Q17 shape: the correlated per-part average is a decimal-sum
    window riding the join's l_partkey exchange — ONE lineitem scan
    (textbook form pays two), part filters pushed to the dim scan and
    the dim broadcast; 2 shuffles total (partkey window + final agg)."""
    plan = _plan(spark, "small_qty_revenue")
    assert plan.count("lineitem.parquet") == 1, plan
    assert len(re.findall(r"hashpartitioning\(l_partkey", plan)) == 1, plan
    assert _n_exchanges(plan) == 2, plan
    assert len(re.findall(r"Window \(\d+\)", plan)) == 1, plan
    assert "EqualTo(p_brand,Brand#4)" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_top_supplier_single_corpus_scan(spark):
    """Q15 shape: the revenue view feeds both the rows and the scalar
    max with NO single-partition pass over the view (|suppliers| is
    10^9 at SF100k — a first-draft unpartitioned window buffered it on
    one task) and NO second corpus scan: the view is checkpointed, so
    the final plan reads lineitem ZERO times (both consumers scan the
    materialized RDD) and contains no Window."""
    df = tq.QUERIES["top_supplier"](spark, SF)
    plan = plan_string(df)
    assert "Window" not in plan, plan
    assert plan.count("lineitem.parquet") == 0, plan
    assert "ExistingRDD" in plan or "Scan rdd" in plan.lower(), plan


def test_order_count_distribution_preaggregates_orders(spark):
    """Q13 shape: orders are aggregated to per-customer counts BEFORE
    the left outer join (one o_custkey exchange with a map-side
    partial), so no order row ever crosses the join; the priority
    predicate reaches the orders scan; 2 hash shuffles total
    (per-customer counts + the tiny distribution agg; a third range
    exchange is just the presentation sort over ~|distinct counts|
    rows)."""
    plan = _plan(spark, "order_count_distribution")
    assert plan.count("orders.parquet") == 1, plan
    assert len(re.findall(r"hashpartitioning\(o_custkey", plan)) == 1, plan
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 2, plan
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan, plan
    # join type is LeftOuter onto the counts, never inner
    assert "LeftOuter" in plan, plan
    assert "partial_count" in plan, plan


def test_min_cost_supplier_one_scan_one_window_exchange(spark):
    """Q2 shape: the correlated MIN re-evaluates the whole dim chain in
    the textbook form; here the region-eligible set is built once and
    the MIN is a per-part window riding ONE ps_partkey exchange —
    lineitem scanned once (ReadSchema pruned to the two key columns:
    the unused shipped/avail aggregate legs must be pruned away), type
    and region filters pushed to the dim scans, LIMIT compiled to
    TakeOrderedAndProject (no global sort)."""
    plan = _plan(spark, "min_cost_supplier")
    assert plan.count("lineitem.parquet") == 1, plan
    assert len(re.findall(r"hashpartitioning\(ps_partkey", plan)) == 1, plan
    assert _n_exchanges(plan) == 2, plan
    assert len(re.findall(r"Window \(\d+\)", plan)) == 1, plan
    assert "EqualTo(p_type,STANDARD)" in plan, plan
    assert "EqualTo(r_name,EUROPE)" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m and m.group(1) == "l_partkey:bigint,l_suppkey:bigint", plan


def test_excess_suppliers_semi_join_chain_single_scan(spark):
    """Q20 shape: the nested correlated-IN chain compiles to LEFT SEMI
    joins over the derived ps table — the correlated shipped-quantity
    SUM is a column of the SAME pair-key aggregation (zero extra
    lineitem scans), the name pattern is pushed to the part scan as a
    StartsWith, and the excess filter stays in exact integer math."""
    plan = _plan(spark, "excess_suppliers")
    assert plan.count("lineitem.parquet") == 1, plan
    tree = plan.split("\n\n(1)")[0]
    assert tree.count("LeftSemi") == 2, plan
    assert "StringStartsWith(p_name,small)" in plan, plan
    assert "EqualTo(r_name,EUROPE)" in plan, plan
    # pair-key aggregation + distinct suppkey = 2 hash exchanges (the
    # third is the presentation sort's rangepartitioning)
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 2, plan


def test_part_value_share_view_computed_once(spark):
    """Q11 shape: the per-part value view feeds both the kept rows and
    the mean scalar with NO second corpus pass — the view is
    checkpointed (lineitem read ZERO times in the final plan, both
    consumers scan the materialized RDD), the scalar comes back as a
    one-row broadcast nested-loop HAVING predicate, and there is no
    Window anywhere (an unpartitioned alternative would funnel
    |parts|)."""
    df = tq.QUERIES["part_value_share"](spark, SF)
    plan = plan_string(df)
    assert plan.count("lineitem.parquet") == 0, plan
    assert "ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan, plan


def test_local_supplier_volume_region_pushed_below_big_joins(spark):
    """Q5 shape: the region constraint must reach BOTH cycle legs before
    the large joins — customer via a broadcast LeftSemi on the
    nation⨝region keys, supplier via its geo join — and lineitem is
    scanned exactly once; the date window reaches the orders scan."""
    plan = _plan(spark, "local_supplier_volume")
    assert plan.count("lineitem.parquet") == 1, plan
    tree = plan.split("\n\n(1)")[0]
    assert "LeftSemi" in tree, plan  # customer pre-filter, not post-join
    assert "EqualTo(r_name,ASIA)" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    # the nationkey cycle folds into the supplier join's equi-key — no
    # nested-loop / cartesian fallback anywhere
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_supplier_part_counts_anti_join_and_distinct(spark):
    """Q16 shape: the denylist is a LEFT ANTI (broadcast — it is
    bounded), the part-class filters reach the part scan, and lineitem
    feeds ONE pair aggregation (keys-only ReadSchema — Q16 needs no
    quantities)."""
    plan = _plan(spark, "supplier_part_counts")
    assert plan.count("lineitem.parquet") == 1, plan
    tree = plan.split("\n\n(1)")[0]
    assert "LeftAnti" in tree, plan
    assert "Not(EqualTo(p_brand,Brand#1))" in plan, plan
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m and m.group(1) == "l_partkey:bigint,l_suppkey:bigint", plan


def test_bloom_decontam_one_verification_join(spark):
    """Suite-heavy row insurance (r13): the bloom path's whole point is
    that the corpus is probed IN-ROW against one binary literal and the
    eval strings join only the pruned candidates — the plan must show
    exactly ONE join (the LeftOuter verification), exactly TWO
    documents scans (the train leg + the lazily recomputed eval slice,
    the documented trade in bloom_decontaminate), one doc_id aggregate
    exchange, and no Window. A second corpus-side join or a window here
    means the bloom pruning silently stopped paying for itself."""
    plan = _plan(spark, "bloom_decontam")
    tree = plan.split("\n\n(1)")[0]
    assert plan.count("documents.parquet") == 2, plan
    assert len(re.findall(r"Join", tree)) == 1, plan
    assert "LeftOuter" in tree, plan
    assert "Window" not in plan, plan
    assert _n_exchanges(plan) == 2, plan


def test_corpus_curation_single_documents_scan(spark):
    """Suite-heaviest row insurance (r13): the composed curation query
    (quality + split + language rollup) must read documents ONCE — its
    cost is the derived joins, never a second corpus pass — with no
    cartesian/nested-loop fallback anywhere. (The compiled plan records
    SortMergeJoin for the derived sides; AQE converts them at runtime
    when a side is small — the pinned property is scan count, not the
    join strategy.)"""
    plan = _plan(spark, "corpus_curation")
    assert plan.count("documents.parquet") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert _n_exchanges(plan) <= 5, plan


def test_ann_ivfpq_probe_side_broadcasts(spark):
    """IVF-PQ serving shape: the corpus index (cell + codes projection)
    must stay scan-fused with NO exchange before the probe join — the
    bounded query batch broadcasts (BuildRight) — and the per-query
    top-k must ride ONE query_id exchange with the rank limit pushed
    below it (WindowGroupLimit partial top-k on the map side). A plan
    that shuffles the corpus by cell, or sorts all candidates globally,
    dies at 10^10 vectors."""
    plan = _plan(spark, "ann_ivfpq_topk")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    # exactly one hash exchange: the final per-query window
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1, plan
    assert re.search(r"hashpartitioning\(query_id", plan), plan
    # rank-limit pushdown: a partial top-k runs BEFORE the exchange
    tree = plan.split("\n\n(1)")[0]
    assert tree.count("WindowGroupLimit") == 2, plan


def test_product_profit_cost_leg_is_projection(spark):
    """Q9 shape: the partsupp leg of the profit bridge is a pure integer
    formula of the (partkey, suppkey) pair key (the derived ps has no
    base table), so the textbook lineitem⨝partsupp pair-key join
    compiles to a PROJECTION — lineitem scanned ONCE (ReadSchema pruned
    to the six needed columns), ZERO pair-key exchanges (the only hash
    exchange is the final bounded (nation, year) aggregate), the name
    filter pushed to the part scan as a StringContains, every dim
    broadcast, one aggregate pair."""
    plan = _plan(spark, "product_profit")
    assert plan.count("lineitem.parquet") == 1, plan
    assert "StringContains(p_name,anvil)" in plan, plan
    assert "ps_partkey" not in plan, plan  # no derived-ps subtree at all
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    tree = plan.split("\n\n(1)")[0]
    assert tree.count("HashAggregate") == 2, plan


def test_market_share_single_pass_two_sums(spark):
    """Q8 shape: numerator (CASE-guarded) and denominator revenue sums
    ride ONE joined pass — a single aggregate pair (partial+final), one
    lineitem scan, the market membership as a pre-join LeftSemi, and
    the part-type filter pushed to the part scan."""
    plan = _plan(spark, "market_share")
    assert plan.count("lineitem.parquet") == 1, plan
    tree = plan.split("\n\n(1)")[0]
    assert "LeftSemi" in tree, plan
    assert "EqualTo(p_type,ECONOMY)" in plan, plan
    # exactly one aggregate pair: both sums in the same HashAggregate
    assert tree.count("HashAggregate") == 2, plan


def test_ledger_decontaminate_broadcasts_eval_and_shuffles_once(spark):
    """r14 cross-snapshot ledger screen: the corpus-scale ledger must
    stream through ONE BroadcastHashJoin against the (benchmark-sized)
    eval hash set and pay exactly ONE exchange — the final doc_id
    aggregation. A shingle-keyed shuffle of the ledger would re-create
    the 100 TB pass the ledger exists to avoid."""
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators import decontam as D

    ledger = spark.range(0, 1000).select(
        (F.col("id") % 100).alias("doc_id"),
        F.xxhash64(F.col("id").cast("string")).alias("shingle_hash"),
    )
    eval_docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    plan = plan_string(D.ledger_decontaminate(ledger, eval_docs))
    # eval hashes are the BUILD side of a broadcast join — the ledger
    # streams as the probe side
    assert "BroadcastHashJoin" in plan and "BuildRight" in plan, plan
    # exactly two exchanges: the benchmark-sized eval DISTINCT and the
    # final doc_id aggregation — neither keyed on shingle over the
    # corpus-scale ledger
    assert _n_exchanges(plan) <= 2, plan


def test_ivfpq_serve_from_persisted_index_same_shape(spark, tmp_path):
    """r15 incremental-index serve: reading the index from PARQUET (the
    accrued-artifact path) must keep the inline plan's serving shape —
    index scan streams with no exchange before the probe join, bounded
    query batch broadcasts, one query_id exchange with the rank limit
    pushed below it. If persisting the index cost the plan its shape,
    the appendable-artifact story would be a regression in disguise."""
    import random

    from pyspark.sql import Row, functions as F

    from healthcare_aws_data_engineering_spark.operators import (
        similarity as S,
    )
    from healthcare_aws_data_engineering_spark.streaming.ann_index import (
        load_index,
    )

    rnd = random.Random(5)
    embs = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[rnd.uniform(-2, 2) for _ in range(8)])
            for i in range(80)
        ]
    )
    cents = S.sample_centroids(embs, 4)
    books = S.pq_codebooks(embs)
    idx_path = str(tmp_path / "idx")
    S.ivfpq_index_rows(embs, cents, books).withColumn(
        "__batch_id", F.lit(0)
    ).write.partitionBy("__batch_id").parquet(idx_path)
    queries = embs.filter("vec_id < 3")
    plan = plan_string(
        S.ivfpq_serve(load_index(spark, idx_path), queries, cents, books, k=5)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1, plan
    assert re.search(r"hashpartitioning\(query_id", plan), plan
    tree = plan.split("\n\n(1)")[0]
    assert tree.count("WindowGroupLimit") == 2, plan


def test_spread_keeps_an_already_split_input(spark):
    """spread() round-robins a frame with fewer partitions than cores and
    leaves one split at least that many ways untouched, so a large scan
    never shrinks to the core count."""
    from healthcare_aws_data_engineering_spark.sources.tables import spread

    dp = spark.sparkContext.defaultParallelism

    def round_robins(df) -> int:
        return plan_string(spread(df)).count("RoundRobinPartitioning")

    assert round_robins(spark.range(0, 100, numPartitions=2 * dp)) == 0
    assert round_robins(spark.range(0, 100, numPartitions=dp)) == 0
    assert round_robins(spark.range(0, 100, numPartitions=1)) == 1


def test_pricing_summary_sums_do_not_depend_on_layout(spark):
    """pricing_summary sums through dsum (DECIMAL(28,6)), so the spread
    ahead of its aggregate cannot change its result: on values where a
    double sum depends on the addition order, dsum gives the same answer
    in every order and over 1 or 7 partitions."""
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.plans.sqlsum import dsum

    def total(values, parts, agg):
        df = spark.createDataFrame([(v,) for v in values], "x double")
        # coalesce(1) keeps the listed order; repartition(7) scatters it
        df = df.coalesce(1) if parts == 1 else df.repartition(parts)
        return df.agg(agg(F.col("x")).alias("s")).first().s

    assert total([1e16, 1.0, -1e16], 1, F.sum) == 0.0
    assert total([1e16, -1e16, 1.0], 1, F.sum) == 1.0
    for values in ([1e16, 1.0, -1e16], [1e16, -1e16, 1.0]):
        for parts in (1, 7):
            assert total(values, parts, dsum) == 1.0
