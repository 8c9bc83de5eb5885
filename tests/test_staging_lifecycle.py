"""Operator-internal persist lifecycle (r15 verdict #3): a long-lived
session running the same staging-persisting query repeatedly must not
accumulate cached generations — ``operators/staging.py`` bounds each
call site to ONE live entry."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession, functions as F

from healthcare_aws_data_engineering_spark.operators import staging
from healthcare_aws_data_engineering_spark.operators.ppjoin import (
    prefix_jaccard_join,
)
from healthcare_aws_data_engineering_spark.operators.spans import (
    repeated_spans,
    scrub_repeated,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from healthcare_aws_data_engineering_spark.session import get_spark

    return get_spark("test-staging-lifecycle")


def _cached_rdd_count(spark) -> int:
    return len(
        [
            i
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0
        ]
    )


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_repeated_calls_hold_at_most_one_generation_per_site(spark):
    spark.catalog.clearCache()
    mkers = [
        lambda: prefix_jaccard_join(_docs(spark)).count(),
        lambda: repeated_spans(_docs(spark)).count(),
        lambda: scrub_repeated(_docs(spark)).count(),
    ]
    for mk in mkers:
        mk()
    first = _cached_rdd_count(spark)
    # run each query twice more: generations must be replaced, not added
    for mk in mkers:
        mk()
        mk()
    assert _cached_rdd_count(spark) <= first, (
        "staging persists accumulated across calls"
    )
    spark.catalog.clearCache()


def test_staged_persist_replaces_previous_generation(spark):
    spark.catalog.clearCache()
    df1 = staging.staged_persist(
        _docs(spark).select("doc_id"), "test.site"
    )
    df1.count()
    assert df1.storageLevel.useMemory
    df2 = staging.staged_persist(
        _docs(spark).select("doc_id", "source"), "test.site"
    )
    df2.count()
    # the first generation was released when the second registered
    assert not df1.storageLevel.useMemory
    assert df2.storageLevel.useMemory
    staging.release("test.site")
    assert not df2.storageLevel.useMemory
    staging.release("test.site")  # idempotent, no KeyError


def test_concurrent_callers_leave_no_orphaned_generation(spark):
    """Callers racing on one call site: once the site is released, no
    generation any of them registered may still be cached. Without the
    lock two callers can read the same previous generation, and the one
    whose registration is overwritten stays persisted with no owner."""
    import sys
    import threading

    spark.catalog.clearCache()
    base = _docs(spark).select("doc_id")
    n_threads, rounds = 8, 6
    made: list = []
    errors: list = []

    def caller(t: int) -> None:
        try:
            for r in range(rounds):
                df = base.where(F.col("doc_id") != t * rounds + r)
                made.append(df)
                staging.staged_persist(df, "test.race")
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=caller, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads), "callers hung"
    assert not errors, errors
    assert len(made) == n_threads * rounds
    staging.release("test.race")
    orphans = [df for df in made if df.storageLevel.useMemory]
    assert not orphans, f"{len(orphans)} generations left cached with no owner"
    spark.catalog.clearCache()


@pytest.mark.parametrize("row", ["graph_pagerank", "dup_clusters"])
def test_iterative_row_call_leaves_at_most_one_checkpoint(spark, row):
    """PageRank and connected components stage every round with a lazy
    ``localCheckpoint``; a call must release each generation once the
    next is materialized, so only the one its result reads stays
    persisted, not one per round."""
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        q_graph_pagerank,
    )
    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        q_dup_clusters,
    )

    query = {"graph_pagerank": q_graph_pagerank, "dup_clusters": q_dup_clusters}[row]
    spark.catalog.clearCache()
    query(spark, SF).collect()
    for _ in range(3):
        before = _cached_rdd_count(spark)
        query(spark, SF).collect()
        added = _cached_rdd_count(spark) - before
        assert added <= 1, f"{row} left {added} more persisted RDDs"
    spark.catalog.clearCache()
