"""Unit pins for bench.py's ambient-retry boundary (r11 verdict ask #2).

The r11 driver capture shipped two noise rows as regression-looking
numbers because the old trigger re-measured only when MORE than 2 rows
read over the 2x gate. The boundary is now any-over-gate: a single
over-gate row under a healthy suite ratio is re-measured (and, if it
persists, the capture self-declares ambient_contaminated) — while a
genuinely regressed suite (ratio >= AMBIENT_TOTAL_OK) is never
retried, so real regressions ship as recorded.

The last test pins the cache discipline of ``time_query``, the one
timing protocol that bench.py's loops and tools/profile_queries.py share.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import AMBIENT_TOTAL_OK, RUNS, ambient_suspect, time_query


def test_single_over_gate_row_triggers_retry():
    # the r11 failure class: 1-2 rows over, suite healthy
    assert ambient_suspect(1, 0.94)
    assert ambient_suspect(2, 0.94)


def test_many_rows_still_trigger():
    assert ambient_suspect(12, 1.05)


def test_no_flagged_rows_never_retries():
    assert not ambient_suspect(0, 0.5)
    assert not ambient_suspect(0, 2.0)


def test_regressed_suite_is_not_ambient():
    # suite ratio at/above the threshold => the inflation is NOT the
    # uniform-ambient signature; ship the numbers (real regression)
    assert not ambient_suspect(3, AMBIENT_TOTAL_OK)
    assert not ambient_suspect(1, 1.8)


def test_time_query_starts_timing_from_an_empty_cache(spark):
    # no timed sample may read what the warm-up collect persisted, and
    # nothing time_query persisted may outlive it
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    empty_at_call = []

    def fn(s, _sf_dir):
        empty_at_call.append(cache_manager.isEmpty())
        return s.range(16).selectExpr("id * 2 AS x").persist()

    samples = time_query(spark, fn, "unused")
    assert len(empty_at_call) == 1 + RUNS
    assert empty_at_call[1], empty_at_call
    assert cache_manager.isEmpty()
    assert len(samples) == RUNS
    assert all(jobs >= 1 for _, _, jobs in samples), samples
