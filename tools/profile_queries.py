"""Per-row timing on bench.py's protocol, split into DataFrame build
(driver-side plan construction, py4j traffic) and action (collect) —
the per-row A/B tool.

Usage: python tools/profile_queries.py [sf_dir] [query ...]

Runs ``bench.warm_up`` on the first named query, then ``bench.time_query``
on each, so a row's total is the median bench.py records for it. Jobs
count every job a sample fires: a query that triggers eager jobs at build
time (localCheckpoint) shows them here although its exec time is small.
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import median_total, time_query, warm_up
from healthcare_aws_data_engineering_spark.plans.testdata_queries import QUERIES
from healthcare_aws_data_engineering_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or list(QUERIES)
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, QUERIES[names[0]], sf_dir)

    print(f"{'query':28} {'build':>7} {'exec':>7} {'total':>7} {'jobs':>5}")
    suite = 0.0
    for name in names:
        samples = time_query(spark, QUERIES[name], sf_dir)
        build = statistics.median(s[0] for s in samples)
        execute = statistics.median(s[1] for s in samples)
        total = median_total(samples)
        jobs = statistics.median_low(s[2] for s in samples)
        suite += total
        print(f"{name:28} {build:7.3f} {execute:7.3f} {total:7.3f} {jobs:5d}")
    print(f"{'TOTAL':28} {'':7} {'':7} {suite:7.3f}")


if __name__ == "__main__":
    main()
