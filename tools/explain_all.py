"""Dump the physical plan of every driver query — the plan-review loop.

Usage: python tools/explain_all.py [sf_dir] [query ...]

Prints each query's formatted physical plan (op tree plus per-node
detail, pushed filters included) with the session-global counters in it
renumbered per query: expression ids (``#123``), Catalyst's common
subexpression names (``_common_expr_4``), exchange plan ids
(``plan_id=6``) and the RDD ids of checkpointed frames
(``MapPartitionsRDD[95]``) become their order of first appearance.
Lambda variables lose PySpark's unique suffix (``lambda x_45#12`` and
the SQL-text form ``lambda x#12`` both print ``lambda x#0``); the
expression id still tells them apart. Two builds of an unchanged query
then print the same text, so ``diff`` between the output of two
checkouts shows only real plan changes. The enforced invariants live in
tests/test_plan_quality.py.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from healthcare_aws_data_engineering_spark.session import get_spark
from __spark_entry__ import queries

_COUNTERS = (
    r"(#)(\d+)", r"(_common_expr_)(\d+)", r"(plan_id=)(\d+)", r"(RDD\[)(\d+)"
)


def normalize(plan: str) -> str:
    """Drop lambda variables' unique suffix, then renumber each
    session-global counter in order of first appearance."""
    plan = re.sub(r"(lambda [A-Za-z]\w*?)_\d+\b", r"\1", plan)
    for pattern in _COUNTERS:
        seen: dict[str, int] = {}
        plan = re.sub(
            pattern,
            lambda m: f"{m.group(1)}{seen.setdefault(m.group(2), len(seen))}",
            plan,
        )
    return plan


def plan_text(df) -> str:
    """The normalized formatted physical plan of ``df``."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return normalize(df._jdf.queryExecution().explainString(mode.fromString("formatted")))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in queries().items():
        if only and name not in only:
            continue
        plan = plan_text(fn(spark, sf_dir))
        tree = plan.split("\n\n(1)")[0]
        print(f"\n{'=' * 70}\n{name}\n{'=' * 70}")
        print(plan.replace("== Physical Plan ==\n", "").rstrip())
        n_shuffle = len(re.findall(r"[+:]- Exchange ", tree))
        n_bcast = tree.count("BroadcastExchange")
        print(f"  [shuffles={n_shuffle} broadcasts={n_bcast}]")


if __name__ == "__main__":
    main()
