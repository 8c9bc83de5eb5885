from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from healthcare_aws_data_engineering_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


# Shared plan-inspection helpers (used by test_plan_quality.py and
# test_pipeline_ops.py — keep the exchange-counting heuristic in ONE place).
def plan_string(df, mode: str = "formatted") -> str:
    jexp = df._jdf.queryExecution()
    spark = df.sparkSession
    return jexp.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def n_exchanges(plan: str) -> int:
    """Shuffle exchanges in the op tree (not broadcast, not the per-node
    detail section that repeats each operator name)."""
    import re

    tree = plan.split("\n\n(1)")[0]
    return len(re.findall(r"[+:]- Exchange ", tree))


def exchange_inputs(plan: str) -> list[tuple[str, list[str]]]:
    """``(partitioning, input column names)`` of every shuffle exchange,
    read from a formatted plan's per-node detail sections: what each
    shuffle carries, not just what it is keyed on."""
    import re

    return [
        (m.group(2), [c.split("#")[0] for c in m.group(1).split(", ")])
        for m in re.finditer(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\n"
            r"Arguments: (\w+\([^)]*\))",
            plan,
        )
    ]


def assert_knn_vectors_shuffle_once(plan: str) -> None:
    """knn_graph's plan: exactly one exchange carries the quantized
    vector, keyed on ``(band, band_key)`` (the bucket pass); every other
    exchange (pair dedup, rank window) carries ids and the cosine only."""
    ex = exchange_inputs(plan)
    assert len(ex) == n_exchanges(plan), plan
    with_q = [(part, cols) for part, cols in ex if "__q" in cols]
    assert len(with_q) == 1, ex
    assert with_q[0][0].startswith("hashpartitioning(band#"), with_q
    assert ", band_key#" in with_q[0][0], with_q
    for part, cols in ex:
        if "__q" not in cols:
            assert set(cols) <= {"vec_id", "neighbor_id", "cosine"}, (part, cols)
