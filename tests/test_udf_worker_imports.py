"""Every Python function the package ships to Spark's Python workers
must import the package when it is unpickled.

The package's ``__init__`` installs the worker's zip-directory shim
(see its docstring), but only in a worker that imports the package.
cloudpickle ships a closure by value, together with the globals its code
names; a module-level package function among them travels by reference,
and loading it imports its module and so the package. A UDF body that
names nothing from the package (plain numpy on its arguments) loads
without it, and its worker re-reads every zip directory on each task.

The test records each function as it is pickled for the JVM, while the
package builds every UDF it has, then loads each pickle in a fresh
interpreter that has not imported the package.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

import pyspark.sql.udf as spark_udf
import pytest
from pyspark import cloudpickle
from pyspark.sql import Row, functions as F

from healthcare_aws_data_engineering_spark.ml import inference
from healthcare_aws_data_engineering_spark.operators import multimodal as M
from healthcare_aws_data_engineering_spark.operators import similarity as S
from healthcare_aws_data_engineering_spark.operators.bpe import bpe_encode
from healthcare_aws_data_engineering_spark.operators.semdedup import knn_graph
from healthcare_aws_data_engineering_spark.operators.unigram import (
    unigram_encode,
)
from healthcare_aws_data_engineering_spark.streaming.stateful import (
    stateful_latest_labs,
)

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "healthcare_aws_data_engineering_spark"
PKG_NAME = PKG.name

# the calls that turn a Python function into one a worker runs
_UDF_CALLS = {
    "pandas_udf",
    "mapInPandas",
    "mapInArrow",
    "applyInArrow",
    "applyInPandas",
    "applyInPandasWithState",
}


def _udf_sites() -> list[str]:
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in _UDF_CALLS:
                sites.append(f"{path.relative_to(REPO)}:{node.lineno}")
    return sites


def _build_every_udf(spark) -> None:
    """Build (never run) one DataFrame per package UDF site."""
    embs = spark.createDataFrame(
        [(1, [0.5] * 64)], "vec_id long, embedding array<float>"
    )
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    planes = S.rademacher_planes(16, 64)
    staged = embs.select("vec_id", S.quantize_vec(F.col("embedding")).alias("__q"))

    staged.select(S.sig_chunks_q(F.col("__q"), planes, 4))
    staged.select(S.dot_q_arrow()(F.col("__q"), F.col("__q")))
    staged.select(S._centroid_cell(F.col("__q"), [[0.0] * 64, [1.0] * 64], exact=True))
    S.pq_encode(embs, [[[0] * 32, [1] * 32]] * 2)
    knn_graph(embs, k=3, plane_matrix=planes, bands=4)

    names = inference.feature_names()
    feats = spark.range(1).select(*[F.lit(0.0).alias(n) for n in names])
    feats.select(inference._preprocess_udf()(*names))
    feats.select(inference._scoring_udf()(*names))

    bpe_encode(docs, [("a", "b")])
    unigram_encode(docs, {"a": -1.0})

    media = M.media_from_documents(docs)
    M.media_features(media)
    M.sample_frames(media)
    M.decode_media_stats(media)
    M.media_channel_stats(media)
    M.media_dhash(media)
    M.media_entropy(media)

    events = spark.createDataFrame(
        [Row(user_id=1, event_type="view", value=1.0, ts=None, event_id=1)],
        "user_id long, event_type string, value double, ts timestamp, event_id long",
    )
    stateful_latest_labs(events, ["view"])


def _loads_package(pickled: bytes, tmp_path: Path) -> bool:
    path = tmp_path / "udf.pkl"
    path.write_bytes(pickled)
    probe = (
        "import pickle, sys\n"
        f"assert {PKG_NAME!r} not in sys.modules\n"
        f"pickle.loads(open({str(path)!r}, 'rb').read())\n"
        f"print({PKG_NAME!r} in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(REPO)},
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip().splitlines()[-1] == "True"


@pytest.fixture(scope="module")
def shipped(spark):
    funcs = {}
    real = spark_udf._wrap_function

    def record(sc, func, returnType=None):
        funcs[f"{func.__module__}.{func.__qualname__}"] = func
        return real(sc, func, returnType)

    spark_udf._wrap_function = record
    try:
        _build_every_udf(spark)
    finally:
        spark_udf._wrap_function = real
    return funcs


def test_every_udf_site_is_built(shipped):
    """The builder above covers every UDF call site in the package (one
    shipped function per site), so a new site cannot dodge the check."""
    sites = _udf_sites()
    assert len(shipped) == len(sites), (sorted(shipped), sites)


def test_every_shipped_udf_imports_the_package(shipped, tmp_path):
    missing = [
        name
        for name, func in sorted(shipped.items())
        if not _loads_package(cloudpickle.dumps(func), tmp_path)
    ]
    assert not missing, missing


def test_probe_sees_a_closure_that_skips_the_package(tmp_path):
    """The check can fail: a closure over plain values loads without the
    package."""
    scale = 3

    def body(x):
        return x * scale

    assert not _loads_package(cloudpickle.dumps(body), tmp_path)
