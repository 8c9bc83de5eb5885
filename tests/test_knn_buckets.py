"""knn_graph scores each LSH bucket in one exact Gram-matrix pass.

Adversarial corpora pin it against the DuckDB oracle of the knn_graph
row and against a plain-Python walk of the same definition: buckets at
the member cap and one over it, pairs that share every band, identical
vectors, a NULL ``vec_id`` inside a bucket, a zero vector (NULL
cosine), and components near the int64 Gram bound. Every cosine must
agree bit for bit.
"""

from __future__ import annotations

import math
import random
from collections import defaultdict

import pyarrow as pa
import pytest

from healthcare_aws_data_engineering_spark.operators.semdedup import (
    _bucket_pairs,
    knn_graph,
)
from healthcare_aws_data_engineering_spark.operators.similarity import (
    quantize_py,
)
from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
    KNN_BANDS,
    KNN_K,
    KNN_MAX_BUCKET,
    _KNN_GRAPH_SQL,
    _PLANES16,
)

DIM = 64
SCHEMA = "vec_id long, embedding array<float>"


def _keys(vec, planes=_PLANES16, bands=KNN_BANDS):
    q = [quantize_py(x) for x in vec]
    dots = [sum(p * x for p, x in zip(plane, q)) for plane in planes]
    width = len(planes) // bands
    return tuple(
        sum(1 << j for j in range(width) if dots[b * width + j] > 0)
        for b in range(bands)
    )


def _group(rng, base, n):
    """``n`` integer-valued vectors near positive multiples of ``base``
    that share every band key with it (so they share all buckets)."""
    want, out = _keys(base), []
    while len(out) < n:
        c = rng.randint(1, 3)
        v = [c * x + rng.choice((-1, 0, 1)) for x in base]
        if _keys(v) == want:
            out.append(v)
    return out


def _disjoint_base(rng, taken, scale=20):
    """A random base vector whose key differs from every key in
    ``taken`` in every band."""
    while True:
        v = [rng.randint(-scale, scale) for _ in range(DIM)]
        if all(
            all(a != b for a, b in zip(_keys(v), t)) for t in taken
        ):
            return v


def _on_no_positive_side(start):
    """A nonzero integer vector with no positive dot against any plane,
    found by perceptron steps from ``start``: its key is 0 in every
    band, as the zero vector's is, so the two share every bucket."""
    v = list(start)
    for _ in range(10_000):
        p = next(
            (p for p in _PLANES16 if sum(a * b for a, b in zip(p, v)) > 0),
            None,
        )
        if p is None:
            assert any(v)
            return v
        v = [a - b for a, b in zip(v, p)]
    raise AssertionError("no vector below every plane")


def _walk(rows, max_bucket, k, planes=_PLANES16, bands=KNN_BANDS):
    """The k-NN graph by definition, in plain Python."""
    buckets = defaultdict(list)
    for vid, vec in rows:
        q = [quantize_py(x) for x in vec]
        for b, key in enumerate(_keys(vec, planes, bands)):
            buckets[b, key].append((vid, q))
    scored = {}
    for members in buckets.values():
        if not 2 <= len(members) <= max_bucket:
            continue
        for a, qa in members:
            for b, qb in members:
                if a is None or b is None or not a < b:
                    continue
                den = math.sqrt(float(sum(x * x for x in qa))) * math.sqrt(
                    float(sum(x * x for x in qb))
                )
                dot = float(sum(x * y for x, y in zip(qa, qb)))
                scored[a, b] = dot / den if den else None
    by_vec = defaultdict(list)
    for (a, b), c in scored.items():
        by_vec[a].append((b, c))
        by_vec[b].append((a, c))
    out = []
    for v, nbrs in by_vec.items():
        nbrs.sort(key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]))
        out += [(v, n, c, r + 1) for r, (n, c) in enumerate(nbrs[:k])]
    return sorted(out, key=_order)


def _order(row):
    return (row[0], row[3])


def _spark_rows(df):
    return sorted(
        (
            (r["vec_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in df.collect()
        ),
        key=_order,
    )


@pytest.fixture(scope="module")
def cap_corpus():
    """Buckets of exactly KNN_MAX_BUCKET members (kept) and one over it
    (dropped), a small bucket holding a NULL vec_id, identical vectors
    near the int64 Gram bound, and a zero vector with two partners."""
    rng = random.Random(15)
    u = [rng.randint(-20, 20) for _ in range(DIM)]
    at_cap = _group(rng, u, KNN_MAX_BUCKET)
    over_cap = _group(rng, [-x for x in u], KNN_MAX_BUCKET + 1)
    v = _disjoint_base(rng, [_keys(u), _keys([-x for x in u])])
    small = _group(rng, v, 3)
    # ±379 in all 64 components: Σq² = 64·379²·10¹² ≈ 9.19e18, just
    # under 2⁶³, and a perfect square, so an identical pair is exactly 1.0
    signs = None
    while signs is None or any(
        any(a == b for a, b in zip(_keys(signs), t))
        for t in (_keys(u), _keys([-x for x in u]))
    ):
        signs = [rng.choice((-1, 1)) for _ in range(DIM)]
    big = [379 * s for s in signs]
    near = big
    while near == big or _keys(near) != _keys(big):
        near = [(379 - rng.randint(0, 1)) * s for s in signs]
    # the zero vector's cosine with anything is 0/0: NULL in DuckDB
    # (1.0), in Spark's DOUBLE division and in the scorer
    sums = [-sum(c) for c in zip(*_PLANES16)]
    zero_partners = [
        _on_no_positive_side(sums),
        _on_no_positive_side([sums[0] - 5] + sums[1:]),
    ]
    rows = (
        [(i, x) for i, x in enumerate(at_cap)]
        + [(1_000 + i, x) for i, x in enumerate(over_cap)]
        + [(2_000 + i, x) for i, x in enumerate(small)]
        + [(None, small[0])]
        + [(3_000, big), (3_001, big), (3_002, near)]
        + [(3_100, [0] * DIM)]
        + [(3_101 + i, x) for i, x in enumerate(zero_partners)]
    )
    return rows


def test_cap_corpus_matches_oracle_and_walk(spark, cap_corpus):
    import duckdb

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in cap_corpus], SCHEMA
    )
    got = _spark_rows(
        knn_graph(
            df, k=KNN_K, plane_matrix=_PLANES16, bands=KNN_BANDS,
            max_bucket=KNN_MAX_BUCKET,
        )
    )
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in cap_corpus], pa.int64()),
                "embedding": pa.array(
                    [v for _, v in cap_corpus], pa.list_(pa.float32())
                ),
            }
        ),
    )
    oracle = sorted(
        (tuple(r) for r in con.execute(_KNN_GRAPH_SQL).fetchall()), key=_order
    )
    assert got == oracle
    assert got == _walk(cap_corpus, KNN_MAX_BUCKET, KNN_K)
    ids = {r[0] for r in got} | {r[1] for r in got}
    # the at-cap buckets are scored, the over-cap ones dropped, and the
    # NULL id is never paired
    assert set(range(KNN_MAX_BUCKET)) <= ids
    assert not any(1_000 <= i < 2_000 for i in ids)
    assert None not in ids
    top = {(r[0], r[3]): r for r in got}
    assert top[3_000, 1][1:3] == (3_001, 1.0)
    assert top[3_001, 1][1:3] == (3_000, 1.0)
    # NULL cosines rank after real ones, then by neighbour id
    assert [top[3_100, r][1:3] for r in (1, 2)] == [(3_101, None), (3_102, None)]
    assert top[3_101, 1][1] == 3_102 and top[3_101, 1][2] is not None
    assert top[3_101, 2][1:3] == (3_100, None)


def test_small_cap_keeps_every_pair_once(spark):
    """max_bucket 4: a 4-member bucket is scored, a 5-member one is
    dropped, and a bucket of 3 vectors plus a NULL id (4 rows) is kept
    with the NULL never paired. With k past the degree every scored
    pair shows once in each direction, though it shares all 4 bands."""
    rng = random.Random(4)
    u = [rng.randint(-20, 20) for _ in range(DIM)]
    neg = [-x for x in u]
    w = _disjoint_base(rng, [_keys(u), _keys(neg)])
    rows = (
        [(i, x) for i, x in enumerate(_group(rng, u, 4))]
        + [(10 + i, x) for i, x in enumerate(_group(rng, neg, 5))]
        + [(20 + i, x) for i, x in enumerate(_group(rng, w, 3))]
        + [(None, w)]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], SCHEMA
    )
    got = _spark_rows(
        knn_graph(df, k=100, plane_matrix=_PLANES16, bands=KNN_BANDS, max_bucket=4)
    )
    assert got == _walk(rows, 4, 100)
    pairs = [(r[0], r[1]) for r in got]
    assert len(pairs) == len(set(pairs)) == 2 * (6 + 3)
    assert {p[0] for p in pairs} == {0, 1, 2, 3, 20, 21, 22}


def test_bucket_pairs_direct():
    """The scorer alone: ids come out ordered a<b whatever the input
    order, a NULL id is skipped, and a zero vector's cosine is NULL
    (the cap corpus checks that against the oracle)."""
    q = [[3, 4], [0, 0], [6, 8], [1, 0]]
    out = _bucket_pairs(
        pa.table(
            {
                "band": pa.array([0] * 4, pa.int32()),
                "band_key": pa.array([5] * 4, pa.int64()),
                "vec_id": pa.array([9, 2, None, 5], pa.int64()),
                "__q": pa.array(q, pa.list_(pa.int64())),
            }
        )
    ).to_pylist()
    assert out == [
        {"vec_id": 2, "neighbor_id": 5, "cosine": None},
        {"vec_id": 2, "neighbor_id": 9, "cosine": None},
        {"vec_id": 5, "neighbor_id": 9, "cosine": 3 / (1.0 * 5.0)},
    ]


def test_knn_graph_builds_without_jobs(spark, cap_corpus):
    """Building knn_graph over a pinned plane matrix runs nothing: the
    first action is the caller's (ROADMAP item 2's action-free rule)."""
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in cap_corpus], SCHEMA
    )
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = scheduler.nextJobId()
    knn_graph(
        df, k=KNN_K, plane_matrix=_PLANES16, bands=KNN_BANDS,
        max_bucket=KNN_MAX_BUCKET,
    )
    assert scheduler.nextJobId() == job0
