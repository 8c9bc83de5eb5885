"""Parity tests for the ML inference layer (SURVEY §2.10 M1–M7).

The fitted parameters are fixed JSON (extracted once from the reference
artifacts); correctness here means the Spark pipeline (JVM impute, then
the numpy z/cluster/booster UDF) reproduces an independent plain-float
numpy / scalar-Python application of those same parameters (float
tolerance: the folds sit on a 1e-6 grid), and that the numpy helper
and the oracle's SQL text give the same bits on adversarial rows.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Row

from healthcare_aws_data_engineering_spark.ml import inference as I
from healthcare_aws_data_engineering_spark.ml import params as P
from healthcare_aws_data_engineering_spark.ml.features import (
    EVENTS_ML_KEYS,
    feature_table,
)

FEATS = P.feature_names()


def _rows(n=25, missing_every=3):
    rnd = np.random.RandomState(11)
    rows = []
    for i in range(n):
        vals = {}
        for j, name in enumerate(FEATS):
            if missing_every and (i + j) % missing_every == 0:
                vals[name] = None
            else:
                vals[name] = float(np.round(rnd.uniform(0, 200), 2))
        rows.append(Row(patient_id=i, **vals))
    return rows


def _numpy_pipeline(rows):
    """Independent reimplementation: impute → scale → pca → cluster."""
    p = P.sklearn_pipeline()
    med = np.array(p["imputer"]["statistics"])
    mu = np.array(p["scaler"]["mean"])
    sc = np.array(p["scaler"]["scale"])
    pmean = np.array(p["pca"]["mean"])
    comp = np.array(p["pca"]["components"])  # (14, 19)
    centers = np.array(p["kmeans"]["centers"])  # (4, 14)

    X = np.array(
        [[np.nan if r[n] is None else r[n] for n in FEATS] for r in rows],
        dtype=np.float64,
    )
    X = np.where(np.isnan(X), med, X)
    Xs = (X - mu) / sc
    Z = (Xs - pmean) @ comp.T
    d = ((Z[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    cluster = d.argmin(axis=1)
    return Z, cluster


def test_preprocess_matches_numpy(spark):
    rows = _rows()
    df = spark.createDataFrame(rows)
    out = {r.patient_id: r for r in I.preprocess(df).collect()}
    Z, cluster = _numpy_pipeline(rows)
    for i, r in enumerate(rows):
        got = out[r.patient_id]
        for j in range(Z.shape[1]):
            assert got[f"z{j}"] == pytest.approx(Z[i, j], abs=2e-5), (i, j)
        assert got.cluster == cluster[i], i


def _scalar_xgb(disease: str, x: list[float]) -> float:
    """Row-at-a-time booster walk, independent of the vectorized path."""
    base, trees = P.xgb_trees(disease)
    margin = math.log(base / (1.0 - base))
    for left, right, feat, cond, dleft in trees:
        i = 0
        while left[i] != -1:
            v = x[feat[i]]
            if v is None or (isinstance(v, float) and math.isnan(v)):
                i = left[i] if dleft[i] else right[i]
            elif v < cond[i]:
                i = left[i]
            else:
                i = right[i]
        margin += float(cond[i])
    return 1.0 / (1.0 + math.exp(-margin))


@pytest.mark.parametrize("disease", P.DISEASES)
def test_xgb_udf_matches_scalar_walk(spark, disease):
    """The scoring UDF (cluster and boosters from the 19 imputed
    features) against the independent numpy pipeline's cluster plus a
    row-at-a-time booster walk on the float32 model inputs."""
    rows = _rows(n=8)
    out = {r.patient_id: r for r in I.predict_diseases(spark.createDataFrame(rows)).collect()}
    _, cluster = _numpy_pipeline(rows)
    med = dict(zip(FEATS, P.sklearn_pipeline()["imputer"]["statistics"]))
    for i, r in enumerate(rows):
        x = [
            float(cluster[i]) if n == "cluster" else (med[n] if r[n] is None else r[n])
            for n in P.model_features()
        ]
        x32 = [float(np.float32(v)) for v in x]
        assert out[i].cluster == cluster[i], i
        got = out[i][f"prob_{disease}"]
        assert got == pytest.approx(_scalar_xgb(disease, x32), abs=1e-6), i
        assert 0.0 <= got <= 1.0


def test_predict_diseases_schema_and_flags(spark):
    df = spark.createDataFrame(_rows(n=6, missing_every=0))
    out = I.predict_diseases(df).collect()
    assert len(out) == 6
    for r in out:
        for d in P.DISEASES:
            p = r[f"prob_{d}"]
            assert 0.0 <= p <= 1.0
            assert r[f"flag_{d}"] == int(p >= 0.5)
            assert r[f"risk_{d}"] == ("Low" if p < 0.25 else "Moderate" if p < 0.5 else "High")
        assert r.cluster in (0, 1, 2, 3)


def test_feature_table_latest_tiebreak(spark):
    """Latest value per (user, event_type) with (ts, event_id) tie-break;
    absent labs NULL; age/sex derived from the customer key."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 6, 1)
    events = spark.createDataFrame(
        [
            Row(event_id=1, ts=t0, user_id=0, event_type="click", value=1.0, props=""),
            Row(event_id=2, ts=t1, user_id=0, event_type="click", value=2.0, props=""),
            # tie on ts → higher event_id wins
            Row(event_id=3, ts=t1, user_id=0, event_type="view", value=7.0, props=""),
            Row(event_id=4, ts=t1, user_id=0, event_type="view", value=9.0, props=""),
        ]
    )
    customer = spark.createDataFrame(
        [Row(c_custkey=0, c_name="x", c_nationkey=1, c_acctbal=0.0, c_mktsegment="A"),
         Row(c_custkey=7, c_name="y", c_nationkey=1, c_acctbal=0.0, c_mktsegment="A")]
    )
    out = {r.patient_id: r for r in feature_table(events, customer).collect()}
    assert out[0].glucose_latest == 2.0  # click, later ts wins
    assert out[0].hdl_latest == 9.0  # view, ts tie → event_id 4
    assert out[0].age == 20.0 and out[0].sex == 0.0
    assert out[7].age == 27.0 and out[7].sex == 1.0
    assert out[7].glucose_latest is None  # no events for user 7
    # labs with no events analog exist and are NULL
    assert out[0].albumin_latest is None
    assert set(EVENTS_ML_KEYS) < set(FEATS)


def test_float_literal_forces_double_parse_path():
    """DuckDB parses a bare 16-digit literal as DECIMAL, and its
    DECIMAL->DOUBLE conversion is not correctly rounded (bare
    0.9700000286102295 lands one ulp high), which flipped an XGB split
    for feature values exactly AT the split threshold — caught at sf0.1.
    double_lit() must emit an exponent suffix so both engines take the
    correctly-rounded string->DOUBLE path."""
    import duckdb
    import numpy as np

    from healthcare_aws_data_engineering_spark.functions.sqltext import double_lit

    v = float(np.float32(0.97))  # the offending value from the field
    lit = double_lit(v)
    assert "e" in lit or "E" in lit
    got = duckdb.sql(f"SELECT {lit}").fetchone()[0]
    assert repr(got) == repr(v), (lit, got, v)
    # scientific reprs pass through un-mangled
    assert double_lit(1e-05) == "1e-05"
    # and the bare-literal failure mode stays documented: DECIMAL parse
    # of the same digits mis-rounds
    bare = duckdb.sql(f"SELECT CAST({repr(v)} AS DOUBLE)").fetchone()[0]
    assert repr(bare) != repr(v)


# ------------------------------------------- micro-unit grid exactness --
# An age whose component-0 PCA term lands exactly on a half micro-unit
# (term × 1e6 == 1064.5 in IEEE double), found by an ulp search around
# the exact solution of c · ((age − μ) / σ − m) = 1064.5e-6.
HALF_MICRO_AGE = 42.3928683047665


def _adversarial_rows() -> list[dict]:
    """All-NULL (every feature takes its median), a half-micro-unit term,
    large |x| (distance terms past 2^53 micro-units, so FLOOR and the
    BIGINT → DOUBLE cast both work at the edge of double precision), then
    random rows with NULLs."""
    nulls = dict.fromkeys(FEATS)
    big = {n: (1e4 if j % 2 else -1e4) for j, n in enumerate(FEATS)}
    return [
        nulls,
        {**nulls, "age": HALF_MICRO_AGE},
        big,
        {n: -v for n, v in big.items()},
        *({n: r[n] for n in FEATS} for r in _rows(n=12)),
    ]


def _imputed(rows: list[dict]) -> np.ndarray:
    med = P.sklearn_pipeline()["imputer"]["statistics"]
    return np.array(
        [[m if r[n] is None else r[n] for n, m in zip(FEATS, med)] for r in rows]
    )


def _z_sql() -> list[str]:
    return [f"{e} AS z{j}" for j, e in enumerate(I.pca_sql_exprs())]


def _duckdb_pca_kmeans(rows: list[dict]) -> tuple[np.ndarray, list[int]]:
    """The oracle's SQL text (pca_sql_exprs, kmeans_sql_expr) in DuckDB."""
    import duckdb
    import pyarrow as pa

    znames = [f"z{j}" for j in range(len(I.pca_sql_exprs()))]
    con = duckdb.connect()
    con.register(
        "t",
        pa.table(
            {
                "patient_id": list(range(len(rows))),
                **{n: pa.array([r[n] for r in rows], pa.float64()) for n in FEATS},
            }
        ),
    )
    out = con.execute(
        f"WITH z AS (SELECT patient_id, {', '.join(_z_sql())} FROM t) "
        f"SELECT {', '.join(znames)}, {I.kmeans_sql_expr(znames)} AS cluster "
        "FROM z ORDER BY patient_id"
    ).fetchall()
    return np.array([r[:-1] for r in out]), [r[-1] for r in out]


def _bits(a) -> list[int]:
    return np.asarray(a, dtype=np.float64).view(np.int64).ravel().tolist()


def _spark_rows(spark, rows: list[dict]):
    return spark.createDataFrame(
        [(i, *(r[n] for n in FEATS)) for i, r in enumerate(rows)],
        "patient_id long, " + ", ".join(f"{n} double" for n in FEATS),
    )


def test_micro_grid_numpy_matches_duckdb_and_spark_bit_for_bit(spark):
    """The numpy helper, the oracle's SQL text in DuckDB, the same text in
    Spark SQL, and the query's UDF path give the same z bits and cluster
    on adversarial rows."""
    p = P.sklearn_pipeline()
    i = FEATS.index("age")
    term = p["pca"]["components"][0][i] * (
        (HALF_MICRO_AGE - p["scaler"]["mean"][i]) / p["scaler"]["scale"][i]
        - p["pca"]["mean"][i]
    )
    assert term * 1e6 == 1064.5
    rows = _adversarial_rows()
    z, cluster = I._pca_kmeans(_imputed(rows))
    big = z[2:4, None, :] - np.asarray(p["kmeans"]["centers"])[None, :, :]
    assert (np.floor(big * big * 1e6 + 0.5).sum(axis=2) > 2**53).all()

    z_duck, cluster_duck = _duckdb_pca_kmeans(rows)
    assert _bits(z) == _bits(z_duck)
    assert cluster.tolist() == cluster_duck

    df = _spark_rows(spark, rows)
    z_spark = df.selectExpr("patient_id", *_z_sql()).orderBy("patient_id").collect()
    assert _bits(z) == _bits([list(r)[1:] for r in z_spark])
    pre = I.preprocess(df).orderBy("patient_id").collect()
    assert _bits(z) == _bits([[r[f"z{j}"] for j in range(z.shape[1])] for r in pre])
    assert cluster.tolist() == [r.cluster for r in pre]


def test_kmeans_tie_goes_to_the_lowest_index_in_both_engines(monkeypatch):
    """Centres laid out as [c0, c1, c1, c0]: every row is at exactly equal
    distance from two centres, and both numpy and DuckDB must pick the
    lower index (0 or 1, never 2 or 3)."""
    p = P.sklearn_pipeline()
    c = p["kmeans"]["centers"]
    tied = {**p, "kmeans": {**p["kmeans"], "centers": [c[0], c[1], c[1], c[0]]}}
    monkeypatch.setattr(I, "sklearn_pipeline", lambda: tied)
    rows = _adversarial_rows()
    _, cluster = I._pca_kmeans(_imputed(rows))
    assert set(cluster.tolist()) == {0, 1}
    assert cluster.tolist() == _duckdb_pca_kmeans(rows)[1]
