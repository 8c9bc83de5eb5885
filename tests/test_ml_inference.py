"""Parity tests for the ML inference layer (SURVEY §2.10 M1–M7).

The fitted parameters are fixed JSON (extracted once from the reference
artifacts); correctness here means the Spark column-math / UDF pipeline
reproduces an independent numpy/scalar-Python application of those same
parameters (float tolerance; the decimal fold quantizes at 1e-6).
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
    mf = P.model_features()
    rnd = np.random.RandomState(5)
    rows = []
    for i in range(8):
        vals = {n: float(np.round(rnd.uniform(0, 150), 2)) for n in mf}
        vals["cluster"] = float(i % 4)
        vals["sex"] = float(i % 2)
        if i == 3:  # exercise missing-value routing (default_left)
            vals["hdl_latest"] = float("nan")
        rows.append(Row(rid=i, **vals))
    df = spark.createDataFrame(rows)
    out = {
        r.rid: r.p
        for r in df.select(
            "rid", I.xgb_probabilities_all(mf)[disease].alias("p")
        ).collect()
    }
    for r in rows:
        x = [r[n] for n in mf]
        # the UDF casts inputs to float32 like xgboost's DMatrix ingest
        x32 = [None if math.isnan(v) else float(np.float32(v)) for v in x]
        assert out[r.rid] == pytest.approx(_scalar_xgb(disease, x32), abs=1e-6), r.rid
        assert 0.0 <= out[r.rid] <= 1.0


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


def test_fast_path_matches_parity(spark):
    """parity=False (plain-double folds) vs the DECIMAL(18,6) oracle
    grid: the parity fold quantizes each of the 19 terms at 1e-6, so z
    components may differ by up to ~1e-5 (n_terms x half-ulp of the
    grid); clusters must agree exactly, and probabilities to 1e-9 (the
    XGBoost features are the raw imputed values — parity only touches
    z/cluster)."""
    df = spark.createDataFrame(_rows(n=40))
    zp = {r.patient_id: r for r in I.preprocess(df, parity=True).collect()}
    zf = {r.patient_id: r for r in I.preprocess(df, parity=False).collect()}
    znames = [f"z{j}" for j in range(len(P.sklearn_pipeline()["pca"]["components"]))]
    for pid, rp in zp.items():
        rf = zf[pid]
        assert rp.cluster == rf.cluster
        for z in znames:
            assert abs(rp[z] - rf[z]) < 2e-5, (pid, z)
    sp = {r.patient_id: r for r in I.predict_diseases(df, parity=True).collect()}
    sf = {r.patient_id: r for r in I.predict_diseases(df, parity=False).collect()}
    for pid, rp in sp.items():
        rf = sf[pid]
        assert rp.cluster == rf.cluster
        for d in I.DISEASES:
            assert abs(rp[f"prob_{d}"] - rf[f"prob_{d}"]) < 1e-9, (pid, d)
            assert rp[f"risk_{d}"] == rf[f"risk_{d}"]


def test_fast_path_matches_parity_on_bench_inputs(spark):
    """r8 (r7 verdict optional #9): the SAME pin as above, but over the
    exact inputs bench.py's unoracled ``ml_preprocess_fast`` /
    ``ml_risk_scores_fast`` rows run on — the driver-testdata feature
    frame at sf0.001 — so the benched fast rows are verified against the
    oracled parity path on their real inputs, not just synthetic rows.
    Identity modulo rounding: clusters and risk bands exact,
    probabilities to 1e-9, z to the parity grid's quantization bound."""
    from healthcare_aws_data_engineering_spark.plans.ml_queries import _features

    df = _features(spark, "/root/testdata/sf0.001").cache()
    try:
        zp = {r.patient_id: r for r in I.preprocess(df, parity=True).collect()}
        zf = {r.patient_id: r for r in I.preprocess(df, parity=False).collect()}
        assert zp and set(zp) == set(zf)
        znames = [
            f"z{j}" for j in range(len(P.sklearn_pipeline()["pca"]["components"]))
        ]
        for pid, rp in zp.items():
            rf = zf[pid]
            assert rp.cluster == rf.cluster
            for z in znames:
                assert abs(rp[z] - rf[z]) < 2e-5, (pid, z)
        sp = {r.patient_id: r for r in I.predict_diseases(df, parity=True).collect()}
        sf = {r.patient_id: r for r in I.predict_diseases(df, parity=False).collect()}
        for pid, rp in sp.items():
            rf = sf[pid]
            for d in I.DISEASES:
                assert abs(rp[f"prob_{d}"] - rf[f"prob_{d}"]) < 1e-9, (pid, d)
                assert rp[f"risk_{d}"] == rf[f"risk_{d}"]
    finally:
        df.unpersist()


def test_float_literal_forces_double_parse_path():
    """DuckDB parses a bare 16-digit literal as DECIMAL, and its
    DECIMAL->DOUBLE conversion is not correctly rounded (bare
    0.9700000286102295 lands one ulp high), which flipped an XGB split
    for feature values exactly AT the split threshold — caught at sf0.1.
    _f() must emit an exponent suffix so both engines take the
    correctly-rounded string->DOUBLE path."""
    import duckdb
    import numpy as np

    from healthcare_aws_data_engineering_spark.ml.inference import _f

    v = float(np.float32(0.97))  # the offending value from the field
    lit = _f(v)
    assert "e" in lit or "E" in lit
    got = duckdb.sql(f"SELECT {lit}").fetchone()[0]
    assert repr(got) == repr(v), (lit, got, v)
    # scientific reprs pass through un-mangled
    assert _f(1e-05) == "1e-05"
    # and the bare-literal failure mode stays documented: DECIMAL parse
    # of the same digits mis-rounds
    bare = duckdb.sql(f"SELECT CAST({repr(v)} AS DOUBLE)").fetchone()[0]
    assert repr(bare) != repr(v)
