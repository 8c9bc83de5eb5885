"""Independent ground truth for the XGB scorer (SURVEY §2.10 M5).

The production scorer (``inference._score_matrix``) is a stacked-array
numpy traversal; a bug in its routing (missing→default_left, the strict
``x < cond``, leaf self-loops) or margin math (base_score logit, leaf
accumulation, sigmoid) could be self-consistent with the scalar twin it
was previously tested against. This file pins an INDEPENDENT oracle:

1. a from-scratch recursive walker over the RAW booster JSON (the
   xgboost dump format: leaf iff left == -1, leaf value stored in cond,
   missing routes default_left, ``x < cond`` goes left) — no shared code
   with the numpy implementation;
2. structurally FORCED paths: -inf routes left at every split, +inf
   right, NaN along default_left — these exercise every routing rule
   without depending on comparison outcomes;
3. GOLDEN probabilities computed once from the independent walker and
   pinned as literals — a regression in either implementation breaks the
   pin, and agreement of two independently-written traversals is the
   strongest ground truth available without the xgboost runtime
   (reference test.py:324-343 scores with real xgboost).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from healthcare_aws_data_engineering_spark.ml.inference import (
    _ROW_BLOCK,
    _score_matrix,
    _stacked_booster,
    predict_diseases,
)
from healthcare_aws_data_engineering_spark.ml.params import (
    DISEASES,
    feature_names,
    model_features,
    sklearn_pipeline,
    xgb_model,
    xgb_trees,
)


# ---------------------------------------------------- independent walker --
def _walk_raw(tree: dict, x: list[float]) -> float:
    """Recursive spec walker on the raw JSON dict (independent of the
    numpy stacked traversal). Split conditions and leaf weights quantize
    to float32 first: the reference artifact stores decimal-rounded
    values, and xgboost loads both into float32 tensors, so float32 is
    the faithful comparison/accumulation grid (the extracted params keep
    float64 JSON; the scorer casts on load)."""
    i = 0
    while tree["left"][i] != -1:
        v = x[tree["feat"][i]]
        cond32 = float(np.float32(tree["cond"][i]))
        if v is None or (isinstance(v, float) and math.isnan(v)):
            go_left = bool(tree["default_left"][i])
        else:
            go_left = float(np.float32(v)) < cond32
        i = tree["left"][i] if go_left else tree["right"][i]
    return float(np.float32(tree["cond"][i]))


def _prob_raw(disease: str, x: list[float]) -> float:
    m = xgb_model(disease)
    margin = math.log(m["base_score"] / (1.0 - m["base_score"]))
    for t in m["trees"]:
        margin += _walk_raw(t, x)
    return 1.0 / (1.0 + math.exp(-margin))


def _score_one(disease: str, x: list[float]) -> float:
    X = np.asarray([x], dtype=np.float32)
    return float(_score_matrix(X, disease)[0])


NF = len(model_features())

# Golden pins: probabilities from the independent raw-JSON walker
# (generation documented in the module docstring; vectors on the float32
# grid because the scoring UDF casts batches to float32).
GOLDEN_FORCED = {
    # every feature NaN → default_left at every split (+ base_score logit)
    "all_nan": {
        "cvd": 6.734933078290726e-05,
        "anemia": 6.393949893755207e-05,
        "ckd": 3.039096733728598e-05,
    },
    # -inf < cond always true → structurally forced all-left paths
    "all_neginf": {
        "cvd": 0.200788961879569,
        "anemia": 0.26838000508512566,
        "ckd": 0.9717362912084528,
    },
    # +inf < cond always false → structurally forced all-right paths
    "all_posinf": {
        "cvd": 0.07476680189732772,
        "anemia": 0.02917938512065842,
        "ckd": 0.0037815610757912063,
    },
}
FORCED_VECTORS = {
    "all_nan": [float("nan")] * NF,
    "all_neginf": [float("-inf")] * NF,
    "all_posinf": [float("inf")] * NF,
}

GOLDEN_RANDOM = {
    "rand0": {"cvd": 0.2086004485408038, "anemia": 0.3455267979556117, "ckd": 0.944876658228952},
    "rand1": {"cvd": 0.62937676047629, "anemia": 0.06434798660349865, "ckd": 0.9864805209899171},
    "rand2": {"cvd": 0.11579022342175799, "anemia": 0.3755078636091264, "ckd": 0.9225789340510051},
    "rand3": {"cvd": 0.07021994005051345, "anemia": 0.8016206405575201, "ckd": 0.04121559547017949},
    "rand4": {"cvd": 0.5050387447606508, "anemia": 0.6746783906123213, "ckd": 0.974906620017175},
    "rand5": {"cvd": 0.02441583543552996, "anemia": 0.6254385493527842, "ckd": 0.00023202224791141234},
}
RANDOM_VECTORS = {
    "rand0": [1.1210275888442993, float("nan"), float("nan"), 2.441570281982422, 0.10044905543327332, 0.3833765387535095, -0.6330506801605225, 1.086223840713501, -0.8202016353607178, -0.36960771679878235, 1.1401851177215576, 1.4653977155685425, 0.9891571998596191, -1.5456703901290894],
    "rand1": [float("nan"), 0.6230683326721191, -1.4397499561309814, -1.1213454008102417, -1.2239445447921753, -0.5993049740791321, 1.143491506576538, -2.123051881790161, 3.570650100708008, -2.9899845123291016, float("nan"), 2.5443015098571777, 0.34341710805892944, -0.7913205623626709],
    "rand2": [-2.1003763675689697, 1.5598981380462646, float("nan"), -1.5458506345748901, -1.104713797569275, 0.23369348049163818, -0.38503679633140564, 0.9016430377960205, float("nan"), -1.2487695217132568, -1.0774637460708618, 0.9982133507728577, -0.7999139428138733, -1.3647732734680176],
    "rand3": [-0.6456934213638306, 0.08347616344690323, -1.2356387376785278, 0.5388514995574951, 0.5456880927085876, -0.37880855798721313, float("nan"), float("nan"), -1.9923819303512573, 0.6255508661270142, 1.8643497228622437, -0.7470918297767639, float("nan"), -2.803598403930664],
    "rand4": [float("nan"), -0.0939275249838829, float("nan"), -0.8610416650772095, float("nan"), 0.5112974047660828, 0.5459150671958923, 0.33699923753738403, -1.6468031406402588, -2.112666130065918, 0.41751939058303833, 2.39961576461792, -3.180556535720825, float("nan")],
    "rand5": [-0.32232487201690674, 0.5792120695114136, -1.1385551691055298, 0.660323977470398, float("nan"), float("nan"), -0.4537550210952759, float("nan"), 0.21787835657596588, -1.2418618202209473, -0.18604181706905365, float("nan"), float("nan"), 2.36466908454895],
}


@pytest.mark.parametrize("case", list(GOLDEN_FORCED))
@pytest.mark.parametrize("disease", DISEASES)
def test_forced_paths_match_golden(case, disease):
    """Structurally forced routing (all-left / all-right / all-default):
    both the raw-JSON walker and the production scorer must reproduce the
    pinned probability — covers default_left handling, strict x < cond,
    base_score margin, and sigmoid in one assertion each."""
    x = FORCED_VECTORS[case]
    want = GOLDEN_FORCED[case][disease]
    assert _prob_raw(disease, x) == pytest.approx(want, abs=1e-12)
    assert _score_one(disease, x) == pytest.approx(want, abs=1e-10)


@pytest.mark.parametrize("case", list(GOLDEN_RANDOM))
@pytest.mark.parametrize("disease", DISEASES)
def test_random_vectors_match_golden(case, disease):
    """Pinned mixed NaN/value vectors on the float32 grid: independent
    walker and production scorer agree with the golden literals."""
    x = RANDOM_VECTORS[case]
    want = GOLDEN_RANDOM[case][disease]
    assert _prob_raw(disease, x) == pytest.approx(want, abs=1e-12)
    assert _score_one(disease, x) == pytest.approx(want, abs=1e-10)


def test_batch_consistency_with_walker():
    """The full batch path (one matrix, many rows) equals the per-row
    walker for every pinned vector — catches row-mixing/indexing bugs in
    the stacked traversal that single-row calls cannot."""
    names = list(RANDOM_VECTORS) + list(FORCED_VECTORS)
    X = np.asarray(
        [RANDOM_VECTORS.get(n) or FORCED_VECTORS[n] for n in names],
        dtype=np.float32,
    )
    for d in DISEASES:
        got = _score_matrix(X, d)
        for i, n in enumerate(names):
            assert got[i] == pytest.approx(
                _prob_raw(d, list(X[i].astype(float))), abs=1e-9
            ), (d, n)


# Golden pins for the whole scoring UDF: 19 raw features (None → the
# stored median) → cluster and the three probabilities. Pinned from an
# independent chain: plain float64 impute → scale → PCA matmul → argmin
# (``_cluster_raw``, no micro-unit grid; each case's runner-up centre is
# more than 1 distance unit further, so the grid cannot move the
# cluster), then the raw-JSON walker on the float32 model vector.
GOLDEN_PATIENTS = {
    "all_null": (
        [None] * 19,
        0,
        {"cvd": 0.3722273462529585, "anemia": 0.5382638295139915, "ckd": 0.0008576050484951959},
    ),
    "patient_a": (
        [36.718, 1.0, 5.315, None, 158.896, 1.296, 10.142, 257.399, 1.363, 74.753, 56.576, 8.083, None, None, 9.365, 107.264, None, 15.67, None],
        1,
        {"cvd": 0.2668511423005681, "anemia": 0.8913057597336977, "ckd": 0.004042722058292415},
    ),
    "patient_b": (
        [74.496, 1.0, 6.172, 132.355, 247.659, 1.528, 17.803, None, 0.799, 52.074, 53.097, 6.949, 46.841, 50.637, 9.912, None, 5.821, 7.909, None],
        3,
        {"cvd": 0.734827395139073, "anemia": 0.98199921732378, "ckd": 0.009463662377818333},
    ),
}


def _cluster_raw(x: list[float | None]) -> tuple[int, list[float]]:
    """Plain float64 M1–M4 (no micro-unit grid): (cluster, imputed x)."""
    p = sklearn_pipeline()
    X = np.array(
        [m if v is None else v for v, m in zip(x, p["imputer"]["statistics"])]
    )
    scaled = (X - np.array(p["scaler"]["mean"])) / np.array(p["scaler"]["scale"])
    z = np.array(p["pca"]["components"]) @ (scaled - np.array(p["pca"]["mean"]))
    d = ((z[None, :] - np.array(p["kmeans"]["centers"])) ** 2).sum(axis=1)
    return int(d.argmin()), list(X)


def test_scoring_udf_matches_golden(spark):
    """The query's scoring path (``predict_diseases``: JVM impute, then
    the pandas UDF running z/cluster and all three boosters) reproduces
    every golden patient through Spark and Arrow; the independent chain
    reproduces the pins too."""
    names = feature_names()
    mf = model_features()
    for case, (x, cluster, want) in GOLDEN_PATIENTS.items():
        got_cluster, imputed = _cluster_raw(x)
        assert got_cluster == cluster, case
        vec = [float(cluster) if n == "cluster" else imputed[names.index(n)] for n in mf]
        vec32 = [float(np.float32(v)) for v in vec]
        for d in DISEASES:
            assert _prob_raw(d, vec32) == pytest.approx(want[d], abs=1e-12), (case, d)
    df = spark.createDataFrame(
        [(case, *x) for case, (x, _, _) in GOLDEN_PATIENTS.items()],
        "patient_id string, " + ", ".join(f"{n} double" for n in names),
    )
    out = {r.patient_id: r for r in predict_diseases(df).collect()}
    assert set(out) == set(GOLDEN_PATIENTS)
    for case, (_, cluster, want) in GOLDEN_PATIENTS.items():
        assert out[case].cluster == cluster, case
        for d in DISEASES:
            assert out[case][f"prob_{d}"] == pytest.approx(want[d], abs=1e-10), (case, d)


# ------------------------------------------- kernel vs a per-tree loop --
def _per_tree_probs(X, disease: str):
    """Plain per-tree numpy walk over the unstacked trees: every row
    starts at node 0 of one tree and advances until all rows sit on a
    leaf; the leaves land in an (n × trees) float64 matrix summed along
    axis 1. Also counts the routing cases the rows exercised: a value
    equal to its split's threshold, and NaN at nodes whose default is
    left and right."""
    base, trees = xgb_trees(disease)
    n = X.shape[0]
    rows = np.arange(n)
    leaves = np.empty((n, len(trees)))
    hits = {"equal": 0, "nan_left": 0, "nan_right": 0}
    for t, (left, right, feat, cond, dleft) in enumerate(trees):
        node = np.zeros(n, dtype=np.int64)
        while True:
            inner = left[node] != -1
            if not inner.any():
                break
            x = X[rows, np.where(inner, feat[node], 0)]
            nan = np.isnan(x) & inner
            hits["equal"] += int((inner & (x == cond[node])).sum())
            hits["nan_left"] += int((nan & dleft[node]).sum())
            hits["nan_right"] += int((nan & ~dleft[node]).sum())
            go_left = np.where(np.isnan(x), dleft[node], x < cond[node])
            node = np.where(inner, np.where(go_left, left[node], right[node]), node)
        leaves[:, t] = cond[node]
    margin = math.log(base / (1.0 - base)) + leaves.sum(axis=1)
    return 1.0 / (1.0 + np.exp(-margin)), hits


def _adversarial_rows(n: int, with_nan: bool):
    """Rows on the float32 grid whose every feature but the cluster id
    takes one of that feature's split thresholds (so comparisons hit
    ``x == cond``, which must go right), with ±inf and, when asked, NaN
    sprinkled in; the cluster column holds ids 0-3."""
    rng = np.random.default_rng(17)
    conds: dict[int, list] = {}
    for d in DISEASES:
        for left, _, feat, cond, _ in xgb_trees(d)[1]:
            for i in np.flatnonzero(left != -1):
                conds.setdefault(int(feat[i]), []).append(cond[i])
    X = rng.normal(size=(n, NF)).astype(np.float32)
    for j, vals in conds.items():
        X[:, j] = rng.choice(np.asarray(vals, dtype=np.float32), n)
    X[rng.random(X.shape) < 0.03] = np.inf
    X[rng.random(X.shape) < 0.03] = -np.inf
    if with_nan:
        X[rng.random(X.shape) < 0.1] = np.nan
    X[:, model_features().index("cluster")] = rng.integers(0, 4, n)
    return X


@pytest.mark.parametrize("with_nan", [False, True], ids=["no_nan", "nan"])
@pytest.mark.parametrize(
    "n", [0, 1, _ROW_BLOCK - 1, _ROW_BLOCK, _ROW_BLOCK + 1, 10_000]
)
def test_kernel_bits_equal_per_tree_loop(n, with_nan):
    """The blocked lock-step kernel gives the per-tree loop's exact bits
    at every batch size around the row block, with and without the
    missing-value path, on rows built to hit the routing edge cases."""
    X = _adversarial_rows(n, with_nan)
    for d in DISEASES:
        want, hits = _per_tree_probs(X, d)
        got = _score_matrix(X, d)
        assert got.dtype == np.float64 and got.shape == (n,)
        assert np.array_equal(got.view(np.int64), want.view(np.int64)), d
        if n >= _ROW_BLOCK:
            assert hits["equal"] > 0, (d, hits)
            assert (hits["nan_left"] > 0 and hits["nan_right"] > 0) == with_nan, (d, hits)


def test_boosters_compile_once_per_process():
    """Repeated scoring calls reuse each disease's compiled node table:
    the compile is what a Python worker would otherwise pay per task."""
    _stacked_booster.cache_clear()
    X = _adversarial_rows(8, with_nan=True)
    for _ in range(3):
        for d in DISEASES:
            _score_matrix(X, d)
    assert _stacked_booster.cache_info().misses == len(DISEASES)
