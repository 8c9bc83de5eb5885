"""Tests for the training-data extension operators (SURVEY §7.2 step 7):
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search
(brute-force + LSH), and text analysis.

These are extensions beyond the reference (which has no dedup/similarity
ops); correctness is defined against plain-Python reimplementations on
small synthetic corpora, plus recall checks of the approximate paths
against their exact counterparts.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row, functions as F

from healthcare_aws_data_engineering_spark.operators import dedup as D
from healthcare_aws_data_engineering_spark.operators import similarity as S
from healthcare_aws_data_engineering_spark.operators import text as T


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "pack my box with five dozen liquor jugs"),
    (3, "pack my box with five dozen liquor jugs"),  # exact dup of 2
    (4, "sphinx of black quartz judge my vow"),
    (5, "completely unrelated text about spark dataframes and shuffles"),
    (6, "the quick brown fox jumps over the lazy dog today"),  # near-dup of 0
]


def _py_shingles(text: str, n: int = 3) -> set[str]:
    ws = text.split()
    if len(ws) < n:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def _py_jaccard(a: str, b: str) -> float:
    sa, sb = _py_shingles(a), _py_shingles(b)
    return len(sa & sb) / max(len(sa | sb), 1)


# ------------------------------------------------------------------ exact --
def test_exact_dedup_groups(spark):
    out = D.exact_dedup(_docs(spark, CORPUS)).collect()
    assert len(out) == len(CORPUS) - 1  # one row per distinct content
    (g,) = [r for r in out if r.dup_count >= 2]
    assert g.keep_id == 2 and g.dup_count == 2
    assert sorted(r.keep_id for r in out if r.dup_count == 1) == [0, 1, 4, 5, 6]


def test_exact_dedup_normalization(spark):
    rows = [(0, "Hello,  World!"), (1, "hello world"), (2, "other")]
    out = D.exact_dedup(_docs(spark, rows)).collect()
    assert sorted((r.keep_id, r.dup_count) for r in out) == [(0, 2), (2, 1)]


# --------------------------------------------------------------- shingles --
def test_word_shingles_matches_python(spark):
    df = _docs(spark, CORPUS).select(
        "doc_id", D.word_shingles(F.col("text")).alias("sh")
    )
    for r in df.collect():
        assert set(r.sh) == _py_shingles(CORPUS[r.doc_id][1]), r.doc_id


def test_word_shingles_short_text(spark):
    df = _docs(spark, [(0, "two words"), (1, "one")]).select(
        D.word_shingles(F.col("text")).alias("sh")
    )
    out = [r.sh for r in df.collect()]
    assert out == [["two words"], ["one"]]


# ---------------------------------------------------------------- minhash --
def _py_bucket_pairs(keys: dict, max_bucket: int) -> set:
    """All id pairs a < b that share a (band, key) bucket of 2..max_bucket
    members — the bucket self-join of ``dedup._bucket_cap`` callers."""
    buckets: dict = {}
    for doc, ks in keys.items():
        for band, k in enumerate(ks):
            buckets.setdefault((band, k), []).append(doc)
    return {
        (a, b)
        for members in buckets.values()
        if 2 <= len(members) <= max_bucket
        for a in members
        for b in members
        if a < b
    }


def test_minhash_signature_is_min_of_shingle_hashes(spark):
    """minhash_lsh_pairs(backend="md5") replayed in plain Python: each
    signature entry is the min over md5(shingle + '#perm') hex digests,
    each band key is md5 of its rows joined by '|', and the pairs are
    the capped bucket self-join — at the registry's 6 perms, 3 bands."""
    import random

    rnd = random.Random(3)
    words = "alpha beta gamma".split()
    # small-vocabulary docs share many shingles, so many bands collide
    rows = CORPUS + [
        (100 + i, " ".join(rnd.choice(words) for _ in range(8))) for i in range(30)
    ]
    num_perm, bands, r = 6, 3, 2
    keys = {}
    for doc, text in rows:
        sh = _py_shingles(text)
        sig = [
            min(hashlib.md5((s + f"#{p}").encode()).hexdigest() for s in sh)
            for p in range(num_perm)
        ]
        keys[doc] = [
            hashlib.md5("|".join(sig[b * r : (b + 1) * r]).encode()).hexdigest()
            for b in range(bands)
        ]
    got = {
        (row.doc_a, row.doc_b)
        for row in D.minhash_lsh_pairs(
            _docs(spark, rows), num_perm=num_perm, bands=bands,
            backend="md5", max_bucket=50,
        ).collect()
    }
    assert got == _py_bucket_pairs(keys, 50)
    assert (2, 3) in got and len(got) > 20


@pytest.mark.parametrize("backend", ["xxhash64", "md5"])
def test_minhash_lsh_finds_near_dups(spark, backend):
    docs = _docs(spark, CORPUS)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(
            docs, num_perm=8, bands=8, backend=backend
        ).collect()
    }
    # bands=8, rows=1 → candidate iff ANY single minhash matches; the exact
    # dup pair must always collide, the j≈0.8 pair virtually always.
    assert (2, 3) in pairs
    assert (0, 6) in pairs
    # unrelated docs (zero shared shingles) can never share a minhash
    assert not any(5 in p for p in pairs)


def test_minhash_lsh_deterministic_across_invocations(spark):
    """Regression: plan-construction must not leak fresh-variable names
    into hashed literals (the two-arg-lambda index-binding trap)."""
    docs = _docs(spark, CORPUS)
    runs = [
        frozenset(
            (r.doc_a, r.doc_b)
            for r in D.minhash_lsh_pairs(
                docs, num_perm=8, bands=4, backend="xxhash64"
            ).collect()
        )
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]


# ---------------------------------------------------------------- jaccard --
def test_ngram_jaccard_matches_python(spark):
    docs = _docs(spark, CORPUS)
    pairs = spark.createDataFrame(
        [Row(doc_a=0, doc_b=1), Row(doc_a=0, doc_b=6), Row(doc_a=2, doc_b=3)]
    )
    out = {(r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard(docs, pairs).collect()}
    for (a, b), j in out.items():
        assert j == pytest.approx(_py_jaccard(CORPUS[a][1], CORPUS[b][1]))
    assert out[(2, 3)] == 1.0


# ---------------------------------------------------------------- simhash --
def test_simhash_exact_dup_zero_hamming(spark):
    """simhash_pairs replayed in plain Python: 32 bit votes from the first
    8 hex digits of md5(shingle), sign-packed, banded 4 × 8 bits, capped
    bucket self-join, Hamming-verified."""
    bands, width, max_hamming = 4, 8, 10
    sig = {}
    for doc, text in CORPUS:
        votes = [0] * 32
        for s in _py_shingles(text):
            h = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
            for i in range(32):
                votes[i] += 1 if (h >> i) & 1 else -1
        sig[doc] = sum(1 << i for i in range(32) if votes[i] > 0)
    keys = {
        d: [(v >> (b * width)) & ((1 << width) - 1) for b in range(bands)]
        for d, v in sig.items()
    }
    ham = lambda a, b: bin(sig[a] ^ sig[b]).count("1")  # noqa: E731
    want = {
        (a, b): ham(a, b)
        for a, b in _py_bucket_pairs(keys, 50)
        if ham(a, b) <= max_hamming
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_pairs(
            _docs(spark, CORPUS), bands=bands, max_hamming=max_hamming
        ).collect()
    }
    assert got == want
    assert got[(2, 3)] == 0
    # near-dups land close, unrelated docs far
    assert ham(0, 6) < ham(0, 5)


def test_simhash_pairs_finds_dups(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_pairs(_docs(spark, CORPUS), max_hamming=10).collect()
    }
    assert pairs[(2, 3)] == 0


# ------------------------------------------------------------- similarity --
def _vec_rows():
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(40):
        rows.append(Row(vec_id=i, embedding=[rnd.uniform(-1, 1) for _ in range(16)]))
    # 40 = near-dup of 0
    base = rows[0].embedding
    rows.append(
        Row(vec_id=40, embedding=[v + rnd.uniform(-0.01, 0.01) for v in base])
    )
    return rows


def _py_cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(x * x for x in b) ** 0.5
    return dot / (na * nb)


def test_cosine_topk_matches_python(spark):
    rows = _vec_rows()
    embs = spark.createDataFrame(rows)
    out = S.cosine_topk(embs, embs.filter(F.col("vec_id") == 0), k=5).collect()
    got = [(r.neighbor_id, r.sim) for r in sorted(out, key=lambda r: r.rank)]
    ref = sorted(
        (
            (r.vec_id, _py_cosine(rows[0].embedding, r.embedding))
            for r in rows
            if r.vec_id != 0
        ),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [g[0] for g in got] == [r[0] for r in ref]
    for g, r in zip(got, ref):
        assert g[1] == pytest.approx(r[1])


def test_lsh_topk_recall(spark):
    """LSH candidates + rerank must recover most of the exact top-k."""
    rows = _vec_rows()
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(embs, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.lsh_topk(embs, q, k=5, bands=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall


def test_embedding_near_dup(spark):
    embs = spark.createDataFrame(_vec_rows())
    out = {
        (r.doc_a, r.doc_b): r.cosine
        for r in S.embedding_near_dup(embs, threshold=0.99, bands=8).collect()
    }
    assert (0, 40) in out
    assert out[(0, 40)] > 0.99


def test_hyperplane_signature_distinct_planes(spark):
    """Regression for the index-binding trap: different vectors must not
    collapse to degenerate all-equal signatures."""
    embs = spark.createDataFrame(_vec_rows())
    planes = S.rademacher_planes(16, 16)
    sigs = [
        r.s
        for r in embs.select(
            S.hyperplane_signature_q(
                S.quantize_vec(F.col("embedding")), planes
            ).alias("s")
        ).collect()
    ]
    assert len(set(sigs)) > 10  # 41 random vectors → many distinct signatures
    assert any(s not in (0, (1 << 16) - 1) for s in sigs)


# ------------------------------------------------------------------- text --
def test_text_stats_counts(spark):
    df = _docs(spark, [(0, "Hello world, this is a test."), (1, "")])
    out = {r.doc_id: r for r in T.text_stats(df).collect()}
    assert out[0].n_tokens == 6
    assert out[1].n_tokens == 0
    assert out[0].punct_ratio == pytest.approx(2 / 28)


def test_language_id(spark):
    df = _docs(
        spark,
        [
            (0, "the cat and the dog sat in the house of the king"),
            (1, "der Hund und die Katze ist nicht ein Tier zu Hause"),
            (2, "le chat et la maison est dans les jardins des rois une fois"),
            (3, "el perro y la casa que est en los campos una vez"),
        ],
    )
    out = {r.doc_id: r.lang_guess for r in T.text_stats(df).collect()}
    assert out == {0: "en", 1: "de", 2: "fr", 3: "es"}


def test_fingerprint_normalization_invariant(spark):
    df = _docs(spark, [(0, "Hello,  World!"), (1, "hello world")])
    fps = [r.f for r in df.select(T.fingerprint(F.col("text")).alias("f")).collect()]
    assert fps[0] == fps[1]


def test_rolling_fingerprint_shift_invariance(spark):
    """Winnowing-style min-gram fingerprint: identical long substrings →
    identical rolling fp even with different prefixes."""
    body = "shared long document body that dominates the gram minimum " * 3
    df = _docs(spark, [(0, "A " + body), (1, "B " + body)])
    fps = [
        r.f
        for r in df.select(
            T.rolling_fingerprint(F.col("text"), 16).alias("f")
        ).collect()
    ]
    assert fps[0] == fps[1]


# --------------------------------------------------------------- severity --
def test_severity_topk_keeps_abnormal_and_borderline(spark):
    """test.py:541 parity: severity_rank < 2 keeps abnormal AND borderline
    rows together, worst first; In range / Unknown never surface (the
    reference's borderline fallback at :545-549 is dead code)."""
    from pyspark.sql import Row

    from healthcare_aws_data_engineering_spark.operators.severity import (
        severity_topk,
    )

    ranges = {"a": (10.0, 20.0), "b": (10.0, 20.0), "c": (10.0, 20.0)}
    labs = spark.createDataFrame(
        [
            # p1: one abnormal (a High), one borderline (b), one in range →
            # abnormal AND borderline surface, worst first
            Row(patient_id=1, analyte="a", value=50.0),
            Row(patient_id=1, analyte="b", value=22.0),
            Row(patient_id=1, analyte="c", value=15.0),
            # p2: no abnormal → the borderline row alone
            Row(patient_id=2, analyte="a", value=23.0),
            Row(patient_id=2, analyte="b", value=15.0),
            # p3: everything in range → NO rows (reference shows nothing)
            Row(patient_id=3, analyte="a", value=15.0),
            # p4: unmapped analyte only → Unknown, never surfaces
            Row(patient_id=4, analyte="zzz", value=15.0),
        ]
    )
    out = {}
    for r in severity_topk(labs, ranges, k=6).collect():
        out.setdefault(r.patient_id, []).append(r)
    assert [r.analyte for r in out[1]] == ["a", "b"]
    assert out[1][0].status == "High" and out[1][0].severity == 0
    assert out[1][1].status == "Borderline high" and out[1][1].severity == 1
    assert [r.analyte for r in out[2]] == ["a"]
    assert out[2][0].status == "Borderline high"
    assert 3 not in out and 4 not in out


def test_severity_topk_limits_k(spark):
    from pyspark.sql import Row

    from healthcare_aws_data_engineering_spark.operators.severity import (
        severity_topk,
    )

    ranges = {c: (10.0, 20.0) for c in "abcdefgh"}
    labs = spark.createDataFrame(
        [Row(patient_id=1, analyte=c, value=99.0) for c in "abcdefgh"]
    )
    out = severity_topk(labs, ranges, k=6).collect()
    assert len(out) == 6
    assert [r.analyte for r in sorted(out, key=lambda r: r.rank)] == list("abcdef")


def test_ivf_topk_recall(spark):
    """IVF cells + probing + rerank must recover most of the exact top-k;
    with n_probe == n_centroids it must equal brute force exactly."""
    rows = _vec_rows()
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(embs, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(embs, q, k=5, n_centroids=8, n_probe=4).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5
    full = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(embs, q, k=5, n_centroids=8, n_probe=8).collect()
    }
    assert full == exact  # probing every cell == brute force


def test_ivfpq_topk_composition_and_recall(spark):
    """IVF-PQ composes the two index halves exactly: with n_probe ==
    n_centroids (no pruning) the result must EQUAL exhaustive pq_topk
    row-for-row (same codebooks → same ADC distances, ranks and all);
    at a partial probe budget, recall vs brute-force cosine must clear
    the same floor test_ivf_topk_recall pins for IVF-Flat at the equal
    probe budget (measured 0.60 on this corpus vs the 0.5 floor)."""
    rows = _vec_rows()
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") < 3)
    books = S.pq_codebooks(embs, m=8, n_codes=8)
    full = {
        (r.query_id, r.neighbor_id, r.adist, r.rank)
        for r in S.ivfpq_topk(
            embs, q, k=5, n_centroids=8, n_probe=8, codebooks=books
        ).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id, r.adist, r.rank)
        for r in S.pq_topk(embs, q, k=5, codebooks=books).collect()
    }
    assert full == pq  # probing every cell == exhaustive ADC
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(embs, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ivfpq_topk(
            embs, q, k=5, n_centroids=8, n_probe=4, codebooks=books
        ).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5
    # cell pruning alone (vs the full-probe ADC ranking) keeps most rows
    fullset = {(a, b) for a, b, _, _ in full}
    assert len(fullset & approx) / len(fullset) >= 0.6


def test_ivfpq_residual_matches_python_model(spark):
    """residual=True (the IVFADC form): full python replication of cell
    assignment, residual computation, residual-codebook encoding, and
    per-(query, cell) ADC tables — exact long equality, no tolerance."""
    rows = _vec_rows()
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") < 2)
    cents = S.sample_centroids(embs, 8)
    books = S.residual_codebooks(embs, cents, m=8, n_codes=8)
    got = {
        (r.query_id, r.neighbor_id): r.adist
        for r in S.ivfpq_topk(
            embs, q, k=5, n_centroids=8, n_probe=8,
            centroids=cents, codebooks=books, residual=True,
        ).collect()
    }

    from healthcare_aws_data_engineering_spark.operators.similarity import (
        quantize_py,
    )

    qcents = [[quantize_py(x) for x in c] for c in cents]
    vecs = {r.vec_id: [quantize_py(x) for x in r.embedding] for r in rows}

    def cell_of(v):
        ds = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in qcents]
        return ds.index(min(ds))

    def res_of(v, cell):
        return [a - b for a, b in zip(v, qcents[cell])]

    def codes_of(r):
        out = []
        for s in range(8):
            sub = r[s * 2 : (s + 1) * 2]
            ds = [
                sum((a - b) ** 2 for a, b in zip(sub, code))
                for code in books[s]
            ]
            out.append(ds.index(min(ds)))
        return out

    for (qid, nid), adist in got.items():
        ncell = cell_of(vecs[nid])
        ncodes = codes_of(res_of(vecs[nid], ncell))
        # query residual against the PROBED cell == the neighbor's cell
        qres = res_of(vecs[qid], ncell)
        expected = sum(
            sum(
                (a - b) ** 2
                for a, b in zip(qres[s * 2 : (s + 1) * 2], books[s][ncodes[s]])
            )
            for s in range(8)
        )
        assert adist == expected, (qid, nid, adist, expected)


def test_ivfpq_residual_flags_absolute_codebooks(spark):
    """r13 advice: residual=True with caller-supplied ABSOLUTE books
    (pq_codebooks output — the natural mistake, since that is the public
    default builder) prices ADC in a mismatched space with no other
    symptom; the magnitude heuristic must warn. The matched
    residual_codebooks supply must stay silent."""
    import warnings

    rows = _vec_rows()
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") < 2)
    cents = S.sample_centroids(embs, 8)
    absolute = S.pq_codebooks(embs, m=8, n_codes=8)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        S.ivfpq_topk(
            embs, q, k=5, n_centroids=8, n_probe=4,
            centroids=cents, codebooks=absolute, residual=True,
        )
        assert any("ABSOLUTE" in str(x.message) for x in w)
    matched = S.residual_codebooks(embs, cents, m=8, n_codes=8)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        S.ivfpq_topk(
            embs, q, k=5, n_centroids=8, n_probe=4,
            centroids=cents, codebooks=matched, residual=True,
        )
        assert not [x for x in w if "ABSOLUTE" in str(x.message)]


def test_ivfpq_residual_reduces_adc_distortion(spark):
    """The IVFADC claim, measured where it is stable: at an equal
    (m, codes) budget on a clustered corpus, residual codes only have
    to cover the small within-cell offset ball while absolute codes
    cover the full cluster span — so the ADC distance approximation
    error drops (measured 0.053 vs 0.080 mean relative error here;
    recall is a noisier proxy on corpora this small). Deterministic:
    seeded data, seed-fixed KMeans cells, md5-sampled codebooks."""
    import random

    rnd = random.Random(42)
    centers = [
        [(1.0 if (c >> b) & 1 else -1.0) * 3.0 for b in range(8)]
        for c in range(4)
    ]
    rows = [
        Row(
            vec_id=i,
            embedding=[v + rnd.uniform(-0.3, 0.3) for v in centers[i % 4]],
        )
        for i in range(120)
    ]
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") < 5)
    cents = S.kmeans_centroids(embs, 4)

    from healthcare_aws_data_engineering_spark.operators.similarity import (
        quantize_py,
    )

    vecs = {r.vec_id: [quantize_py(x) for x in r.embedding] for r in rows}

    def sqd(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def mean_rel_err(residual):
        out = S.ivfpq_topk(
            embs, q, k=30, n_centroids=4, n_probe=1,
            centroids=cents, residual=residual,
        ).collect()
        errs = [
            abs(r.adist - sqd(vecs[r.query_id], vecs[r.neighbor_id]))
            / max(sqd(vecs[r.query_id], vecs[r.neighbor_id]), 1)
            for r in out
        ]
        return sum(errs) / len(errs)

    plain, residual = mean_rel_err(False), mean_rel_err(True)
    assert residual < plain, (residual, plain)


def test_two_level_assignment_matches_python_model(spark):
    """The Spark two-level argmin expression == a pure-python replica of
    coarse-then-children assignment, EXACTLY per vector (long-grid math,
    deterministic tie-breaks) — plus a high-agreement bound vs flat
    assignment on an unstructured corpus."""
    rows = _vec_rows()
    embs = spark.createDataFrame(rows)
    cents = S.sample_centroids(embs, 9)
    staged = embs.select(
        "vec_id", S.quantize_vec(F.col("embedding")).alias("__q")
    )
    got = {
        r.vec_id: r.cell
        for r in staged.select(
            "vec_id",
            S._centroid_cell_two_level(F.col("__q"), cents, True).alias(
                "cell"
            ),
        ).collect()
    }

    from healthcare_aws_data_engineering_spark.operators.similarity import (
        quantize_py,
    )

    qcents = [[quantize_py(x) for x in c] for c in cents]
    seeds, groups = S.two_level_groups(cents)

    def sqd(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def model(v):
        cd = [sqd(v, qcents[s]) for s in seeds]
        g = groups[cd.index(min(cd))]
        fd = [sqd(v, qcents[i]) for i in g]
        return g[fd.index(min(fd))]

    flat_agree = 0
    for r in rows:
        v = [quantize_py(x) for x in r.embedding]
        assert got[r.vec_id] == model(v)
        fl = [sqd(v, c) for c in qcents]
        flat_agree += got[r.vec_id] == fl.index(min(fl))
    # every group is a Voronoi-ish neighborhood: most vectors' true
    # nearest cell lives under their coarse winner even without
    # cluster structure
    assert flat_agree / len(rows) >= 0.6, flat_agree / len(rows)


def test_two_level_groups_partition_and_nonempty():
    cents = [[float((i * 7) % 5 - 2)] * 4 for i in range(13)]
    seeds, groups = S.two_level_groups(cents)
    flat = sorted(i for g in groups for i in set(g))
    assert flat == list(range(13)) or sorted(set(flat)) == list(range(13))
    assert all(groups[j] for j in range(len(seeds)))


def test_two_level_ivf_recall_holds_on_clusters(spark):
    """On a clustered corpus the hatch is nearly free: coarse seeds and
    fine cells align with the clusters, so two-level recall matches flat
    at equal probe budget; ivfpq composes with it unchanged."""
    import random

    rnd = random.Random(42)
    centers = [
        [(1.0 if (c >> b) & 1 else -1.0) * 3.0 for b in range(8)]
        for c in range(4)
    ]
    rows = [
        Row(
            vec_id=i,
            embedding=[v + rnd.uniform(-0.3, 0.3) for v in centers[i % 4]],
        )
        for i in range(160)
    ]
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(embs, q, k=10).collect()
    }

    cents = S.kmeans_centroids(embs, 8)

    def recall(**kw):
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_topk(
                embs, q, k=10, n_probe=2, centroids=cents, **kw,
            ).collect()
        }
        return len(exact & got) / len(exact)

    flat, two = recall(), recall(assign="two_level")
    assert two >= flat - 0.1, (two, flat)
    # composes through ivfpq (runs + produces full per-query k), in
    # BOTH pricing modes — residual's per-cell ADC tables read the
    # two-level cell column exactly like the flat one
    for residual in (False, True):
        out = S.ivfpq_topk(
            embs, q, k=5, n_probe=8, centroids=cents,
            assign="two_level", residual=residual,
        ).collect()
        assert len(out) == 5 * 5


def test_resolve_assign_boundary():
    """r15 (r14 verdict ask #5): 'auto' flips to the two-level hatch
    exactly when the cell count crosses TWO_LEVEL_AUTO_CELLS; explicit
    values pass through; junk is a named error."""
    b = S.TWO_LEVEL_AUTO_CELLS
    assert S.resolve_assign("auto", b) == "flat"
    assert S.resolve_assign("auto", b + 1) == "two_level"
    assert S.resolve_assign("flat", 10 * b) == "flat"
    assert S.resolve_assign("two_level", 1) == "two_level"
    with pytest.raises(ValueError, match="assign"):
        S.resolve_assign("bogus", 1)


def test_auto_assign_selects_two_level_above_the_cell_bound(spark):
    """A corpus whose DERIVED cell count (cells_for = n/target) crosses
    the bound gets the two-level plan automatically under the default
    assign='auto'; the same corpus below the bound keeps the exact flat
    argmin. Spied at the assignment-expression boundary — the only
    place the two paths diverge."""
    from unittest import mock

    import random

    rnd = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rnd.uniform(-2, 2) for _ in range(8)])
        for i in range(300)
    ]
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") < 2)

    # target_cell=2 ⇒ cells_for(300, 2) = 150 > 128 ⇒ auto picks the hatch
    with mock.patch.object(
        S, "_centroid_cell_two_level", wraps=S._centroid_cell_two_level
    ) as spy:
        out = S.ivf_topk(embs, q, k=3, target_cell=2).collect()
        assert spy.called
        assert len(out) == 2 * 3  # the auto plan still serves full top-k
    # default target_cell=200 ⇒ 2 cells ⇒ auto keeps flat (exact, cheap)
    with mock.patch.object(
        S, "_centroid_cell_two_level", wraps=S._centroid_cell_two_level
    ) as spy:
        S.ivf_topk(embs, q, k=3)
        assert not spy.called
    # same boundary through the ivfpq composition
    with mock.patch.object(
        S, "_centroid_cell_two_level", wraps=S._centroid_cell_two_level
    ) as spy:
        S.ivfpq_topk(embs, q, k=3, target_cell=2)
        assert spy.called


def test_auto_assign_selects_two_level_in_semantic_dedup(spark):
    """semantic_dedup shares the boundary: derived cells above the bound
    auto-select the two-level assignment, below it the flat pin."""
    from unittest import mock

    import random

    from healthcare_aws_data_engineering_spark.operators import semdedup as SD

    rnd = random.Random(11)
    rows = [
        Row(vec_id=i, embedding=[rnd.uniform(-2, 2) for _ in range(4)])
        for i in range(300)
    ]
    embs = spark.createDataFrame(rows)
    with mock.patch.object(
        SD, "_centroid_cell_two_level", wraps=SD._centroid_cell_two_level
    ) as spy:
        out = SD.semantic_dedup(embs, target_cluster=2)
        assert spy.called
        assert out.count() == 300  # one verdict row per vector either way
    with mock.patch.object(
        SD, "_centroid_cell_two_level", wraps=SD._centroid_cell_two_level
    ) as spy:
        SD.semantic_dedup(embs)
        assert not spy.called


def test_ivf_kmeans_centroids_beat_sample_on_clustered_corpus(spark):
    """Trained coarse quantizer vs hash-stratified sample: on a corpus
    with real cluster structure, seed-fixed KMeans centers align cells
    with the clusters, so probing ONE cell recovers a query's neighbors;
    a random sample of corpus points may drop or split clusters and lose
    recall at the same n_probe. (On the driver's isotropic synthetic
    embeddings the two are comparable — this is the case where training
    matters.) Deterministic: seeded data, seeded KMeans, md5 sample."""
    import random

    rnd = random.Random(42)
    centers = []
    for c in range(4):
        centers.append([(1.0 if (c >> b) & 1 else -1.0) * 3.0 for b in range(8)])
    rows = [
        Row(
            vec_id=i,
            embedding=[
                v + rnd.uniform(-0.3, 0.3) for v in centers[i % 4]
            ],
        )
        for i in range(120)
    ]
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(embs, q, k=10).collect()
    }

    def recall(centroids):
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_topk(
                embs, q, k=10, n_probe=1, centroids=centroids
            ).collect()
        }
        return len(exact & got) / len(exact)

    r_kmeans = recall(S.kmeans_centroids(embs, 4))
    r_sample = recall(S.sample_centroids(embs, 4))
    assert r_kmeans >= 0.99, r_kmeans  # trained cells == true clusters
    assert r_kmeans >= r_sample, (r_kmeans, r_sample)


def test_corpus_curation_manifest_invariants(spark):
    """Composite curation query: split/lang manifest respects the doc
    universe, split labels, and the quality floor (value parity vs the
    recursive-CTE oracle is the driver gate's job)."""
    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        q_corpus_curation,
    )

    sf = "/root/testdata/sf0.001"
    out = q_corpus_curation(spark, sf).collect()
    assert out and all(r.split in ("train", "val", "test") for r in out)
    assert all(r.n_docs > 0 and r.total_tokens >= 20 * r.n_docs for r in out)
    n_total = (
        spark.read.parquet(f"{sf}/documents.parquet").count()
    )
    assert sum(r.n_docs for r in out) <= n_total
    # (split, lang) keys are unique — the rollup didn't double count
    keys = [(r.split, r.lang) for r in out]
    assert len(keys) == len(set(keys))


def test_pq_matches_python_model(spark):
    """Full python replication of codebook slicing, encoding, and ADC —
    exact long equality (no tolerance: the math is integer)."""
    rows = _vec_rows()
    embs = spark.createDataFrame(rows)
    books = S.pq_codebooks(embs, m=8, n_codes=8)
    q = embs.filter(F.col("vec_id") < 2)
    got = {
        (r.query_id, r.neighbor_id): r.adist
        for r in S.pq_topk(embs, q, k=5, codebooks=books).collect()
    }

    vecs = {r.vec_id: [S.quantize_py(x) for x in r.embedding] for r in rows}
    d = len(books[0][0])

    def code(v, s):
        sub = v[s * d : (s + 1) * d]
        dists = [
            sum((a - b) * (a - b) for a, b in zip(sub, row)) for row in books[s]
        ]
        return dists.index(min(dists))

    def adist(qv, cv):
        total = 0
        for s in range(8):
            sub = qv[s * d : (s + 1) * d]
            row = books[s][code(cv, s)]
            total += sum((a - b) * (a - b) for a, b in zip(sub, row))
        return total

    for qid in (0, 1):
        qv = vecs[qid]
        expected = sorted(
            ((adist(qv, v), nid) for nid, v in vecs.items() if nid != qid)
        )[:5]
        got_q = sorted((dist, nid) for (g, nid), dist in got.items() if g == qid)
        assert got_q == expected, (qid, got_q, expected)


def test_pq_near_dup_ranks_first(spark):
    """vec 40 is a near-dup of vec 0: after PQ compression their code
    distance must still rank 40 as 0's nearest neighbor (the compressed
    index preserves coarse geometry)."""
    rows = _vec_rows()
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") == 0)
    top = {
        r.rank: r.neighbor_id
        for r in S.pq_topk(embs, q, k=3).collect()
    }
    assert top[1] == 40


def test_pq_identical_vectors_adist_zero(spark):
    rows = _vec_rows()
    rows.append(Row(vec_id=41, embedding=rows[0].embedding))
    embs = spark.createDataFrame(rows)
    q = embs.filter(F.col("vec_id") == 41)
    out = {r.neighbor_id: r for r in S.pq_topk(embs, q, k=2).collect()}
    assert out[0].adist == 0 and out[0].rank == 1


def test_hard_negatives_matches_python_and_excludes_same_label(spark):
    """Model parity vs brute force AND the contrastive contract: every
    mined negative has a different label than its anchor, self never
    appears, ranks are dense 1..k."""
    rows = _vec_rows()
    labeled = [
        Row(vec_id=r.vec_id, embedding=r.embedding, label=r.vec_id % 3)
        for r in rows
    ]
    embs = spark.createDataFrame(labeled)
    out = S.hard_negatives(embs, embs.filter(F.col("vec_id") < 2), k=5).collect()
    by_anchor = {}
    for r in out:
        assert r.neg_label != r.anchor_label
        assert r.neighbor_id != r.query_id
        by_anchor.setdefault(r.query_id, []).append(r)
    for qid, rs in by_anchor.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, 6))
        anchor = labeled[qid]
        ref = sorted(
            (
                (c.vec_id, _py_cosine(anchor.embedding, c.embedding))
                for c in labeled
                if c.label != anchor.label
            ),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        assert [r.neighbor_id for r in rs] == [t[0] for t in ref]
        for r, t in zip(rs, ref):
            assert r.sim == pytest.approx(t[1])


def test_cluster_split_no_leakage_and_shares(spark):
    """The leakage contract: every near-dup cluster lands entirely in ONE
    split (by construction — the bucket is a function of the cluster id),
    singletons keep split_unit == doc_id, and the md5 shares land near
    80/10/10 on the sf0.001 corpus."""
    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        q_cluster_split,
    )

    out = q_cluster_split(spark, "/root/testdata/sf0.001").collect()
    by_unit = {}
    for r in out:
        by_unit.setdefault(r.split_unit, set()).add(r.split)
    assert all(len(s) == 1 for s in by_unit.values())
    n = len(out)
    shares = {}
    for r in out:
        shares[r.split] = shares.get(r.split, 0) + 1
    assert shares["train"] / n > 0.6
    assert 0 < shares.get("val", 0) < 0.3 * n
    assert 0 < shares.get("test", 0) < 0.3 * n
    # clustered docs really do share their cluster's split with the keeper
    clustered = [r for r in out if r.split_unit != r.doc_id]
    assert clustered, "fixture corpus should contain at least one dup cluster"
    splits = {r.split_unit: r.split for r in out if r.doc_id == r.split_unit}
    for r in clustered:
        assert r.split == splits[r.split_unit]


def test_quality_calibrated_per_source_floor(spark):
    """Source-balanced pruning contract: every source keeps ~(1 − keep_pct)
    of its own docs (never gutted wholesale), the dropped docs are exactly
    that source's lowest-quality ones, and percent_rank spans [0, 1]."""
    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        QUALITY_KEEP_PCT,
        q_quality_calibrated,
    )

    rows = q_quality_calibrated(spark, "/root/testdata/sf0.001").collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert len(by_source) > 1
    for source, rs in by_source.items():
        n = len(rs)
        kept = [r for r in rs if r.keep]
        # percent_rank >= pct keeps ceil((1-pct)(n-1))+... ~ (1-pct) share
        assert len(kept) >= (1 - QUALITY_KEEP_PCT) * n - 1, source
        worst_kept = min(r.quality for r in kept)
        for r in rs:
            if not r.keep:
                assert r.quality <= worst_kept, source
        pcts = sorted(r.pct_in_source for r in rs)
        assert pcts[0] == 0.0 and pcts[-1] == 1.0


# ------------------------------------------- r6: cap / budget / soft dedup --


def test_domain_cap_keeps_top_cap_per_source(spark):
    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        DOMAIN_CAP,
        q_domain_cap,
    )

    rows = q_domain_cap(spark, "/root/testdata/sf0.001").collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert len(by_source) > 1
    for source, rs in by_source.items():
        # rk is a dense 1..n permutation consistent with (quality desc, id)
        order = sorted(rs, key=lambda r: (-r.quality, r.doc_id))
        assert [r.rk for r in order] == list(range(1, len(rs) + 1)), source
        assert all(r.src_total == len(rs) for r in rs), source
        kept = {r.doc_id for r in rs if r.keep}
        expected = {r.doc_id for r in order[:DOMAIN_CAP]}
        assert kept == expected, source


def test_token_budget_fill_matches_naive_global_window(spark):
    """The bucketed two-phase prefix sum must be value-identical to the
    naive single-partition global window it replaces at scale."""
    from pyspark.sql import Window

    from healthcare_aws_data_engineering_spark.operators import text as TT
    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        TOKEN_BUDGET_DEN,
        TOKEN_BUDGET_NUM,
        q_token_budget_fill,
        _docs as _load_docs,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.doc_id: r for r in q_token_budget_fill(spark, sf).collect()}

    stats = TT.text_stats(_load_docs(spark, sf)).select(
        "doc_id", "quality", "n_tokens"
    )
    w = Window.orderBy(F.col("quality").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    naive = stats.select(
        "doc_id", F.sum("n_tokens").over(w).alias("cum_tokens")
    ).collect()
    total = sum(r.n_tokens for r in stats.collect())

    assert len(got) == len(naive)
    for r in naive:
        g = got[r.doc_id]
        assert g.cum_tokens == r.cum_tokens, r.doc_id
        assert g.keep == (
            r.cum_tokens * TOKEN_BUDGET_DEN <= total * TOKEN_BUDGET_NUM
        ), r.doc_id
    # the keep set is a non-trivial prefix at this SF
    n_kept = sum(1 for g in got.values() if g.keep)
    assert 0 < n_kept < len(got)


def test_token_budget_fill_single_bucket_degenerate(spark):
    """All-equal quality collapses every doc into ONE bucket — the
    within-bucket window then IS the global window; cum must still be
    exact and keep a clean prefix by doc_id."""
    from healthcare_aws_data_engineering_spark.plans import (
        training_data_queries as tdq,
    )

    # identical text => identical quality for every doc
    docs = _docs(spark, [(i, "same words in every doc here") for i in range(10)])
    import unittest.mock as mock

    with mock.patch.object(tdq, "_docs", lambda s, d: docs):
        rows = sorted(
            tdq.q_token_budget_fill(spark, "ignored").collect(),
            key=lambda r: r.doc_id,
        )
    tok = rows[0].n_tokens
    total = tok * len(rows)
    for i, r in enumerate(rows):
        assert r.cum_tokens == tok * (i + 1)
        assert r.keep == (r.cum_tokens * 2 <= total)


def test_dedup_weighted_cluster_mass_is_one(spark):
    """Every near-dup cluster contributes exactly 1.0 total weight; docs
    without a verified dup keep weight 1.0; every doc appears once."""
    import duckdb

    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        q_dedup_weighted,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_dedup_weighted(spark, sf).collect()
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{sf}/documents.parquet'"
    ).fetchone()[0]
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs

    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
        assert r.weight == 1.0 / r.n_near_dups
    multi = 0
    for cid, rs in by_cluster.items():
        if len(rs) > 1:
            multi += 1
            assert all(r.n_near_dups == len(rs) for r in rs)
            assert abs(sum(r.weight for r in rs) - 1.0) < 1e-9, cid
        else:
            # singleton: either a true singleton (weight 1) or the lone
            # locally-visible member of a cluster — at full-corpus scope
            # n_near_dups==1 implies weight 1.0
            assert rs[0].weight == 1.0 / rs[0].n_near_dups
    assert multi > 0, "corpus should contain at least one near-dup cluster"


def test_doc_attributes_equals_standalone_twins(spark):
    """The fused single-scan tagger pass must be column-identical to
    text_stats and repetition_stats run separately — the pin that lets
    the fused implementation share no code with the twins without
    drifting."""
    from healthcare_aws_data_engineering_spark.operators.text import (
        doc_attributes,
        repetition_stats,
        text_stats,
    )
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fused = {r["doc_id"]: r for r in doc_attributes(docs).collect()}
    ts = {r["doc_id"]: r for r in text_stats(docs).collect()}
    rep = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert set(fused) == set(ts) == set(rep)
    ts_cols = [
        "n_chars_actual", "n_tokens", "n_tokens_bpe_ish", "punct_ratio",
        "mean_word_len", "lang_guess", "quality", "fingerprint",
    ]
    rep_cols = [
        "n_distinct", "distinct_ratio", "top_word_frac",
        "top_bigram_frac", "repetitive",
    ]
    for d, r in fused.items():
        for c in ts_cols:
            assert r[c] == ts[d][c], (d, c)
        for c in rep_cols:
            assert r[c] == rep[d][c], (d, c)


def test_doc_attributes_is_projection_only(spark):
    """One corpus scan, zero exchanges — the whole point of the fused
    pass."""
    from conftest import n_exchanges, plan_string

    from healthcare_aws_data_engineering_spark.operators.text import (
        doc_attributes,
    )
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assert n_exchanges(plan_string(doc_attributes(docs))) == 0


def test_two_phase_cum_property_random_distributions(spark):
    """Property pin for the bucketed prefix sum: for ARBITRARY quality
    distributions — coarse-grid qualities force ties and bucket-boundary
    clustering, zero-token rows included — cum_tokens must equal the
    python cumsum over the exact (quality DESC, doc_id ASC) order."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        two_phase_cum_tokens,
    )

    rows_strategy = st.lists(
        st.tuples(
            # 33-step grid in [0,1]: collisions + exact bucket edges
            st.integers(min_value=0, max_value=32).map(lambda i: i / 32.0),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=30,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rows_strategy)
    def check(rows):
        data = [
            Row(doc_id=i, quality=q, n_tokens=t)
            for i, (q, t) in enumerate(rows)
        ]
        got = {
            r.doc_id: r
            for r in two_phase_cum_tokens(spark.createDataFrame(data)).collect()
        }
        order = sorted(data, key=lambda r: (-r.quality, r.doc_id))
        total = sum(r.n_tokens for r in data)
        cum = 0
        for r in order:
            cum += r.n_tokens
            g = got[r.doc_id]
            assert g.cum_tokens == cum, (r.doc_id, rows)
            assert g["__total"] == total

    check()


def test_quality_buckets_for_derivation():
    """r6 verdict #2: the bucket count is DERIVED (cells_for recipe) —
    gate floor at 256, linear growth with the corpus, power-of-two
    rounding so grids nest across scales."""
    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        MIN_QUALITY_BUCKETS,
        TARGET_BUCKET_ROWS,
        quality_buckets_for,
    )

    assert quality_buckets_for(0) == MIN_QUALITY_BUCKETS
    assert quality_buckets_for(60_000) == MIN_QUALITY_BUCKETS  # gate scale
    b1e9 = quality_buckets_for(1_000_000_000)
    assert b1e9 == 16384  # ceil(1e9/1e5)=10000 → next pow2
    assert quality_buckets_for(10**11) == 2**20
    # monotone, power-of-two, and expected partition stays bounded
    prev = 0
    for n in (10**5, 10**6, 10**7, 10**8, 10**9, 10**10):
        b = quality_buckets_for(n)
        assert b >= prev and b & (b - 1) == 0
        assert n / b <= 2 * TARGET_BUCKET_ROWS  # pow2 rounding halves at worst
        prev = b


def test_two_phase_cum_tokens_degenerate_quality_fails_loudly(spark):
    """A corpus whose quality mass sits on ONE value concentrates into a
    single bucket partition — the in-plan guard must raise (naming the
    bucket), never silently serialize the within-bucket window."""
    import pytest as _pytest

    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        two_phase_cum_tokens,
    )

    dominant = spark.createDataFrame(
        [Row(doc_id=i, quality=1.0, n_tokens=10) for i in range(200)]
    )
    bad = two_phase_cum_tokens(dominant, n_buckets=256, max_bucket_rows=100)
    with _pytest.raises(Exception, match="two_phase_cum_tokens: quality bucket"):
        bad.collect()
    # the same corpus passes when the guard admits the bucket — and the
    # values are the plain cumsum (guard adds 0 on the healthy path)
    ok = two_phase_cum_tokens(
        dominant, n_buckets=256, max_bucket_rows=200
    ).orderBy("doc_id").collect()
    assert [r.cum_tokens for r in ok] == [10 * (i + 1) for i in range(200)]


def test_two_phase_cum_tokens_default_guard_quiet_on_spread_quality(spark):
    """The derived default guard (max(1M, n/16)) must not fire on a
    healthy spread — same fixture family as the property test."""
    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        two_phase_cum_tokens,
    )

    data = [
        Row(doc_id=i, quality=(i % 33) / 32.0, n_tokens=i % 7)
        for i in range(500)
    ]
    out = two_phase_cum_tokens(spark.createDataFrame(data), n_buckets=256)
    assert out.count() == 500


def test_composites_read_materialized_attribute_table(spark, tmp_path):
    """r6 verdict optional #8: with spark.graft.attributesPath pointing
    at a doc_attributes parquet (the once-per-snapshot tagger pass),
    every text_stats-staged composite reads slim attribute rows instead
    of re-deriving the text projection — and returns IDENTICAL rows."""
    from conftest import plan_string
    from healthcare_aws_data_engineering_spark.operators.text import (
        doc_attributes,
    )
    from healthcare_aws_data_engineering_spark.plans import (
        training_data_queries as tq,
    )
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    composites = [
        tq.q_corpus_curation,
        tq.q_quality_calibrated,
        tq.q_domain_cap,
        tq.q_token_budget_fill,
    ]
    fresh = [sorted(map(tuple, q(spark, sf).collect())) for q in composites]

    attrs_path = str(tmp_path / "attributes.parquet")
    doc_attributes(load_table(spark, sf, "documents")).drop("text").write.parquet(
        attrs_path
    )
    spark.conf.set(tq.ATTRS_PATH_CONF, attrs_path)
    try:
        for q, want in zip(composites, fresh):
            got = sorted(map(tuple, q(spark, sf).collect()))
            assert got == want, q.__name__
        # the staging really is the attribute table, not a re-derivation
        plan = plan_string(tq.q_domain_cap(spark, sf))
        assert "attributes.parquet" in plan
    finally:
        spark.conf.unset(tq.ATTRS_PATH_CONF)


def test_composites_read_materialized_cluster_table(spark, tmp_path):
    """Same seam for the second shared staging: the verified near-dup
    cluster table. With spark.graft.clustersPath set, dedup_weighted /
    cluster_split / corpus_curation / dup_clusters read the persisted
    pair-sized table instead of re-running LSH→Jaccard→CC — identical
    rows, plan provably reading the parquet."""
    from conftest import plan_string
    from healthcare_aws_data_engineering_spark.plans import (
        training_data_queries as tq,
    )

    sf = "/root/testdata/sf0.001"
    composites = [
        tq.q_dup_clusters,
        tq.q_dedup_weighted,
        tq.q_cluster_split,
        tq.q_corpus_curation,
    ]
    fresh = [sorted(map(tuple, q(spark, sf).collect())) for q in composites]

    clusters_path = str(tmp_path / "clusters.parquet")
    tq.q_dup_clusters(spark, sf).write.parquet(clusters_path)
    spark.conf.set(tq.CLUSTERS_PATH_CONF, clusters_path)
    try:
        for q, want in zip(composites, fresh):
            got = sorted(map(tuple, q(spark, sf).collect()))
            assert got == want, q.__name__
        plan = plan_string(tq.q_cluster_split(spark, sf))
        assert "clusters.parquet" in plan
    finally:
        spark.conf.unset(tq.CLUSTERS_PATH_CONF)


def test_domain_cap_topk_matches_exact_window(spark):
    """The salted two-stage top-k (the hot-domain escape hatch) must
    select exactly the docs the exact per-source window keeps, with the
    same ranks — including under a salt count that fragments every
    source."""
    from healthcare_aws_data_engineering_spark.operators import text as TT
    from healthcare_aws_data_engineering_spark.plans.training_data_queries import (
        domain_cap_topk,
        q_domain_cap,
        _docs as _load_docs,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        (r.doc_id, r.rk)
        for r in q_domain_cap(spark, sf).collect()
        if r.keep
    }
    stats = TT.text_stats(_load_docs(spark, sf)).select(
        "doc_id", "source", "quality"
    )
    for salts in (1, 4, 32):
        got = {(r.doc_id, r.rk) for r in domain_cap_topk(stats, salts=salts).collect()}
        assert got == exact, salts


def test_kmeans_centroids_do_not_depend_on_input_partitions(spark):
    """The same rows split 1, 4 and 7 ways train identical centers, so
    the IVF cells they define do not depend on the core count."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(160)
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        S.kmeans_centroids(embs.repartition(parts), 4) for parts in (1, 4, 7)
    ]
    assert got[0] == got[1] == got[2]
