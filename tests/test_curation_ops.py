"""Semantics + plan-shape tests for the corpus-curation operators
(decontaminate / bm25_topk / repetition_stats).

Each operator is checked against an independent pure-Python model (not
the DuckDB oracle — that parity runs in the driver gate), so a shared
systematic bug in the SQL twin can't hide here.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from conftest import n_exchanges as _n_exchanges, plan_string as _plan
from healthcare_aws_data_engineering_spark.operators.decontam import (
    DECON_SALT,
    decontaminate,
)
from healthcare_aws_data_engineering_spark.operators.retrieval import bm25_topk
from healthcare_aws_data_engineering_spark.operators.text import repetition_stats
from healthcare_aws_data_engineering_spark.plans import curation_queries as cq

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ----------------------------------------------------------- decontaminate --
def _bucket(doc_id: int) -> int:
    h = hashlib.md5(f"{DECON_SALT}{doc_id}".encode()).hexdigest()
    return int(h[:8], 16) % 100


def _shingles(text: str, n: int = 3) -> set[str]:
    ws = text.split()
    if len(ws) < n:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def test_decontaminate_matches_python_model(spark):
    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox sat still",
                "pack my box with five dozen liquor jugs",
                "sphinx of black quartz judge my vow",
                "the quick brown fox jumps over the lazy dog again today",
                "two words",
            ]
        )
    ]
    eval_pct = 50
    out = {
        r.doc_id: r
        for r in decontaminate(
            _docs(spark, rows), eval_pct=eval_pct, threshold=0.5
        ).collect()
    }
    eval_sh: set[str] = set()
    for i, t in rows:
        if _bucket(i) < eval_pct:
            eval_sh |= _shingles(t)
    train = [(i, t) for i, t in rows if _bucket(i) >= eval_pct]
    assert train and len(train) < len(rows), "split must be non-trivial"
    assert set(out) == {i for i, _ in train}
    for i, t in train:
        sh = _shingles(t)
        ov = len(sh & eval_sh)
        r = out[i]
        assert r.n_shingles == len(sh)
        assert r.n_overlap == ov
        assert r.contaminated == (ov / len(sh) >= 0.5)


def test_decontaminate_broadcasts_eval_side(spark):
    plan = _plan(cq.q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # eval-distinct agg + final per-doc agg; the corpus is never shuffled
    # by shingle.
    assert _n_exchanges(plan) <= 3, plan


# ------------------------------------------------------------- bm25_topk --
def _bm25_python(corpus, terms, k1=1.2, b=0.75):
    toks = {i: t.split() for i, t in corpus}
    n = len(corpus)
    avgdl = sum(len(w) for w in toks.values()) / n
    df = {
        t: sum(1 for w in toks.values() if t in w) for t in terms
    }
    scores = {}
    for i, w in toks.items():
        s = 0.0
        for t in terms:
            tf = w.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(w) / avgdl))
        if s > 0:
            scores[i] = s
    return scores


def test_bm25_matches_python_model(spark):
    corpus = [
        (1, "spark shuffle join spark spark"),
        (2, "join join join filter scan"),
        (3, "vector search index"),
        (4, "scan filter project sort"),
        (5, "spark vector join"),
    ]
    terms = ["spark", "vector"]
    out = {r.doc_id: r for r in bm25_topk(_docs(spark, corpus), terms, k=10).collect()}
    expected = _bm25_python(corpus, terms)
    assert set(out) == set(expected)
    for i, s in expected.items():
        assert abs(float(out[i].score) - s) < 1e-5, (i, s, out[i])
    # rare-term doc ranks above common-term-only docs of equal tf
    assert float(out[5].score) > float(out[1].score) - 10  # sanity bound


def test_bm25_idf_orders_rare_above_common(spark):
    # one doc matching a rare term must outscore one matching a common
    # term at identical tf/dl.
    corpus = [(1, "rare x y"), (2, "common x y"), (3, "common p q"), (4, "common r s")]
    out = {
        r.doc_id: float(r.score)
        for r in bm25_topk(_docs(spark, corpus), ["rare", "common"], k=10).collect()
    }
    assert out[1] > out[2]


def test_bm25_no_sort_merge_join(spark):
    # r9 shape: df comes from a term-window over the matched (doc, term)
    # aggregate (no broadcast re-aggregation join), avgdl stats ride a
    # broadcast nested loop; nothing sort-merges, top-k stays bounded
    plan = _plan(cq.q_bm25_search(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan


# ------------------------------------------------------- repetition_stats --
def test_repetition_stats_handmade(spark):
    rows = [
        (1, "a a a b"),          # topw 3/4, bigrams: 'a a','a a','a b' → topb 2/3
        (2, "w x y z"),          # all distinct
        (3, "hello"),            # single word → no bigrams
    ]
    # corpus-default thresholds target ~50-word web docs; for 4-word
    # fixtures pass explicit ones so the flag semantics stay testable.
    out = {
        r.doc_id: r
        for r in repetition_stats(
            _docs(spark, rows), top_word_max=0.5, top_bigram_max=0.6, distinct_min=0.3
        ).collect()
    }
    r1 = out[1]
    assert r1.n_tokens == 4 and r1.n_distinct == 2
    assert float(r1.top_word_frac) == 0.75
    assert abs(float(r1.top_bigram_frac) - 2 / 3) < 1e-6
    assert r1.repetitive
    r2 = out[2]
    assert float(r2.distinct_ratio) == 1.0 and not r2.repetitive
    r3 = out[3]
    assert r3.n_tokens == 1 and float(r3.top_bigram_frac) == 0.0
    assert float(r3.top_word_frac) == 1.0 and r3.repetitive


def test_repetition_stats_projection_only(spark):
    plan = _plan(cq.q_repetition_filter(spark, SF))
    assert _n_exchanges(plan) == 0, plan


# ------------------------------------------------- incremental_dedup --
def test_incremental_dedup_verdicts(spark):
    from healthcare_aws_data_engineering_spark.operators.ingest import (
        INCR_SALT,
        incremental_dedup,
    )

    def bucket(doc_id: int) -> int:
        h = hashlib.md5(f"{INCR_SALT}{doc_id}".encode()).hexdigest()
        return int(h[:8], 16) % 100

    # craft ids for each side of a 50% split
    ids = list(range(40))
    batch_ids = [i for i in ids if bucket(i) < 50]
    corpus_ids = [i for i in ids if bucket(i) >= 50]
    assert len(batch_ids) >= 3 and len(corpus_ids) >= 1
    b0, b1, b2 = batch_ids[:3]
    c0 = corpus_ids[0]
    rows = [
        (c0, "alpha beta gamma"),          # corpus doc
        (b0, "gamma beta alpha"),          # batch: word-set dup of corpus
        (b1, "delta epsilon zeta"),        # batch: novel
        (b2, "zeta delta epsilon"),        # batch: word-set dup of b1
    ] + [(i, f"unique words {i} here") for i in batch_ids[3:] + corpus_ids[1:]]
    out = {
        r.doc_id: r.verdict
        for r in incremental_dedup(_docs(spark, rows), batch_pct=50).collect()
    }
    assert set(out) == set(batch_ids)
    assert out[b0] == "dup_corpus"
    assert out[b1] == "accept"
    assert out[b2] == "dup_batch"
    # keep-first: min doc_id of the batch group is the accepted one
    assert min(b1, b2) == b1


def test_incremental_dedup_corpus_precedence_over_batch(spark):
    """A batch doc whose fingerprint is in BOTH the corpus and an earlier
    batch doc reports dup_corpus (corpus wins)."""
    from healthcare_aws_data_engineering_spark.operators.ingest import (
        INCR_SALT,
        incremental_dedup,
    )

    def bucket(doc_id: int) -> int:
        h = hashlib.md5(f"{INCR_SALT}{doc_id}".encode()).hexdigest()
        return int(h[:8], 16) % 100

    ids = list(range(40))
    batch_ids = [i for i in ids if bucket(i) < 50][:2]
    corpus_id = next(i for i in ids if bucket(i) >= 50)
    rows = [
        (corpus_id, "x y z"),
        (batch_ids[0], "z y x"),
        (batch_ids[1], "y z x"),
    ]
    out = {
        r.doc_id: r.verdict
        for r in incremental_dedup(_docs(spark, rows), batch_pct=50).collect()
    }
    assert out[batch_ids[0]] == "dup_corpus"
    assert out[batch_ids[1]] == "dup_corpus"


# ---------------------------------------------------- shard_manifest --
def test_shard_manifest_totals(spark, tmp_path):
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators.ingest import (
        shard_manifest,
        with_shard,
    )

    rows = [(i, " ".join(["w"] * (i + 1))) for i in range(20)]
    m = shard_manifest(_docs(spark, rows), n_shards=4).collect()
    assert sum(r.n_docs for r in m) == 20
    assert sum(r.total_tokens for r in m) == sum(i + 1 for i in range(20))
    # shard assignment is deterministic: manifest equals a recompute
    again = shard_manifest(_docs(spark, rows), n_shards=4).collect()
    assert sorted(map(tuple, m)) == sorted(map(tuple, again))
    # physical export: partitionBy(shard) → reader-side partition pruning
    out = str(tmp_path / "sharded")
    with_shard(_docs(spark, rows), n_shards=4).write.partitionBy(
        "shard"
    ).parquet(out)
    back = spark.read.parquet(out).filter(F.col("shard") == 2)
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(shard" in plan, plan


# ------------------------------------------------------------- invariants --
def test_decontaminate_invariants_random(spark):
    """Property sweep on seeded random corpora: output covers exactly the
    train split, overlap is bounded by the shingle count, and flags agree
    with the ratio."""
    import random

    rnd = random.Random(99)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 12))))
        for i in range(60)
    ]
    out = decontaminate(_docs(spark, rows), eval_pct=30, threshold=0.3).collect()
    train_ids = {i for i, _ in rows if _bucket_salt(i, "decon#") >= 30}
    assert {r.doc_id for r in out} == train_ids
    for r in out:
        assert 0 <= r.n_overlap <= r.n_shingles
        assert r.contaminated == (r.n_overlap / r.n_shingles >= 0.3)


def _bucket_salt(doc_id: int, salt: str) -> int:
    h = hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()
    return int(h[:8], 16) % 100


def test_bm25_tf_monotone(spark):
    """More occurrences of a query term (same dl) → strictly higher
    score: the BM25 tf saturation curve is increasing."""
    corpus = [
        (1, "t x x x"), (2, "t t x x"), (3, "t t t x"),
        (4, "y y y y"), (5, "z z z z"),
    ]
    out = {
        r.doc_id: float(r.score)
        for r in bm25_topk(_docs(spark, corpus), ["t"], k=10).collect()
    }
    assert out[1] < out[2] < out[3]
    assert set(out) == {1, 2, 3}


def test_repetition_stats_bounds_random(spark):
    import random

    rnd = random.Random(5)
    rows = [
        (i, " ".join(rnd.choice("abcdef") for _ in range(rnd.randint(1, 30))))
        for i in range(50)
    ]
    for r in repetition_stats(_docs(spark, rows)).collect():
        assert 1 <= r.n_distinct <= r.n_tokens
        assert 0 < float(r.top_word_frac) <= 1
        assert 0 <= float(r.top_bigram_frac) <= 1
        assert 0 < float(r.distinct_ratio) <= 1


# ------------------------------------------------------------ redact_pii --
def test_redact_pii_patterns(spark):
    from healthcare_aws_data_engineering_spark.operators.text import redact_pii
    from pyspark.sql import functions as F

    rows = [
        (1, "contact john.doe+x@example.co.uk or call 415-555-1234 now"),
        (2, "server at 10.0.42.7 leaked ssn 123-45-6789"),
        (3, "clean text with numbers 12345 and date 2024-01-01"),
    ]
    df = _docs(spark, rows).select(
        "doc_id",
        redact_pii(F.col("text")).alias("red"),
    )
    out = {r.doc_id: r for r in df.collect()}
    assert "[EMAIL]" in out[1].red and "[PHONE]" in out[1].red
    assert "john.doe" not in out[1].red and "555-1234" not in out[1].red
    assert "[IP]" in out[2].red and "[SSN]" in out[2].red
    # conservative: plain numbers and ISO dates survive
    assert out[3].red == rows[2][1]


# --------------------------------------------------------------- lm_score --
def test_lm_score_python_model(spark):
    import math

    from healthcare_aws_data_engineering_spark.plans.curation_queries import lm_score

    rows = [(1, "a a b"), (2, "b c"), (3, "a c c")]
    toks = [w for _, t in rows for w in t.split()]
    n = len(toks)
    cnt = {w: toks.count(w) for w in set(toks)}
    # replicate the decimal grid: round each logprob to 6 dp, exact sum
    from decimal import Decimal, ROUND_HALF_UP

    def lpd(w):
        return Decimal(repr(math.log(cnt[w] / n))).quantize(
            Decimal("0.000001"), ROUND_HALF_UP
        )

    out = {r.doc_id: r for r in lm_score(_docs(spark, rows)).collect()}
    for i, t in rows:
        ws = t.split()
        expect = float(sum(lpd(w) for w in ws)) / len(ws)
        assert abs(float(out[i].mean_logprob) - expect) < 2e-6, (i, out[i])
        assert out[i].n_tokens == len(ws)


def test_lm_score_flags_rare_doc(spark):
    from healthcare_aws_data_engineering_spark.plans.curation_queries import lm_score

    # one doc of singleton words vs many docs of a common word: the
    # singleton doc scores far below and is flagged at a mid threshold.
    rows = [(i, "x x x x") for i in range(9)] + [(9, "q w e r")]
    out = {r.doc_id: r for r in lm_score(_docs(spark, rows), threshold=-2.0).collect()}
    assert out[9].lm_flag and not out[0].lm_flag
    assert float(out[9].mean_logprob) < float(out[0].mean_logprob)


# --------------------------------------------------------------- rrf_fuse --
def test_rrf_fuse_matches_python_model(spark):
    from decimal import ROUND_HALF_UP, Decimal

    from healthcare_aws_data_engineering_spark.operators.retrieval import rrf_fuse

    kw = spark.createDataFrame(
        [(d, r) for r, d in enumerate([10, 11, 12, 13, 14], start=1)],
        "doc_id long, rank int",
    )
    sem = spark.createDataFrame(
        [(13, 1), (14, 2), (20, 3), (21, 4)], "doc_id long, rank int"
    )
    got = {
        row["doc_id"]: row
        for row in rrf_fuse(kw, sem, k=10, c=60).collect()
    }

    def snap(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    kw_ranks = {10: 1, 11: 2, 12: 3, 13: 4, 14: 5}
    sem_ranks = {13: 1, 14: 2, 20: 3, 21: 4}
    expected = {}
    for d in set(kw_ranks) | set(sem_ranks):
        s = (1.0 / (60 + kw_ranks[d]) if d in kw_ranks else 0.0) + (
            1.0 / (60 + sem_ranks[d]) if d in sem_ranks else 0.0
        )
        expected[d] = snap(s)
    assert set(got) == set(expected)
    for d, row in got.items():
        assert row["rrf_score"] == expected[d], d
        assert row["kw_rank"] == kw_ranks.get(d)
        assert row["sem_rank"] == sem_ranks.get(d)
    # both-leg docs outrank single-leg docs of similar depth; rank is the
    # unique (score DESC, doc_id) order
    order = sorted(got.values(), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in order[:2]] == [13, 14]


def test_rrf_fuse_k_truncates_on_unique_order(spark):
    from healthcare_aws_data_engineering_spark.operators.retrieval import rrf_fuse

    # ties on score (disjoint legs, same ranks) break by doc_id ASC
    kw = spark.createDataFrame([(5, 1), (3, 2)], "doc_id long, rank int")
    sem = spark.createDataFrame([(4, 1), (2, 2)], "doc_id long, rank int")
    rows = rrf_fuse(kw, sem, k=3, c=60).orderBy("rank").collect()
    assert [r["doc_id"] for r in rows] == [4, 5, 2]


# ------------------------------------------------------------- dsir_select --
def _dsir_model(rows, target="en", buckets=256, k=2):
    """Pure-Python DSIR model (unsnapped floats — engine snaps each ln
    to the DECIMAL(18,6) grid, so scores agree to ~1e-3 over ~100
    features)."""
    from collections import Counter

    def feats(text):
        ws = text.strip().split()
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % buckets

    rc: Counter = Counter()
    tc: Counter = Counter()
    for _did, lang, text in rows:
        for f in feats(text):
            b = bucket(f)
            rc[b] += 1
            if lang == target:
                tc[b] += 1
    rn, tn = sum(rc.values()), sum(tc.values())
    lr = {
        b: math.log((tc.get(b, 0) + 1) / (tn + buckets))
        - math.log((rc[b] + 1) / (rn + buckets))
        for b in rc
    }
    scored = []
    for did, lang, text in rows:
        if lang == target:
            continue
        fs = feats(text)
        s = sum(lr[bucket(f)] for f in fs)
        u = (
            int(hashlib.md5(f"gumbel#{did}".encode()).hexdigest()[:8], 16) + 0.5
        ) / 2**32
        scored.append((did, len(fs), s, s + (-math.log(-math.log(u)))))
    scored.sort(key=lambda r: (-r[3], r[0]))
    return scored[:k]


_DSIR_ROWS = [
    (1, "en", "alpha beta gamma delta epsilon zeta"),
    (2, "en", "alpha gamma epsilon beta delta alpha"),
    (3, "en", "beta delta zeta alpha gamma epsilon"),
    # en-like candidate: drawn from the target vocabulary
    (10, "fr", "alpha beta gamma delta alpha beta gamma delta alpha beta "
               "gamma delta alpha beta gamma delta alpha beta gamma delta"),
    # unlike candidates: vocabulary never seen in the target slice
    (11, "fr", "zebre quux blorp frim zap nolk zebre quux blorp frim zap "
               "nolk zebre quux blorp frim zap nolk zebre quux"),
    (12, "de", "wolke berg fluss tal stein moos wolke berg fluss tal stein "
               "moos wolke berg fluss tal stein moos wolke berg"),
]


def test_dsir_matches_python_model(spark):
    from healthcare_aws_data_engineering_spark.operators.selection import dsir_select

    df = spark.createDataFrame(_DSIR_ROWS, "doc_id long, lang string, text string")
    got = dsir_select(df, k=3).collect()
    want = _dsir_model(_DSIR_ROWS, k=3)
    assert [r.doc_id for r in got] == [w[0] for w in want]
    for r, w in zip(got, want):
        assert r.n_feats == w[1]
        assert r.log_weight == pytest.approx(w[2], abs=1e-3)
        assert r.dsir_score == pytest.approx(w[3], abs=1e-3)


def test_dsir_prefers_target_like_docs_and_excludes_target(spark):
    """The en-vocabulary candidate out-weighs the never-seen-vocabulary
    ones by ~tens of nats — far beyond Gumbel noise — so it ranks first;
    target-slice docs never appear in the output."""
    from healthcare_aws_data_engineering_spark.operators.selection import dsir_select

    df = spark.createDataFrame(_DSIR_ROWS, "doc_id long, lang string, text string")
    out = dsir_select(df, k=3).collect()
    assert out[0].doc_id == 10
    assert out[0].log_weight > out[1].log_weight + 10
    assert {r.doc_id for r in out} == {10, 11, 12}


def test_dsir_plan_broadcasts_ratio_table(spark):
    """The bounded log-ratio table must reach the per-doc scorer as a
    broadcast, never a shuffled join, and nothing may cartesian."""
    from healthcare_aws_data_engineering_spark.operators.selection import dsir_select

    df = spark.createDataFrame(_DSIR_ROWS, "doc_id long, lang string, text string")
    plan = _plan(dsir_select(df))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


_WS_ROWS = [
    # consecutive spaces, tabs, newlines: the two engines must tokenize
    # identically (both split on \s+), or features silently diverge
    (1, "en", "alpha  beta\tgamma\ndelta  epsilon zeta", "web"),
    (2, "en", "alpha gamma  epsilon\t\tbeta delta alpha", "web"),
    (3, "en", "beta\n\ndelta zeta  alpha gamma epsilon", "web"),
    (10, "fr", "alpha  beta\tgamma delta alpha beta\ngamma  delta alpha beta",
     "web"),
    (11, "fr", "zebre\tquux  blorp frim zap nolk zebre  quux\tblorp frim",
     "books"),
    (12, "de", "wolke berg\t fluss  tal stein moos wolke\nberg fluss tal",
     "books"),
]


def test_dsir_oracle_agrees_on_messy_whitespace(spark):
    """Regression pin for the r5 latent tokenizer gap: dsir_sql used to
    split on a literal single space while dsir_select splits on \\s+ —
    green on the single-spaced gate corpus, divergent on any document
    with a double space / tab / newline. Both engines must now produce
    identical features (and thus identical scores) on messy whitespace."""
    import duckdb
    import pandas as pd

    from healthcare_aws_data_engineering_spark.operators.selection import (
        dsir_select,
        dsir_sql,
    )

    df = spark.createDataFrame(
        [(d, l, t) for d, l, t, _s in _WS_ROWS],
        "doc_id long, lang string, text string",
    )
    got = dsir_select(df, k=3).collect()

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            [(d, l, t) for d, l, t, _s in _WS_ROWS],
            columns=["doc_id", "lang", "text"],
        ),
    )
    want = con.sql(dsir_sql("documents", k=3)).fetchall()
    assert [r.doc_id for r in got] == [w[0] for w in want]
    for r, w in zip(got, want):
        assert r.n_feats == w[1]
        assert r.log_weight == pytest.approx(w[2], abs=1e-9)
        assert r.dsir_score == pytest.approx(w[3], abs=1e-9)


def test_zipf_oracle_agrees_on_messy_whitespace(spark, tmp_path):
    """Same pin for the zipf_slope oracle (plans/corpus_queries.py): the
    full driver query and its DuckDB oracle run on a messy-whitespace
    documents table written to parquet, and must agree exactly."""
    import duckdb
    import pandas as pd

    from healthcare_aws_data_engineering_spark.plans.corpus_queries import (
        _ZIPF_SLOPE_SQL,
        q_zipf_slope,
    )

    pdf = pd.DataFrame(
        [(d, t, l, s, len(t)) for d, l, t, s in _WS_ROWS],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    got = {
        r.source: r for r in q_zipf_slope(spark, str(tmp_path)).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    want = con.sql(_ZIPF_SLOPE_SQL).fetchall()
    assert len(got) == len(want)
    for src, n_terms, slope, intercept in want:
        r = got[src]
        assert r.n_terms == n_terms
        assert r.zipf_slope == pytest.approx(slope, abs=1e-12)
        assert r.zipf_intercept == pytest.approx(intercept, abs=1e-12)


# ------------------------------------------------------- bloom_decontam --


def test_bloom_geometry_textbook():
    from healthcare_aws_data_engineering_spark.operators.decontam import (
        _bloom_geometry,
    )

    m, k = _bloom_geometry(1000, 0.01)
    # m = -n ln p / ln2^2 ~ 9585 -> word-aligned; k = m/n * ln2 ~ 7
    assert m % 64 == 0 and 9585 <= m <= 9664
    assert k == 7
    # degenerate n is clamped, never a zero-size filter
    m0, k0 = _bloom_geometry(0, 0.01)
    assert m0 >= 64 and k0 >= 1


def test_bloom_bitset_has_no_false_negatives(spark):
    """Every member of the build set must probe true — the property the
    result-identity of bloom_decontaminate rests on."""
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators.decontam import (
        _bloom_geometry,
        _might_contain,
        bloom_bitset_bytes,
    )

    members = spark.range(500).select(
        F.concat(F.lit("shingle "), F.col("id")).alias("shingle")
    )

    m, k = _bloom_geometry(500, 0.01)
    bs = bloom_bitset_bytes(members, m, k)
    assert len(bs) == m // 8
    probed = members.select(
        _might_contain(F.col("shingle"), F.lit(bs), m, k).alias("hit")
    )
    assert probed.filter(~F.col("hit")).count() == 0


def test_bloom_bitset_word_fold_matches_per_byte_layout(spark):
    """r10 advice: the bitset aggregation folds into 64-bit words
    (≤ m/64 driver rows, was one Row per non-zero BYTE). The bytes must
    be IDENTICAL to the documented per-byte layout (bit p in byte
    p DIV 8 at weight 1 << (p % 8)) — rebuilt here independently in
    Python from the raw positions, covering the signed-long bit-63 edge
    the little-endian word split has to mask."""
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators.decontam import (
        _bloom_geometry,
        _bloom_positions,
        bloom_bitset_bytes,
    )

    members = spark.range(300).select(
        F.concat(F.lit("w "), F.col("id")).alias("shingle")
    )
    m, k = _bloom_geometry(300, 0.01)
    bs = bloom_bitset_bytes(members, m, k)
    pos = {
        r.pos
        for r in members.select(
            F.explode(_bloom_positions(F.col("shingle"), m, k)).alias("pos")
        ).collect()
    }
    ref = bytearray(m // 8)
    for p in pos:
        ref[p // 8] |= 1 << (p % 8)
    assert bs == bytes(ref)
    # the corpus must exercise a top bit of some word, else the signed
    # masking path went untested
    assert any(p % 64 == 63 for p in pos)


def test_bloom_bitset_rejects_non_word_aligned_m(spark):
    """r11 advice: the word-folded writer emits 8-byte runs, so an m
    that is byte-aligned but not WORD-aligned (e.g. 520) would silently
    grow the bytearray past m/8 via slice-assign extension. The public
    function must reject it up front (_bloom_geometry never produces
    one — pinned by the % 64 assertion in
    test_bloom_geometry_textbook)."""
    import pytest
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators.decontam import (
        bloom_bitset_bytes,
    )

    members = spark.range(3).select(
        F.concat(F.lit("s "), F.col("id")).alias("shingle")
    )
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_bitset_bytes(members, 520, 3)


def test_bloom_bitset_false_positive_rate_near_target(spark):
    """Non-members must probe true at ~fpp, not wholesale — otherwise the
    'pruned candidate fraction' claim is empty."""
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators.decontam import (
        _bloom_geometry,
        _might_contain,
        bloom_bitset_bytes,
    )

    members = spark.range(2000).select(
        F.concat(F.lit("in "), F.col("id")).alias("shingle")
    )
    outsiders = spark.range(20000).select(
        F.concat(F.lit("out "), F.col("id")).alias("shingle")
    )
    m, k = _bloom_geometry(2000, 0.01)
    bs = bloom_bitset_bytes(members, m, k)
    fp = (
        outsiders.select(
            _might_contain(F.col("shingle"), F.lit(bs), m, k).alias("hit")
        )
        .filter("hit")
        .count()
    )
    assert fp / 20000 < 0.03, fp  # target 0.01, generous margin


def test_bloom_decontaminate_equals_exact(spark):
    """The scale path and the exact path must be row-identical — same
    statement the shared driver oracle makes, pinned in-suite."""
    from healthcare_aws_data_engineering_spark.operators.decontam import (
        bloom_decontaminate,
        decontaminate,
    )
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = sorted(map(tuple, decontaminate(docs).collect()))
    b = sorted(map(tuple, bloom_decontaminate(docs).collect()))
    assert a == b
    assert len(a) > 0


def test_bloom_decontaminate_releases_its_cache(spark):
    """r6 verdict #4: repeated calls in a long-lived session must not
    accumulate one persisted eval-shingle set per call — the operator
    returns with nothing left in the persistent-RDD registry (beyond
    whatever the session already had)."""
    from healthcare_aws_data_engineering_spark.operators.decontam import (
        bloom_decontaminate,
    )
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = bloom_decontaminate(docs)
    assert jsc.getPersistentRDDs().size() == before  # eager phase released it
    assert out.count() > 0  # lazy verify leg recomputes, no cache needed
    assert jsc.getPersistentRDDs().size() == before


# ------------------------------------------------ bigram LM score (r14) --
_BG_PATTERNS = [
    "the cat sat on the mat",
    "the dog sat on the mat",
    "the cat sat on the rug",
    "the dog sat on the rug",
]
# 20 natural docs (5 repeats of each pattern) give real bigrams counts
# the Laplace floor cannot drown; doc 21 is word salad — every WORD is
# corpus-common, every BIGRAM novel, the order-1 signal the unigram
# filter cannot see; doc 22 has no bigram and must get no row
_BG_DOCS = (
    [(i + 1, _BG_PATTERNS[i % 4]) for i in range(20)]
    + [(21, "mat the on cat dog sat"), (22, "x")]
)


def _bg_python_twin(rows):
    """Exact python replica of bigram_lm_score's math (decimal snaps,
    decimal sums) for the fixture corpus."""
    from decimal import ROUND_HALF_UP, Decimal

    def snap(x):
        return Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )

    uni: dict[str, int] = {}
    big: dict[tuple[str, str], int] = {}
    for _, text in rows:
        ws = text.split()
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    v = len(uni)
    out = {}
    for did, text in rows:
        ws = text.split()
        if len(ws) < 2:
            continue
        s = Decimal(0)
        n = 0
        for a, b in zip(ws, ws[1:]):
            p = (big.get((a, b), 0) + 1) / (uni[a] + v)
            s += snap(math.log(p))
            n += 1
        mean = float(s) / n
        out[did] = (n, float(snap(mean)))
    return out


def test_bigram_lm_matches_python_twin(spark):
    docs = spark.createDataFrame(_BG_DOCS, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.mean_bigram_logprob)
        for r in cq.bigram_lm_score(docs).collect()
    }
    want = _bg_python_twin(_BG_DOCS)
    assert set(got) == set(want)
    for did, (n, m) in want.items():
        assert got[did][0] == n
        assert got[did][1] == pytest.approx(m, abs=2e-6)


def test_bigram_lm_flags_word_salad_where_unigram_cannot(spark):
    docs = spark.createDataFrame(_BG_DOCS, "doc_id long, text string")
    bg = {
        r.doc_id: r.mean_bigram_logprob
        for r in cq.bigram_lm_score(docs).collect()
    }
    naturals = [bg[d] for d in range(1, 21)]
    assert bg[21] < min(naturals) - 1.0, (bg[21], naturals)
    # the unigram filter sees nothing: doc 21 reuses only corpus-common
    # words, so its mean unigram logprob sits inside the natural band
    uni = {
        r.doc_id: r.mean_logprob for r in cq.lm_score(docs).collect()
    }
    assert min(uni[d] for d in range(1, 21)) - 0.5 <= uni[21]
    # a threshold between the bands flags exactly the salad
    mid = (bg[21] + min(naturals)) / 2
    flags = {
        r.doc_id: r.bigram_lm_flag
        for r in cq.bigram_lm_score(docs, threshold=mid).collect()
    }
    assert flags[21] and not any(flags[d] for d in range(1, 21))


def test_bigram_lm_short_docs_have_no_row_and_runs_deterministic(spark):
    docs = spark.createDataFrame(_BG_DOCS, "doc_id long, text string")
    a = sorted(map(tuple, cq.bigram_lm_score(docs).collect()))
    b = sorted(map(tuple, cq.bigram_lm_score(docs).collect()))
    assert a == b
    assert 22 not in {t[0] for t in a}
