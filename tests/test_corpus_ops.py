"""Semantics + plan-shape tests for the round-3 corpus operators
(span_dedup / chunk_documents / cms_heavy_hitters / mix_weights /
source_overlap / json_props).

Each operator is checked against an independent pure-Python model (not
the DuckDB oracle — that parity runs in the driver gate), so a shared
systematic bug in the SQL twin can't hide here.
"""

from __future__ import annotations

import collections

import pytest

from conftest import n_exchanges as _n_exchanges, plan_string as _plan
from healthcare_aws_data_engineering_spark.operators.chunking import chunk_documents
from healthcare_aws_data_engineering_spark.operators.sketch import cms_heavy_hitters
from healthcare_aws_data_engineering_spark.operators.spans import span_dedup
from healthcare_aws_data_engineering_spark.plans import corpus_queries as cq

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# -------------------------------------------------------------- span_dedup --


def _py_span_dedup(rows, k):
    """Reference model: global keep-first over non-overlapping k-token
    blocks, ordered by (doc_id, span_idx)."""
    seen = set()
    out = {}
    for doc_id, text in sorted(rows):
        toks = text.split(" ")
        kept = []
        n_spans = 0
        for s in range(0, len(toks), k):
            span = " ".join(toks[s : s + k])
            n_spans += 1
            if span not in seen:
                seen.add(span)
                kept.append(span)
        out[doc_id] = (n_spans, len(kept), " ".join(kept))
    return out


def test_span_dedup_matches_python_model(spark):
    rows = [
        (1, "a b c d e f g h i j"),          # spans: [a..h], [i j]
        (2, "a b c d e f g h x y"),          # first span repeats doc 1's
        (3, "i j"),                          # repeats doc 1's tail span
        (4, "q r"),                          # unique
    ]
    got = {
        r["doc_id"]: (r["n_spans"], r["n_kept"], r["dedup_text"])
        for r in span_dedup(_docs(spark, rows), emit_text=True).collect()
    }
    assert got == _py_span_dedup(rows, 8)
    # doc 2 lost its first block, doc 3 lost everything
    assert got[2][2] == "x y"
    assert got[3] == (1, 0, "")


def test_span_dedup_within_doc_repeat(spark):
    # the SAME block twice inside one document dedups too (span_idx order)
    rows = [(7, "a b c d e f g h a b c d e f g h")]
    got = span_dedup(_docs(spark, rows), emit_text=True).collect()[0]
    assert (got["n_spans"], got["n_kept"]) == (2, 1)
    assert got["dedup_text"] == "a b c d e f g h"


def test_span_dedup_corpus_invariants(spark):
    out = cq.q_span_dedup(spark, SF).collect()
    total_kept = sum(r["n_kept"] for r in out)
    total_spans = sum(r["n_spans"] for r in out)
    # kept == number of DISTINCT spans in the corpus, and <= total
    from healthcare_aws_data_engineering_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    toks = F.split(F.col("text"), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    distinct_spans = (
        docs.select(F.explode(spans).alias("s")).distinct().count()
    )
    assert total_kept == distinct_spans < total_spans


def test_span_dedup_plan_shape(spark):
    # fingerprint window + reassembly agg: exactly 2 shuffles, no more
    plan = _plan(cq.q_span_dedup(spark, SF))
    assert _n_exchanges(plan) == 2


# ----------------------------------------------------------------- chunking --


def test_chunks_match_python_model(spark):
    rows = [(1, " ".join(f"t{i}" for i in range(150))), (2, "a b"), (3, "x")]
    got = chunk_documents(
        _docs(spark, rows), window=64, stride=48, emit_text=True
    ).collect()
    by_doc = collections.defaultdict(list)
    for r in got:
        by_doc[r["doc_id"]].append(r)
    for doc_id, text in rows:
        toks = text.split(" ")
        starts = list(range(0, len(toks), 48))
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        assert [c["start_tok"] for c in chunks] == starts
        for c in chunks:
            s = c["start_tok"]
            assert c["chunk_text"] == " ".join(toks[s : s + 64])
            assert c["chunk_tokens"] == len(toks[s : s + 64])
    # overlap: consecutive chunks of doc 1 share window - stride tokens
    c0, c1 = by_doc[1][0], by_doc[1][1]
    assert c0["chunk_text"].split(" ")[48:] == c1["chunk_text"].split(" ")[:16]


def test_chunks_cover_every_token(spark):
    out = cq.q_doc_chunks(spark, SF)
    from pyspark.sql import functions as F

    per_doc = out.groupBy("doc_id").agg(
        F.max(F.col("start_tok") + F.col("chunk_tokens")).alias("covered"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    joined = per_doc.join(docs, "doc_id").collect()
    assert joined and all(r["covered"] == r["n_tok"] for r in joined)


def test_chunks_zero_shuffle_plan(spark):
    plan = _plan(cq.q_doc_chunks(spark, SF))
    assert _n_exchanges(plan) == 0


# ---------------------------------------------------------- cms heavy hitters --


def test_cms_never_underestimates_and_exact_on_testdata(spark):
    rows = cq.q_heavy_hitters(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["cms_count"] >= r["true_count"]
    # independent exact counts for the same words
    from healthcare_aws_data_engineering_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    truth = dict(
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )
    for r in rows:
        assert r["true_count"] == truth[r["value"]]


def test_cms_collision_overestimates(spark):
    # Force a tiny sketch so collisions are certain: width=2, depth=1.
    df = _docs(
        spark, [(i, w) for i, w in enumerate(["a"] * 5 + ["b"] * 3 + ["c"] * 2)]
    ).selectExpr("text as w")
    out = {
        r["value"]: (r["true_count"], r["cms_count"])
        for r in cms_heavy_hitters(df, "w", top_k=3, depth=1, width=2).collect()
    }
    assert set(out) == {"a", "b", "c"}
    assert all(est >= true for true, est in out.values())
    # 3 words into 2 cells: some word MUST share a cell (pigeonhole)
    assert any(est > true for true, est in out.values())


# -------------------------------------------------------------- mix_weights --


def test_mix_weights_normalized_and_monotone(spark):
    rows = cq.q_mix_weights(spark, SF).collect()
    assert rows
    total_share = sum(r["share_e6"] for r in rows)
    # rounding each share to the 1e-6 grid: off by at most 1 ulp/source
    assert abs(total_share - 1_000_000) <= len(rows)
    ordered = sorted(rows, key=lambda r: r["n_tokens"])
    weights = [r["weight_u6"] for r in ordered]
    assert weights == sorted(weights)  # sqrt is monotone
    for r in rows:
        assert 0 <= r["docs_per_epoch"] <= cq.MIX_EPOCH_DOCS


# ----------------------------------------------------------- source_overlap --


def test_source_overlap_pairs_ordered_and_positive(spark):
    rows = cq.q_source_overlap(spark, "/root/testdata/sf0.01").collect()
    assert rows  # sf0.01 has known cross-source prefix collisions
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert r["n_shared_fps"] >= 1


# --------------------------------------------------------------- json_props --


def test_json_props_totals(spark):
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    rows = cq.q_json_props(spark, SF).collect()
    n_events = load_table(spark, SF, "events").count()
    assert sum(r["n_events"] for r in rows) == n_events
    for r in rows:
        assert r["n_with_k"] <= r["n_events"]
        assert r["min_k"] <= r["max_k"]


# -------------------------------------------------------------- dup_ngrams --
def test_duplicated_ngrams_matches_python_model(spark):
    from collections import Counter

    from healthcare_aws_data_engineering_spark.plans.corpus_queries import (
        duplicated_ngrams,
    )

    texts = [
        "a b c d a b c d",   # internal repeat of 'a b c' (n=3)
        "a b c d x y z w",   # shares leading 4-gram with doc 0
        "x y z w q r s t",
        "short doc",          # below n tokens → contributes nothing
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["gram"]: (r["n_docs"], r["occurrences"])
        for r in duplicated_ngrams(docs, n=3, k=100).collect()
    }

    per_doc: list[Counter] = []
    for t in texts:
        ws = t.split()
        per_doc.append(
            Counter(
                " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
            )
            if len(ws) >= 3
            else Counter()
        )
    expected = {}
    grams = set().union(*per_doc)
    for g in grams:
        n_docs = sum(1 for c in per_doc if g in c)
        if n_docs >= 2:
            expected[g] = (n_docs, sum(c[g] for c in per_doc))
    assert got == expected
    # doc 0's internal repeat counts once toward n_docs, twice toward occ
    assert got["a b c"] == (2, 3)


def test_duplicated_ngrams_top_k_order(spark):
    from healthcare_aws_data_engineering_spark.plans.corpus_queries import (
        duplicated_ngrams,
    )

    docs = spark.createDataFrame(
        [(i, "p q r s") for i in range(3)] + [(9, "u v w x"), (10, "u v w x")],
        "doc_id long, text string",
    )
    rows = duplicated_ngrams(docs, n=4, k=1).collect()
    assert len(rows) == 1 and rows[0]["gram"] == "p q r s"


def test_zipf_slope_recovers_power_law_and_flat(spark):
    """A synthetic corpus with freq(rank r) = 1000//r must fit slope ≈ -1;
    a uniform-frequency corpus must fit slope ≈ 0. Closed-form fit on the
    decimal-snapped ln grid, so tolerances are loose only for the floor()
    quantization of the synthetic counts."""
    from pyspark.sql import Row

    from healthcare_aws_data_engineering_spark.plans.corpus_queries import (
        ZIPF_TOP,
        q_zipf_slope,
    )

    rows = []
    doc_id = 0
    # zipfy: word w{r} appears floor(1000/r) times, r = 1..60
    for r in range(1, 61):
        for _ in range(1000 // r):
            rows.append(Row(doc_id=doc_id, text=f"w{r}", lang="en", source="zipfy"))
            doc_id += 1
    # flat: 30 words, 40 occurrences each
    for r in range(30):
        for _ in range(40):
            rows.append(Row(doc_id=doc_id, text=f"u{r}", lang="en", source="flat"))
            doc_id += 1
    docs = spark.createDataFrame(rows)

    import healthcare_aws_data_engineering_spark.plans.corpus_queries as cq
    import healthcare_aws_data_engineering_spark.sources.tables as tables

    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf_dir, name: docs
        cq.load_table = tables.load_table
        out = {r.source: r for r in q_zipf_slope(spark, "unused").collect()}
    finally:
        tables.load_table = orig
        cq.load_table = orig
    assert out["zipfy"].n_terms == 60 <= ZIPF_TOP
    assert out["zipfy"].zipf_slope == pytest.approx(-1.0, abs=0.05)
    assert out["flat"].n_terms == 30
    assert out["flat"].zipf_slope == pytest.approx(0.0, abs=1e-6)


# --------------------------------------------------------- repeated_spans --


def _py_repeated_spans(rows, L, min_count):
    """Reference model: hash-count stride-1 windows, mark positions of
    windows repeating >= min_count corpus-wide (within-doc included),
    merge overlapping/adjacent marked windows into maximal spans."""
    wins: dict[str, int] = {}
    per_doc: dict[int, list[tuple[int, str]]] = {}
    for doc_id, text in rows:
        ws = text.split()
        for i in range(0, len(ws) - L + 1):
            g = " ".join(ws[i : i + L])
            wins[g] = wins.get(g, 0) + 1
            per_doc.setdefault(doc_id, []).append((i, g))
    out = {}
    for doc_id, lst in per_doc.items():
        marked = sorted(i for i, g in lst if wins[g] >= min_count)
        spans: list[list[int]] = []
        for i in marked:
            if spans and i <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], i + L)
            else:
                spans.append([i, i + L])
        for idx, (s, e) in enumerate(spans, 1):
            out.setdefault(doc_id, []).append((idx, s, e, e - s))
    return out


def test_repeated_spans_matches_python_model(spark):
    from healthcare_aws_data_engineering_spark.operators.spans import (
        repeated_spans,
    )

    rows = [
        # docs 1 and 2 share the 10-token run "c1..c10" at different
        # offsets -> every window inside it repeats; windows must merge
        # into ONE maximal span per doc covering the whole run
        (1, "a b c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 x y z"),
        (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 q r"),
        # doc 3 repeats an 8-token run WITHIN itself (within-doc counts)
        (3, "m1 m2 m3 m4 m5 m6 m7 m8 gap1 gap2 m1 m2 m3 m4 m5 m6 m7 m8"),
        # doc 4 shares nothing
        (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
        # doc 5: TWO separated repeats of doc 1/2's run prefix -> two islands
        (5, "c1 c2 c3 c4 c5 c6 c7 c8 sep1 sep2 sep3 c1 c2 c3 c4 c5 c6 c7 c8"),
    ]
    got: dict[int, list] = {}
    out = repeated_spans(_docs(spark, rows), window=8, min_count=2).collect()
    for r in sorted(out, key=lambda r: (r.doc_id, r.span_idx)):
        got.setdefault(r.doc_id, []).append(
            (r.span_idx, r.start_tok, r.end_tok, r.span_tokens)
        )
    want = _py_repeated_spans(rows, 8, 2)
    assert got == want
    # the load-bearing shapes, stated explicitly:
    assert got[1] == [(1, 2, 12, 10)]     # one maximal span over the run
    assert got[2] == [(1, 0, 10, 10)]
    # within-doc repeat: both copies of the 8-run are marked (the count
    # is corpus-wide occurrences), but the windows STRADDLING the gap
    # occur once, so the copies stay two islands — [0,8) and [10,18)
    assert got[3] == [(1, 0, 8, 8), (2, 10, 18, 8)]
    assert 4 not in got                   # unique doc yields nothing
    assert len(got[5]) == 2               # separated repeats stay separate


def test_repeated_spans_corpus_invariants(spark):
    from healthcare_aws_data_engineering_spark.operators.spans import (
        REP_SPAN_L,
        repeated_spans,
    )
    from healthcare_aws_data_engineering_spark.operators.text import tokens
    from pyspark.sql import functions as F

    docs = cq.load_table(spark, SF, "documents")
    out = repeated_spans(docs).persist()
    rows = out.collect()
    assert len(rows) > 0  # the synthetic corpus has boilerplate overlaps
    # spans are well-formed: end > start, length >= window, within doc
    n_tok = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(tokens(F.col("text"))).alias("n")
        ).collect()
    }
    per_doc: dict[int, list] = {}
    for r in rows:
        assert r.span_tokens == r.end_tok - r.start_tok >= REP_SPAN_L
        assert 0 <= r.start_tok and r.end_tok <= n_tok[r.doc_id]
        per_doc.setdefault(r.doc_id, []).append(r)
    # islands are disjoint and span_idx is dense in position order
    for doc_id, spans in per_doc.items():
        spans.sort(key=lambda r: r.span_idx)
        assert [r.span_idx for r in spans] == list(range(1, len(spans) + 1))
        for a, b in zip(spans, spans[1:]):
            assert a.end_tok < b.start_tok  # gap > 0: truly maximal islands
    out.unpersist()


def test_repeated_spans_random_corpus_matches_model(spark):
    """Seeded random corpus over a 5-word alphabet (dense window
    collisions, heavy merging, empty/short docs) — the whole output must
    equal the python model, window=3."""
    import random

    from healthcare_aws_data_engineering_spark.operators.spans import (
        repeated_spans,
    )

    rng = random.Random(11)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20))))
        for i in range(200)
    ]
    got: dict[int, list] = {}
    for r in repeated_spans(_docs(spark, rows), window=3, min_count=2).collect():
        got.setdefault(r.doc_id, []).append(
            (r.span_idx, r.start_tok, r.end_tok, r.span_tokens)
        )
    for v in got.values():
        v.sort()
    want = _py_repeated_spans(rows, 3, 2)
    for v in want.values():
        v.sort()
    assert got == want


# ------------------------------------------------------------- span_scrub --


def _py_scrub(rows, L, min_count):
    """Reference model: corpus-wide window counts; FIRST occurrence of a
    repeated window (min (doc_id, pos)) survives, every other occurrence
    marks [pos, pos+L) for removal; kept text = uncovered tokens."""
    wins: dict[str, list] = {}
    toks = {}
    for doc_id, text in rows:
        ws = text.split()
        toks[doc_id] = ws
        for i in range(0, len(ws) - L + 1):
            wins.setdefault(" ".join(ws[i : i + L]), []).append((doc_id, i))
    out = {}
    cut = {doc_id: set() for doc_id, _ in rows}
    for occ in wins.values():
        if len(occ) < min_count:
            continue
        for doc_id, i in sorted(occ)[1:]:
            cut[doc_id].update(range(i, i + L))
    import hashlib

    for doc_id, _ in rows:
        ws = toks[doc_id]
        kept = [w for i, w in enumerate(ws) if i not in cut[doc_id]]
        # n_cut_spans = islands of cut positions
        spans = 0
        prev = None
        for p in sorted(cut[doc_id]):
            if prev is None or p > prev + 1:
                spans += 1
            prev = p
        out[doc_id] = (
            len(ws),
            len(cut[doc_id]),
            len(ws) - len(cut[doc_id]),
            spans,
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


def test_span_scrub_matches_python_model(spark):
    import random

    from healthcare_aws_data_engineering_spark.operators.spans import (
        scrub_repeated,
    )

    rng = random.Random(13)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20))))
        for i in range(150)
    ] + [
        (900, "u1 u2 u3 u4 u5 u6 u7 u8"),
        (901, "u1 u2 u3 u4 u5 u6 u7 u8"),   # exact dup: fully scrubbed
        (902, ""),
    ]
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.n_kept, r.n_cut_spans, r.kept_fp)
        for r in scrub_repeated(_docs(spark, rows), window=3, min_count=2).collect()
    }
    assert got == _py_scrub(rows, 3, 2)
    # the exact-dup pair: first copy intact, second fully scrubbed to ''
    import hashlib
    assert got[900][2] == 8 and got[900][4] == hashlib.md5(
        b"u1 u2 u3 u4 u5 u6 u7 u8"
    ).hexdigest()
    assert got[901][2] == 0 and got[901][4] == hashlib.md5(b"").hexdigest()
    assert got[902] == (0, 0, 0, 0, hashlib.md5(b"").hexdigest())


def test_span_scrub_consistent_with_repeated_spans(spark):
    """Cross-operator invariant on the real corpus: scrubbing can only
    remove positions repeated_spans reports, and the total removed mass
    is bounded by the reported repeated mass; every doc appears."""
    from pyspark.sql import functions as F

    from healthcare_aws_data_engineering_spark.operators.spans import (
        repeated_spans,
        scrub_repeated,
    )
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    scrub = scrub_repeated(docs)
    rep = repeated_spans(docs)
    n_docs = docs.count()
    assert scrub.count() == n_docs  # one row per document, always
    removed = {r.doc_id: r.n_removed for r in scrub.collect()}
    reported = {
        r["doc_id"]: r["rep"]
        for r in rep.groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("rep"))
        .collect()
    }
    assert sum(removed.values()) > 0
    for doc_id, n_rem in removed.items():
        assert n_rem <= reported.get(doc_id, 0)
    # and something survives keep-first that pure reporting marks
    assert sum(removed.values()) < sum(reported.values())


# ------------------------------------------------------------ mixture_draw --


def test_mixture_draw_epoch_structure(spark):
    """Full epochs are EXACT (every doc of source s appears at epochs
    0..full-1), the partial epoch only ever adds epoch == full, the draw
    is deterministic, and per-source totals sit near their targets."""
    out = cq.q_mixture_draw(spark, SF).collect()
    again = cq.q_mixture_draw(spark, SF).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))  # replayable

    by_doc = collections.defaultdict(list)
    by_source = collections.Counter()
    for r in out:
        by_doc[(r.source, r.doc_id)].append(r.epoch)
        by_source[r.source] += 1
    # within one source every doc has the same floor(T/n) full epochs:
    # its epoch list is exactly range(full) or range(full+1)
    for (source, _doc), epochs in by_doc.items():
        es = sorted(epochs)
        assert es == list(range(len(es))), (source, es)
    full_by_source = {
        s: min(len(v) for (s2, _), v in by_doc.items() if s2 == s)
        for s in by_source
    }
    for (source, _doc), epochs in by_doc.items():
        assert len(epochs) - full_by_source[source] in (0, 1)


def test_mixture_draw_target_zero_source_emits_nothing(spark):
    """A source whose share rounds its target to 0 docs must contribute
    ZERO rows — this is the guard against Spark's descending
    sequence(0, -1) (the r8 fuzz seam), which would otherwise leak every
    doc of that source at epoch -1 past the epoch < full filter."""
    # 30 heavy sources (weight sqrt(40000)·1e6 = 200e6 each) vs one
    # 1-token source: share_tiny = 1/6001 → share_e6 ≈ 167 →
    # target = (2000·167) DIV 1e6 = 0. EXACTLY the degenerate domain.
    rows = [(0, "solo", "tiny")] + [
        (1 + s * 10 + d, "w " * 4000, f"b{s:02d}")
        for s in range(30)
        for d in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    import healthcare_aws_data_engineering_spark.plans.corpus_queries as m

    orig = m.load_table
    try:
        m.load_table = lambda _s, _d, _n: docs
        out = m.q_mixture_draw(spark, SF).collect()
    finally:
        m.load_table = orig
    tiny_rows = [r for r in out if r.source == "tiny"]
    assert not tiny_rows, f"target-0 source leaked {len(tiny_rows)} rows"
    assert out, "heavy sources must draw"
    assert all(r.epoch >= 0 for r in out), "negative epoch leaked"


def _data_memo_names(mod) -> list[str]:
    """Module-level dicts named like the banned memos (``_KNN_EDGES_CACHE``,
    ``_MIX_FACTORS``, ``_IVF_CENTROIDS``, ``_PQ_BOOKS``)."""
    return [
        n
        for n, v in vars(mod).items()
        if isinstance(v, dict) and n.startswith("_")
        and n.endswith(("_CACHE", "_FACTORS", "_CENTROIDS", "_BOOKS"))
    ]


def test_no_module_level_data_memos_in_query_modules():
    """r15 verdict #2 (generalized r16): no plan module may hold
    module-level DATA-derived state keyed on the corpus path — memoized
    collects (centroids, codebooks, factor tables, edge lists) survive
    the bench's warm-up/timed boundary and understate the index-build
    cost the oracle replays. Metadata-only caches (schemas) live in
    sources/tables.py and are exempt by the r15 verdict."""
    import healthcare_aws_data_engineering_spark.plans.analytics_queries as a
    import healthcare_aws_data_engineering_spark.plans.corpus_queries as c
    import healthcare_aws_data_engineering_spark.plans.training_data_queries as t

    for mod in (a, c, t):
        offenders = _data_memo_names(mod)
        assert not offenders, (mod.__name__, offenders)


def test_data_memo_scan_flags_an_injected_memo(monkeypatch):
    """The scan above must catch the upper-case names it bans."""
    import healthcare_aws_data_engineering_spark.plans.corpus_queries as c

    monkeypatch.setattr(c, "_X_CACHE", {}, raising=False)
    assert "_X_CACHE" in _data_memo_names(c)


def test_mixture_draw_exact_hits_targets_exactly(spark):
    """exact=True per-source totals equal full·n + target%n EXACTLY (no
    binomial slack), and the kept partial set is a PREFIX of the hash
    order — so whichever of exact/approximate keeps fewer partial rows,
    its kept set is contained in the other's."""
    import pyspark.sql.functions as F
    from healthcare_aws_data_engineering_spark.operators.text import token_count
    from healthcare_aws_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    # independent target model: replicate the share arithmetic in Python
    per = (
        docs.select("source", token_count(F.col("text")).cast("long").alias("t"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("t").alias("tok"))
        .collect()
    )
    import math

    wu = {r.source: round(math.sqrt(r.tok) * 1e6) for r in per}
    n_by = {r.source: r.n for r in per}
    total = sum(wu.values())
    target = {
        s: (cq.MIXTURE_DRAW_EPOCH_DOCS * round(1e6 * (w / total))) // 10**6
        for s, w in wu.items()
    }

    exact = cq.q_mixture_draw_exact(spark, SF).collect()
    counts = collections.Counter(r.source for r in exact)
    for s, t in target.items():
        assert counts.get(s, 0) == t, (s, counts.get(s, 0), t)

    # prefix property on the partial epoch (epoch == full)
    approx = cq.q_mixture_draw(spark, SF).collect()
    full = {s: target[s] // n_by[s] for s in target}
    part_e = {
        s: sorted(
            (r.draw_key, r.doc_id) for r in exact
            if r.source == s and r.epoch == full[s]
        )
        for s in target
    }
    part_a = {
        s: sorted(
            (r.draw_key, r.doc_id) for r in approx
            if r.source == s and r.epoch == full[s]
        )
        for s in target
    }
    assert any(part_e[s] for s in target)  # partial epochs exist at this SF
    for s in target:
        lo, hi = sorted((part_e[s], part_a[s]), key=len)
        assert hi[: len(lo)] == lo, s
        # exact partial count is exactly target % n
        assert len(part_e[s]) == target[s] % n_by[s], s


def test_mixture_draw_exact_replayable_and_no_global_sort(spark):
    out = cq.q_mixture_draw_exact(spark, SF)
    a = out.collect()
    b = out.collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # the plan must not sort a whole source on one task: every Sort is
    # partition-LOCAL (the (source, __b) window's global-flag `false`),
    # never global; and no cartesian. (Formatted mode renders Sort as
    # `Arguments: [keys...], <global>, 0`.)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "Sort" in plan, plan
    assert "], true, 0" not in plan, plan  # no GLOBAL sort anywhere


def test_mixture_draw_exact_adversarial_distributions(spark):
    """Exact-count draw over crafted corpora that hit the boundary-bucket
    edges the sf corpus can't reliably produce: singleton sources (r=0
    by construction), a source whose target is an exact multiple of n
    (no partial epoch at all), a zero-target source (no rows), and a
    mega-source holding ~90% of docs. Per-source counts must equal the
    independently-computed targets EXACTLY in every case."""
    import math

    import pyspark.sql.functions as F
    import healthcare_aws_data_engineering_spark.plans.corpus_queries as m

    rng_rows = (
        # mega-source: 90 docs of 9 words
        [(i, "w " * 9, "mega") for i in range(90)]
        # mid source: 8 docs
        + [(100 + i, "x " * 40, "mid") for i in range(8)]
        # singleton source
        + [(200, "y " * 2000, "solo")]
        # tiny source that rounds to target 0
        + [(300, "z", "dust")]
    )
    docs = spark.createDataFrame(
        rng_rows, "doc_id long, text string, source string"
    )
    epoch_docs = 500

    # independent target model (same arithmetic as the operator)
    per = {}
    for _i, text, src in rng_rows:
        n_tok = len(text.split())
        n, tok = per.get(src, (0, 0))
        per[src] = (n + 1, tok + n_tok)
    wu = {s: round(math.sqrt(tok) * 1e6) for s, (n, tok) in per.items()}
    total = sum(wu.values())
    target = {
        s: (epoch_docs * round(1e6 * (w / total))) // 10**6
        for s, w in wu.items()
    }

    out = m.mixture_draw(docs, epoch_docs, exact=True).collect()
    counts = collections.Counter(r.source for r in out)
    for s, t in target.items():
        assert counts.get(s, 0) == t, (s, counts.get(s, 0), t, target)
    # structural: every doc's epochs are a prefix range, and partial
    # epoch count per source is exactly target % n
    by_doc = collections.defaultdict(list)
    for r in out:
        by_doc[(r.source, r.doc_id)].append(r.epoch)
    for (_s, _d), es in by_doc.items():
        assert sorted(es) == list(range(len(es)))
    for s, (n, _tok) in per.items():
        part = sum(
            1 for (s2, _d), es in by_doc.items()
            if s2 == s and len(es) == target[s] // n + 1
        )
        expected_part = target[s] % n
        assert part == expected_part, (s, part, expected_part)
