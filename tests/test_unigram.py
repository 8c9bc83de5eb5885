"""Unigram-LM tokenizer (operators/unigram.py — r13 verdict stretch #7
companion): the E-step and Viterbi are pinned against BRUTE-FORCE
enumeration over ALL segmentations (an independent algorithm — the
forward-backward lattice and the enumerator can only agree if both are
right), EM is pinned monotone on its own objective, and the Spark
encode leg is pinned row-identical to the pure-python model."""

from __future__ import annotations

import itertools
import math

import pytest

from healthcare_aws_data_engineering_spark.operators import unigram as U


# --------------------------------------------------------------------------
# brute-force reference model (independent of the lattice code)
# --------------------------------------------------------------------------
def _segmentations(word: str, pieces: set[str], max_len: int):
    """Every way to split ``word`` into pieces from the table."""
    if not word:
        yield []
        return
    for k in range(1, min(max_len, len(word)) + 1):
        head = word[:k]
        if head in pieces:
            for rest in _segmentations(word[k:], pieces, max_len):
                yield [head] + rest


def brute_expected_counts(word: str, logp: dict[str, float]):
    """(piece -> expected count, log-likelihood) by enumerating ALL
    segmentations and weighting piece counts by segmentation
    probability."""
    max_len = max(len(p) for p in logp)
    segs = list(_segmentations(word, set(logp), max_len))
    if not segs:
        return {}, float("-inf")
    probs = [math.exp(sum(logp[p] for p in s)) for s in segs]
    z = sum(probs)
    exp: dict[str, float] = {}
    for s, pr in zip(segs, probs):
        for p in s:
            exp[p] = exp.get(p, 0.0) + pr / z
    return exp, math.log(z)


def brute_viterbi(word: str, logp: dict[str, float]):
    """argmax segmentation by enumeration, tie-broken exactly like the
    lattice decoder: ascending split points, strict improvement —
    equivalently, the lexicographically-first split-point tuple among
    maxima."""
    max_len = max(len(p) for p in logp)
    best, best_key, best_seg = float("-inf"), None, None
    for s in _segmentations(word, set(logp), max_len):
        score = sum(logp[p] for p in s)
        lens = tuple(len(p) for p in s)
        # the DP's first-found-wins under ascending i scans prefers the
        # path whose FINAL piece starts earliest, recursively — i.e.
        # maximal piece lengths from the END backwards
        key = tuple(reversed(lens))
        if score > best + 1e-12 or (
            abs(score - best) <= 1e-12
            and best_key is not None
            and key > best_key
        ):
            best, best_key, best_seg = score, key, s
    return best_seg


TABLE = {
    "a": math.log(0.2),
    "b": math.log(0.1),
    "ab": math.log(0.3),
    "ba": math.log(0.15),
    "aba": math.log(0.2),
    "c": math.log(0.05),
}


@pytest.mark.parametrize("word", ["ab", "aba", "abab", "ababa", "abc", "cab"])
def test_forward_backward_matches_bruteforce(word):
    got_exp, got_ll = U._forward_backward(word, TABLE, 3)
    want_exp, want_ll = brute_expected_counts(word, TABLE)
    assert got_ll == pytest.approx(want_ll, abs=1e-10)
    assert set(got_exp) == set(want_exp)
    for p in want_exp:
        assert got_exp[p] == pytest.approx(want_exp[p], abs=1e-10)


def test_forward_backward_no_segmentation():
    exp, ll = U._forward_backward("zz", TABLE, 3)
    assert exp == {} and ll == float("-inf")


@pytest.mark.parametrize("word", ["ab", "aba", "abab", "ababab", "bac"])
def test_viterbi_matches_bruteforce_argmax(word):
    assert U.viterbi_encode_word(word, TABLE) == brute_viterbi(word, TABLE)


def test_viterbi_unknown_char_fallback():
    # 'z' is not in the table: it must come through as a single-char
    # piece, and the rest still segment normally
    assert U.viterbi_encode_word("abz", TABLE) == ["ab", "z"]
    assert "".join(U.viterbi_encode_word("zzz", TABLE)) == "zzz"


def test_em_fit_empty_inventory_returns_empty_model():
    """r14 advice: an empty piece inventory must not surface as an
    opaque 'math domain error' from log(0)."""
    assert U.em_fit({}, []) == {}


def test_unigram_train_empty_inventory_raises_clear_error(spark):
    """No word meets min_count → a named ValueError, not a log(0)."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "each word appears exactly once here")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="min_count"):
        U.unigram_train(docs, min_count=10)


def test_em_is_monotone_on_corpus_loglik():
    freqs = {"abab": 10, "ab": 5, "ba": 3, "abc": 2, "cab": 1}
    pieces = U.seed_pieces(freqs, max_piece_len=4, seed_size=50)
    prev = None
    for iters in (1, 2, 3, 4):
        logp = U.em_fit(freqs, pieces, n_iters=iters)
        ll = U.corpus_loglik(freqs, logp)
        if prev is not None:
            assert ll >= prev - 1e-9
        prev = ll


def test_seed_pieces_keeps_all_chars_and_caps_multis():
    freqs = {"abcd": 4, "bcde": 1}
    pieces = U.seed_pieces(freqs, max_piece_len=3, seed_size=8)
    chars = {p for p in pieces if len(p) == 1}
    assert chars == {"a", "b", "c", "d", "e"}
    assert len(pieces) <= 8
    multi = [p for p in pieces if len(p) > 1]
    # the highest-weighted multi-char substrings of the dominant word
    assert "bc" in multi  # appears in both words: weight 5


def test_prune_to_size_hits_target_and_keeps_chars():
    freqs = {"abab": 10, "abba": 4, "baba": 3}
    pieces = U.seed_pieces(freqs, max_piece_len=4, seed_size=100)
    logp = U.em_fit(freqs, pieces, n_iters=2)
    pruned = U.prune_to_size(freqs, logp, vocab_size=6)
    assert len(pruned) <= 6
    assert {"a", "b"} <= set(pruned)
    # the workhorse bigram must out-survive junk pieces
    assert "ab" in pruned or "ba" in pruned or "abab" in pruned


def test_golden_dominant_piece_survives_and_prices_highest():
    """Hand-checkable golden pin: in a corpus that is mostly 'ab'
    repeats, 'ab' (or a power of it) must carry more probability than
    any single character after train."""
    freqs = {"abab": 50, "ab": 30, "ababab": 10, "ba": 1}
    pieces = U.seed_pieces(freqs, max_piece_len=6, seed_size=100)
    logp = U.prune_to_size(freqs, U.em_fit(freqs, pieces, 2), vocab_size=8)
    best_multi = max(
        (p for p in logp if len(p) > 1), key=lambda p: logp[p]
    )
    assert set(best_multi) == {"a", "b"} and best_multi.startswith("ab")
    assert logp[best_multi] > logp["a"] and logp[best_multi] > logp["b"]


# --------------------------------------------------------------------------
# Spark legs
# --------------------------------------------------------------------------
def _docs(spark):
    rows = [
        (1, "abab ab abab"),
        (2, "ababab ba ab"),
        (3, "abc cab ab"),
        (4, "abab abab zq"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_unigram_train_encode_roundtrip(spark):
    docs = _docs(spark)
    logp = U.unigram_train(
        docs, vocab_size=12, min_count=1, max_piece_len=4, seed_size=60
    )
    assert len(logp) <= 12
    out = U.unigram_encode(docs, logp).orderBy("doc_id").collect()
    for r in out:
        # lossless: pieces concatenate back to the lowercased words
        assert "".join(r.unigram_tokens) == r.text.lower().replace(" ", "")


def test_spark_encode_matches_python_model(spark):
    docs = _docs(spark)
    logp = U.unigram_train(
        docs, vocab_size=12, min_count=1, max_piece_len=4, seed_size=60
    )
    got = {
        r.doc_id: r.unigram_tokens
        for r in U.unigram_encode(docs, logp).collect()
    }
    for did, text in [(r.doc_id, r.text) for r in docs.collect()]:
        want = list(
            itertools.chain.from_iterable(
                U.viterbi_encode_word(w, logp) for w in text.lower().split()
            )
        )
        assert got[did] == want


def test_unigram_train_is_deterministic(spark):
    docs = _docs(spark)
    a = U.unigram_train(docs, vocab_size=10, min_count=1, seed_size=60)
    b = U.unigram_train(docs, vocab_size=10, min_count=1, seed_size=60)
    assert a == b
