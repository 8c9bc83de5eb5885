"""Text-analysis operators for large-scale training-data pipelines.

Extensions beyond the reference (flagged per SURVEY §2.9/§7.2 step 7):
language-ID (stopword-profile heuristic), quality scoring, token counting,
and document fingerprinting. All pure Column expressions — per-document
work is a projection that fuses into the scan; nothing here shuffles.

At 100 TB this matters: a text-quality pass that is projection-only
scales linearly with input splits and can run fused with ingestion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Minimal stopword profiles for the language-ID heuristic. Real systems use
# char-n-gram models; the *pipeline shape* (per-doc scoring → argmax, no
# shuffle) is identical, so the profiles are deliberately small.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
    "es": ["el", "de", "la", "que", "y", "en", "los", "una"],
}

WORD_SPLIT_RE = r"\s+"

# Java's \s (Spark) is [ \t\n\x0B\f\r]; RE2's \s (DuckDB) is [ \t\n\f\r]
# — VERTICAL TAB is the one ASCII whitespace the engines disagree on
# (empirically mapped in tests/test_tokenizer.py). Oracle SQL must
# therefore spell the Java class explicitly instead of writing '\s';
# same for the negated punctuation class. Unicode whitespace (nbsp &c.)
# is a non-issue: neither engine's \s matches it.
#
# The vertical tab is spelled \x0B, NEVER \v (r7 advice): RE2 reads
# in-class \v as the vertical-tab CHARACTER, but Java reads it as the
# vertical-whitespace CLASS (\n \x0B \f \r U+0085 U+2028 U+2029). \x0B
# means the single character in BOTH engines, so these literals are safe
# to copy into either side verbatim (canaried in
# tests/test_cross_engine_fuzz.py).
WORD_SPLIT_RE_SQL = r"[ \t\n\x0B\f\r]+"
PUNCT_RE = r"[^\w\s]"
PUNCT_RE_SQL = r"[^\w \t\n\x0B\f\r]"

# Two more engine seams the expression fuzz pinned down
# (tests/test_cross_engine_fuzz.py):
# - trim(): Spark's strips ASCII space ONLY; DuckDB's one-arg trim
#   strips unicode whitespace (nbsp!). Oracles must use the two-arg
#   form trim(x, ' ') wherever they twin F.trim.
# - \b: Java's is Unicode-aware (a stopword abutting 'é' has NO Java
#   boundary but DOES have an RE2 one). RE2 has no lookaround, so the
#   oracle keeps '\b' (ASCII in RE2) and the SPARK side spells the
#   ASCII boundary explicitly with lookarounds — identical on ASCII,
#   now also identical on unicode-adjacent text. PII_PATTERNS is the
#   deliberate exception: its oracle renders the same pattern text into
#   RE2 (no lookaround support there), and its driver input is the
#   controlled digit-free + synthetic-suffix fixture where the two \b
#   definitions cannot diverge (see plans/curation_queries.py).
_ASCII_B_L = r"(?<![a-zA-Z0-9_])"
_ASCII_B_R = r"(?![a-zA-Z0-9_])"


def ascii_word_bounded(alternation: str) -> str:
    r"""Java pattern equivalent to RE2's \b(alternation)\b — boundaries
    defined by ASCII word chars on BOTH engines."""
    return f"{_ASCII_B_L}({alternation}){_ASCII_B_R}"


def tokens(text: Column) -> Column:
    """Whitespace tokenization → array<string> (empty array for empty/null
    handled by callers).

    THE repo-wide tokenizer: every operator that means "words" uses this
    (or :func:`tokens_sql` on the oracle side) so a tab or a double space
    can never yield different token streams in different operators. The
    deliberate exceptions are the *reversible segmentations* in
    ``operators/chunking.py`` and ``operators/spans.py``, which split on a
    single space so that re-joining with ``' '`` reconstructs the original
    text byte-exactly (a ``\\s+`` split would normalize whitespace and make
    chunk/span text lossy)."""
    return F.split(F.trim(text), WORD_SPLIT_RE)


def token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(tokens(text))
    )


def tokens_sql(col: str = "text") -> str:
    """DuckDB oracle twin of :func:`tokens` — render THIS into every oracle
    that tokenizes, so the split regex can never drift between engines
    (the explicit class denotes the same set as Java's \\s — including
    vertical tab, spelled \\x0B so the literal reads identically in RE2
    and Java — see WORD_SPLIT_RE_SQL).

    Same caveat as the Spark side: both engines yield ``['']`` (length 1)
    for empty/whitespace-only text, so COUNTS must go through
    :func:`token_count_sql`, which guards that case to 0."""
    return f"string_split_regex(trim({col}, ' '), '{WORD_SPLIT_RE_SQL}')"


def token_count_sql(col: str = "text") -> str:
    """DuckDB oracle twin of :func:`token_count` (0 for empty/whitespace-only
    text — ``string_split_regex('', ...)`` is ``['']``, length 1, so the
    bare ``len(...)`` over-counts empty docs by one)."""
    return (
        f"CASE WHEN length(trim({col}, ' ')) = 0 THEN 0 "
        f"ELSE len({tokens_sql(col)}) END"
    )


def stopword_hits(text: Column, words: list[str]) -> Column:
    """Occurrences of any profile word (ASCII-word-bounded on both
    engines — see :func:`ascii_word_bounded` — case-insensitive)."""
    pattern = ascii_word_bounded("|".join(words))
    return F.regexp_count(F.lower(text), F.lit(pattern))


def punct_ratio(text: Column) -> Column:
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    return n_punct / F.greatest(F.length(text), F.lit(1))


def mean_word_length(text: Column) -> Column:
    ws = tokens(text)
    total = F.aggregate(
        ws, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    return total / F.greatest(F.size(ws), F.lit(1))


def quality_score(text: Column) -> Column:
    """Heuristic quality score in [0,1] from length, punctuation ratio,
    stopword rate, and mean word length — the standard cheap pre-filter
    before expensive dedup/model scoring in a training-data pipeline.

    Deterministic double math (same expression both engines)."""
    length_ok = F.least(F.length(text) / F.lit(200.0), F.lit(1.0))
    stop_rate = F.least(
        stopword_hits(text, LANG_PROFILES["en"])
        / F.greatest(token_count(text), F.lit(1))
        * 4.0,
        F.lit(1.0),
    )
    punct_ok = F.greatest(
        F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4.0
    )
    mwl = mean_word_length(text)
    word_shape_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.5)
    return (
        length_ok * 0.3 + stop_rate * 0.3 + punct_ok * 0.2 + word_shape_ok * 0.2
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-word chars,
    collapse whitespace."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^\w\s]", ""), r"\s+", " "
        )
    )


def fingerprint(text: Column) -> Column:
    """Exact content fingerprint over the normalized text (md5 hex)."""
    return F.md5(normalize_text(text).cast("binary"))


def rolling_fingerprint(norm: Column) -> Column:
    """Winnowing-style robust fingerprint: the minimum hash over the
    16-character grams of ``norm``, an already normalized text
    column — stable under small edits anywhere except the minimal window
    itself.

    PERF: the lambda body references the source string PER ELEMENT, so
    ``norm`` must be a materialized column (see :func:`with_normalized`);
    inlining ``normalize_text`` here would rerun its regexes once per
    gram (O(len²) regex work per document)."""
    n = F.length(norm)
    starts = F.sequence(
        F.lit(1), F.greatest(F.lit(1), n - F.lit(16 - 1))
    )
    return F.array_min(
        F.transform(
            starts, lambda i: F.md5(F.substring(norm, i, 16).cast("binary"))
        )
    )


def with_normalized(docs: DataFrame) -> DataFrame:
    """Stage ``normalize_text`` as a real column so downstream per-element
    HOFs reference a cheap attribute. Catalyst's CollapseProject keeps the
    stage (it won't inline non-cheap expressions used more than once)."""
    return docs.withColumn("norm_text", normalize_text(F.col("text")))


def text_stats(docs: DataFrame) -> DataFrame:
    """One-pass per-document stats table (projection only — verify with
    .explain: no Exchange).

    Values are identical to composing the standalone helpers above
    (token_count/stopword_hits/quality_score/...), but the shared subtrees —
    trim, lower, whitespace split, per-language stopword regex counts —
    are STAGED as real columns and computed once per row. The composed
    form re-derives split() ~8× and runs ~10 regex passes per row,
    because Catalyst's subexpression elimination does not reach into
    when/otherwise branches or HOF lambda bodies; staged, the same
    output costs ~3 regex passes + 1 split (r5: 1.74 s → measured below
    at sf0.1 on a single-split scan, where expression CPU is the whole
    query)."""
    t = F.col("text")
    keep = [c for c in docs.columns if c != "text"]
    staged = (
        docs.select(
            *docs.columns,
            F.trim(t).alias("__trim"),
            F.lower(t).alias("__low"),
        )
        .select(
            *docs.columns,
            "__low",
            F.split(F.col("__trim"), WORD_SPLIT_RE).alias("__ws"),
            (F.length(F.col("__trim")) == 0).alias("__empty"),
        )
        .select(
            *docs.columns,
            "__low",
            "__ws",
            "__empty",
            F.when(F.col("__empty"), F.lit(0))
            .otherwise(F.size("__ws"))
            .alias("__tc"),
            F.regexp_count(t, F.lit(r"[^\w\s]")).alias("__np"),
            F.aggregate(
                F.col("__ws"), F.lit(0), lambda acc, w: acc + F.length(w)
            ).alias("__wlen"),
            *[
                F.regexp_count(
                    F.col("__low"),
                    F.lit(ascii_word_bounded("|".join(words))),
                ).alias(f"__h_{lang}")
                for lang, words in LANG_PROFILES.items()
            ],
        )
    )
    tc = F.col("__tc")
    punct = F.col("__np") / F.greatest(F.length(t), F.lit(1))
    mwl = F.col("__wlen") / F.greatest(F.size("__ws"), F.lit(1))
    # argmax language: array_max over (score, lang) structs, so a score
    # tie breaks on the language name
    pairs = F.array(
        *[
            F.struct(
                (F.col(f"__h_{lang}") / F.greatest(tc, F.lit(1))).alias(
                    "score"
                ),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_PROFILES)
        ]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["score"] > 0))
    bpe = F.when(F.col("__empty"), F.lit(0)).otherwise(
        F.aggregate(
            F.transform(
                F.col("__ws"),
                lambda w: F.greatest(
                    F.lit(1), F.ceil(F.length(w) / 4).cast("int")
                ),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
    )
    length_ok = F.least(F.length(t) / F.lit(200.0), F.lit(1.0))
    stop_rate = F.least(
        F.col("__h_en") / F.greatest(tc, F.lit(1)) * 4.0, F.lit(1.0)
    )
    punct_ok = F.greatest(F.lit(0.0), F.lit(1.0) - punct * 4.0)
    word_shape_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.5)
    quality = (
        length_ok * 0.3 + stop_rate * 0.3 + punct_ok * 0.2
        + word_shape_ok * 0.2
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("__low"), r"[^\w\s]", ""), r"\s+", " "
        )
    )
    return staged.select(
        *keep,
        F.length(t).alias("n_chars_actual"),
        tc.alias("n_tokens"),
        bpe.alias("n_tokens_bpe_ish"),
        punct.alias("punct_ratio"),
        mwl.alias("mean_word_len"),
        F.coalesce(best["lang"], F.lit("und")).alias("lang_guess"),
        quality.alias("quality"),
        F.md5(norm.cast("binary")).alias("fingerprint"),
    )


# ------------------------------------------------------- repetition stats --
# Gopher-style repetition filters (Rae et al. 2021 §A1.1): documents
# dominated by one word / one n-gram or with a collapsed vocabulary are
# boilerplate or spam — flag them before training. Thresholds here are
# corpus-tuned defaults, not clinical constants.
TOP_WORD_FRAC_MAX = 0.12     # most-frequent word may claim ≤12% of tokens
TOP_BIGRAM_FRAC_MAX = 0.08   # most-frequent bigram ≤8% of bigrams
DISTINCT_RATIO_MIN = 0.30    # ≥30% of tokens must be distinct


def _mode_count(arr: Column) -> Column:
    """Occurrences of the most frequent element of ``arr`` (0 for empty).

    sort + longest-equal-run scan: O(n log n) per row, ONE pass over the
    array, ZERO shuffle — scales to any corpus because nothing leaves the
    row. (The naive transform(distinct, d → count) form is O(distinct·n)
    and re-evaluates the source expression per element when handed a
    split() — 6× slower at sf0.1; pass STAGED array columns regardless.)
    """
    s = F.array_sort(arr)
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, w: Column) -> Column:
        run = F.when(w.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            w.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(s, zero, step, lambda acc: acc["best"])


def _bigrams_of(ws: Column) -> Column:
    """Non-distinct word 2-grams of a STAGED token-array column (empty
    array when fewer than 2 words). Pass a plain column, not a split()
    expression — zip_with/slice reference it multiple times."""
    n = F.size(ws)
    paired = F.zip_with(
        ws,
        F.slice(ws, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.when(
            a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)
        ),
    )
    return F.filter(paired, lambda g: g.isNotNull())


def repetition_stats(
    docs: DataFrame,
    top_word_max: float = TOP_WORD_FRAC_MAX,
    top_bigram_max: float = TOP_BIGRAM_FRAC_MAX,
    distinct_min: float = DISTINCT_RATIO_MIN,
) -> DataFrame:
    """Per-document repetition profile + keep/drop flag.

    Returns ``doc_id, n_tokens, n_distinct, distinct_ratio,
    top_word_frac, top_bigram_frac`` (ratios DOUBLE on the DECIMAL(18,6)
    grid) and
    ``repetitive`` (boolean: any threshold violated). Projection-only —
    no Exchange in the plan.
    """
    # Stage the arrays as real columns: HOF lambdas below reference them
    # per element, and an inlined split() would rerun once per element —
    # the same O(len²) trap word_shingles documents.
    t = F.col("text")
    staged = docs.select(
        F.col("doc_id"),
        tokens(t).alias("ws"),
        token_count(t).cast("long").alias("__n"),
    ).withColumn("grams", _bigrams_of(F.col("ws")))
    ws = F.col("ws")
    n = F.col("__n")
    nd = F.size(F.array_distinct(ws)).cast("long")
    top_w = _mode_count(ws)
    grams = F.col("grams")
    top_b = _mode_count(grams)
    n_bigrams = F.size(grams)
    top_word_frac = top_w / F.greatest(n, F.lit(1))
    top_bigram_frac = F.when(n_bigrams > 0, top_b / n_bigrams).otherwise(
        F.lit(0.0)
    )
    distinct_ratio = nd / F.greatest(n, F.lit(1))
    return staged.select(
        F.col("doc_id"),
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        # decimal-grid snap, DOUBLE out: integer/double cells are the
        # only numerics the driver's hash renders like the local replica.
        F.round(distinct_ratio, 6).cast("decimal(18,6)").cast("double").alias("distinct_ratio"),
        F.round(top_word_frac, 6).cast("decimal(18,6)").cast("double").alias("top_word_frac"),
        F.round(top_bigram_frac, 6).cast("decimal(18,6)").cast("double").alias("top_bigram_frac"),
        (
            (top_word_frac > top_word_max)
            | (top_bigram_frac > top_bigram_max)
            | (distinct_ratio < distinct_min)
        ).alias("repetitive"),
    )


# ------------------------------------------------------------ PII redaction --
# Training corpora scrub obvious personal identifiers before anything
# else sees the text. Patterns are deliberately conservative (precision
# over recall — a redactor that eats code or dates poisons the corpus).
# Pure JVM regexp_replace chain: projection-only, codegen'd, no UDF.
PII_PATTERNS: list[tuple[str, str]] = [
    # order matters: emails before phone-ish digit runs (an email's local
    # part can contain digits), IPs before phones (dotted quads would
    # otherwise match the loose phone alternation's digit runs).
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    (r"(?:\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b", "[PHONE]"),
]


def redact_pii(text: Column) -> Column:
    """Replace emails / IPv4s / SSN-shaped / US-phone-shaped substrings
    with typed placeholder tokens."""
    out = text
    for pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


# --------------------------------------------------- fused attribute pass --


def doc_attributes(docs: DataFrame) -> DataFrame:
    """ONE corpus scan producing the full per-document attribute manifest
    — the Dolma-taggers shape: every quality/language/repetition signal a
    curation pipeline filters on, materialized together so a 100 TB
    snapshot pays ONE pass (and downstream filters read slim attribute
    rows, never the text again). Projection-only: no Exchange.

    Column families and their standalone twins (test-pinned equal):
    text_stats (n_chars_actual..quality, fingerprint) and
    repetition_stats (n_distinct..repetitive). The standalone operators
    remain the single-signal entry points; this pass exists because six
    separate 100 TB scans is the wrong plan when you want all six
    families."""
    t = F.col("text")
    keep = [c for c in docs.columns if c != "text"]
    staged = (
        docs.select(
            *docs.columns,
            F.trim(t).alias("__trim"),
            F.lower(t).alias("__low"),
        )
        .select(
            *docs.columns,
            "__low",
            F.split(F.col("__trim"), WORD_SPLIT_RE).alias("__ws"),
            (F.length(F.col("__trim")) == 0).alias("__empty"),
        )
        .select(
            *docs.columns,
            "__low",
            "__ws",
            "__empty",
            F.when(F.col("__empty"), F.lit(0))
            .otherwise(F.size("__ws"))
            .alias("__tc"),
            F.regexp_count(t, F.lit(r"[^\w\s]")).alias("__np"),
            F.aggregate(
                F.col("__ws"), F.lit(0), lambda acc, w: acc + F.length(w)
            ).alias("__wlen"),
            _bigrams_of(F.col("__ws")).alias("__grams"),
            *[
                F.regexp_count(
                    F.col("__low"),
                    F.lit(ascii_word_bounded("|".join(words))),
                ).alias(f"__h_{lang}")
                for lang, words in LANG_PROFILES.items()
            ],
        )
    )
    tc = F.col("__tc")
    punct = F.col("__np") / F.greatest(F.length(t), F.lit(1))
    mwl = F.col("__wlen") / F.greatest(F.size("__ws"), F.lit(1))
    pairs = F.array(
        *[
            F.struct(
                (F.col(f"__h_{lang}") / F.greatest(tc, F.lit(1))).alias(
                    "score"
                ),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_PROFILES)
        ]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["score"] > 0))
    bpe = F.when(F.col("__empty"), F.lit(0)).otherwise(
        F.aggregate(
            F.transform(
                F.col("__ws"),
                lambda w: F.greatest(
                    F.lit(1), F.ceil(F.length(w) / 4).cast("int")
                ),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
    )
    length_ok = F.least(F.length(t) / F.lit(200.0), F.lit(1.0))
    stop_rate = F.least(
        F.col("__h_en") / F.greatest(tc, F.lit(1)) * 4.0, F.lit(1.0)
    )
    punct_ok = F.greatest(F.lit(0.0), F.lit(1.0) - punct * 4.0)
    word_shape_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.5)
    quality = (
        length_ok * 0.3 + stop_rate * 0.3 + punct_ok * 0.2
        + word_shape_ok * 0.2
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("__low"), r"[^\w\s]", ""), r"\s+", " "
        )
    )
    # repetition family over the SAME staged arrays (repetition_stats
    # semantics verbatim: n = token_count, ratios on the decimal grid)
    nd = F.size(F.array_distinct(F.col("__ws"))).cast("long")
    top_w = _mode_count(F.col("__ws"))
    grams = F.col("__grams")
    top_b = _mode_count(grams)
    n_bigrams = F.size(grams)
    top_word_frac = top_w / F.greatest(tc.cast("long"), F.lit(1))
    top_bigram_frac = F.when(n_bigrams > 0, top_b / n_bigrams).otherwise(
        F.lit(0.0)
    )
    distinct_ratio = nd / F.greatest(tc.cast("long"), F.lit(1))

    def _grid(c: Column) -> Column:
        return F.round(c, 6).cast("decimal(18,6)").cast("double")

    return staged.select(
        *keep,
        F.length(t).alias("n_chars_actual"),
        tc.alias("n_tokens"),
        bpe.alias("n_tokens_bpe_ish"),
        punct.alias("punct_ratio"),
        mwl.alias("mean_word_len"),
        F.coalesce(best["lang"], F.lit("und")).alias("lang_guess"),
        quality.alias("quality"),
        F.md5(norm.cast("binary")).alias("fingerprint"),
        nd.alias("n_distinct"),
        _grid(distinct_ratio).alias("distinct_ratio"),
        _grid(top_word_frac).alias("top_word_frac"),
        _grid(top_bigram_frac).alias("top_bigram_frac"),
        (
            (top_word_frac > TOP_WORD_FRAC_MAX)
            | (top_bigram_frac > TOP_BIGRAM_FRAC_MAX)
            | (distinct_ratio < DISTINCT_RATIO_MIN)
        ).alias("repetitive"),
    )
