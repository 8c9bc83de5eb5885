"""Exact set-similarity join via prefix filtering (PPJoin-style).

The LSH family (``dedup.py``, ``similarity.py``) trades recall for
cost: banding can miss true pairs. Prefix filtering (Chaudhuri et al.
SSJoin 2006; Xiao et al. PPJoin 2008) is the EXACT counterpart — every
pair with Jaccard ≥ t is guaranteed to survive candidate generation,
so the verified output equals the brute-force all-pairs result at a
fraction of its cost.

Principle: order every doc's distinct shingle set by one global total
order (ascending document frequency, rarest first; ties broken by the
shingle string). With prefix length ``|X| - ceil(t·|X|) + 1``, any two
sets with Jaccard ≥ t must share at least one token in BOTH prefixes —
if the prefixes were disjoint, the overlap would be confined to the
suffixes, which are too small to reach ``t``. So an equi-join of
prefixes on the token produces a complete candidate set.

Scale shape (the reason this works at 100 TB):

- The df table and the per-doc rank are two shuffles on the shingle /
  doc key — linear, no pairs yet.
- The candidate join fans out per shared PREFIX token. Prefix tokens
  are each doc's globally RAREST shingles, so bucket sizes are small by
  construction — the frequent-token quadratic blowup that kills naive
  token joins ("explode and self-join everything") never enters the
  prefix. This is the skew story LSH solves with bucket caps, solved
  instead by ordering, without losing exactness.
- Verification touches candidates only: two slim (id, tok) joins and a
  count — the same candidates-only pattern as ``ngram_jaccard``.
- All math is integer (counts, cross-multiplied threshold compare);
  the emitted jaccard is one BIGINT/BIGINT divide — identical doubles
  in any engine.

Reference parity: none (the reference has no similarity machinery);
brief extension. Oracle strategy: the driver twin is the BRUTE-FORCE
all-pairs SQL — an independent algorithm whose equality with this
output is exactly the exactness guarantee under test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .staging import staged_persist
from .text import tokens, tokens_sql

PPJ_T100 = 50  # Jaccard threshold, percent
PPJ_SHINGLE_W = 3


def _shingles(w: int) -> Column:
    """Distinct word w-grams, built in-row from the staged ``__ws``
    array. TOTAL on short arrays (r15): ``sequence(0, size-w)`` turns
    DESCENDING when size < w and the concat then indexes out of bounds
    — the below-width filter used to be the only guard, which broke the
    moment a plan rewrite (the grouped path's join pushdown) evaluated
    the projection against an unfiltered row; the conditional makes the
    expression safe under any plan shape."""
    parts = " , ' ', ".join(f"__ws[i+{j}]" for j in range(w))
    body = F.expr(
        f"transform(sequence(0, size(__ws)-{w}), i -> concat({parts}))"
    )
    return F.array_distinct(
        F.when(F.size(F.col("__ws")) >= w, body).otherwise(
            F.array().cast("array<string>")
        )
    )


def _staged_shingles(
    docs: DataFrame, shingle_w: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, __sh) — each doc's distinct shingle ARRAY (in-row), docs
    below the shingle width dropped (both paths share this staging, so
    their doc universes agree)."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            tokens(F.col(text_col)).alias("__ws"),
        )
        .filter(F.size("__ws") >= shingle_w)
        .select("id", _shingles(shingle_w).alias("__sh"))
    )


def prefix_jaccard_join(
    docs: DataFrame,
    t100: int = PPJ_T100,
    shingle_w: int = PPJ_SHINGLE_W,
    id_col: str = "doc_id",
    text_col: str = "text",
    dedup_first: bool = False,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ t100/100 — exact, no LSH misses.

    Returns (a_id, b_id, shared, union_sz, jaccard), a_id < b_id.

    ``dedup_first=True`` (r15): collapse EXACT-duplicate token sets to
    one representative before the prefix join, then expand pairs back
    through group membership — an EXACT rewrite (Jaccard is a function
    of the token SET alone: members of a group are interchangeable in
    every pair, and intra-group pairs are Jaccard 1.0 ≥ any t), pinned
    row-identical to the default path in tests/test_ppjoin.py. This is
    the remedy for the probe-measured failure mode of prefix filtering
    on duplicate-heavy corpora (SCALING.md r15): the prefix filter
    prunes by token RARITY and cannot separate identical sets, so d
    copies of a doc cost d² candidate verifications — the heavy probe
    measured the verify stage growing ~M² on clone replicas. Grouped,
    the verify cost depends on DISTINCT sets only; the expansion join
    is output-sized (irreducible — the pairs themselves are the
    answer). Web corpora are duplicate-heavy (~30% exact dups), so
    this is the production default posture; it composes the exact
    `dedup.py::exact_dups` discipline into the join rather than
    requiring a separate pipeline stage."""
    if dedup_first:
        return _grouped_prefix_join(docs, t100, shingle_w, id_col, text_col)
    # Persisted: the (id, __sh) ARRAY table feeds four subtrees (df,
    # rank, and both verification legs) — without it Spark re-runs the
    # tokenize+shingle pipeline per subtree. Persisting the arrays
    # instead of the exploded (id, tok) rows (r15) keeps the cached
    # bytes smaller (no per-token id duplication) and makes per-doc
    # sizes a PROJECTION (size of the distinct array) instead of a
    # full groupBy shuffle over the token table, and verification an
    # in-row array_intersect over candidates only (the ngram_jaccard
    # pattern) instead of a two-join + re-aggregation fan-out.
    staged = staged_persist(
        _staged_shingles(docs, shingle_w, id_col, text_col), "ppjoin.staged"
    )
    # sz rides along through the explode — no separate sizes aggregate.
    toks = staged.select(
        "id", F.size("__sh").cast("long").alias("sz"), F.explode("__sh").alias("tok")
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # Global rarest-first total order; ties on the shingle string keep
    # the order engine-independent.
    pos = F.row_number().over(W.partitionBy("id").orderBy("df", "tok"))
    ranked = toks.join(dfreq, "tok").withColumn("pos", pos)
    # prefix length = sz - ceil(t·sz) + 1, all-integer ceil via DIV
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("sz") - F.expr(f"(sz * {t100} + 99) DIV 100") + 1
    )
    a = prefix.select(
        F.col("id").alias("a_id"),
        "tok",
        F.col("pos").alias("__pa"),
        F.col("sz").alias("__sza"),
    )
    b = prefix.select(
        F.col("id").alias("b_id"),
        "tok",
        F.col("pos").alias("__pb"),
        F.col("sz").alias("__szb"),
    )
    # Two more EXACT prunes from the PPJoin toolkit, applied per matching
    # prefix token before the pair dedup:
    #   size filter  — J ≥ t forces t·|A| ≤ |B| ≤ |A|/t;
    #   position filter — the overlap can't exceed 1 + the smaller
    #   remaining suffix, and J ≥ t needs overlap ≥ ceil(t/(1+t)·(|A|+|B|))
    #   (all-integer ceil). Neither can drop a true pair; both cut the
    #   dense-token candidate fan-out before the expensive verify joins.
    cand = (
        a.join(b, "tok")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            (F.col("__sza") * t100 <= F.col("__szb") * 100)
            & (F.col("__szb") * t100 <= F.col("__sza") * 100)
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("__sza") - F.col("__pa"), F.col("__szb") - F.col("__pb")
            )
            >= F.expr(f"(( __sza + __szb) * {t100} + {100 + t100} - 1) DIV {100 + t100}")
        )
        .select("a_id", "b_id")
        .distinct()
    )
    # Candidates-only verification, in-row (the ngram_jaccard pattern):
    # join the slim (id, __sh) arrays to each side and intersect
    # natively — no token fan-out, no re-aggregation shuffle, and the
    # per-doc sizes fall out of the same arrays.
    va = staged.select(F.col("id").alias("a_id"), F.col("__sh").alias("__sha"))
    vb = staged.select(F.col("id").alias("b_id"), F.col("__sh").alias("__shb"))
    shared = F.size(F.array_intersect("__sha", "__shb")).cast("long")
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("shared", shared)
        .withColumn(
            "union_sz",
            F.size("__sha").cast("long") + F.size("__shb").cast("long") - F.col("shared"),
        )
        # cross-multiplied integer compare — no float threshold edge
        .filter(F.col("shared") * 100 >= F.col("union_sz") * t100)
        .select(
            "a_id",
            "b_id",
            "shared",
            "union_sz",
            (F.col("shared") / F.col("union_sz")).alias("jaccard"),
        )
    )


def _grouped_prefix_join(
    docs: DataFrame,
    t100: int,
    shingle_w: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The ``dedup_first`` path: md5-fingerprint each doc's SORTED
    distinct shingle array (set identity, order-free), run the prefix
    join over one representative per fingerprint, then expand —
    cross-group rep pairs fan out through membership (shared/union/
    jaccard carry over unchanged: equal sets are interchangeable), and
    intra-group pairs emit directly at Jaccard 1.0. Verify cost is now
    a function of DISTINCT token sets; only the output-sized expansion
    scales with duplication."""
    fp_tbl = staged_persist(
        _staged_shingles(docs, shingle_w, id_col, text_col)
        .select(
            "id",
            F.md5(
                F.concat_ws("\x01", F.array_sort("__sh")).cast("binary")
            ).alias("fp"),
            F.size("__sh").alias("sz"),
        ),
        "ppjoin.fp_tbl",
    )
    reps = fp_tbl.groupBy("fp").agg(F.min("id").alias("rep"))
    rep_docs = docs.join(
        reps.select(F.col("rep").alias(id_col)), id_col
    )
    rep_pairs = prefix_jaccard_join(
        rep_docs, t100, shingle_w, id_col, text_col, dedup_first=False
    )
    # rep -> every member of its group (the rep maps to itself too)
    mem = fp_tbl.join(reps, "fp").select("rep", "id")
    cross = (
        rep_pairs.join(
            mem.select(F.col("rep").alias("a_id"), F.col("id").alias("__x")),
            "a_id",
        )
        .join(
            mem.select(F.col("rep").alias("b_id"), F.col("id").alias("__y")),
            "b_id",
        )
        .select(
            F.least("__x", "__y").alias("a_id"),
            F.greatest("__x", "__y").alias("b_id"),
            "shared",
            "union_sz",
            "jaccard",
        )
    )
    intra = (
        fp_tbl.alias("p")
        .join(
            fp_tbl.alias("q"),
            (F.col("p.fp") == F.col("q.fp"))
            & (F.col("p.id") < F.col("q.id")),
        )
        .select(
            F.col("p.id").alias("a_id"),
            F.col("q.id").alias("b_id"),
            F.col("p.sz").alias("shared"),
            F.col("p.sz").alias("union_sz"),
            (F.col("p.sz") / F.col("p.sz")).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


def brute_force_sql() -> str:
    """Independent all-pairs oracle: equality with the prefix-filtered
    output IS the exactness guarantee."""
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(PPJ_SHINGLE_W))
    return f"""
WITH toks AS (
  SELECT DISTINCT id, tok FROM (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(w) - {PPJ_SHINGLE_W - 2}),
                  i -> {parts})) AS tok
    FROM (SELECT doc_id, {tokens_sql('text')} AS w FROM documents)
    WHERE len(w) >= {PPJ_SHINGLE_W}
  )
),
sizes AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM toks GROUP BY id
),
inter AS (
  SELECT a.id AS a_id, b.id AS b_id, CAST(COUNT(*) AS BIGINT) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT i.a_id, i.b_id, i.shared,
       sa.sz + sb.sz - i.shared AS union_sz,
       i.shared / (sa.sz + sb.sz - i.shared) AS jaccard
FROM inter i
JOIN sizes sa ON i.a_id = sa.id
JOIN sizes sb ON i.b_id = sb.id
WHERE i.shared * 100 >= (sa.sz + sb.sz - i.shared) * {PPJ_T100}
"""
