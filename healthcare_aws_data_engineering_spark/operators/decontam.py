"""Train/eval decontamination by n-gram overlap (brief extension; no
reference counterpart — standard benchmark-leakage control for LLM
training corpora, cf. GPT-3/PaLM appendix decontamination).

A training document is *contaminated* when a large-enough fraction of its
word n-gram shingles also appears in the held-out evaluation set. The
eval membership itself is deterministic (salted-md5 bucket of ``doc_id``
— the same shared-hash recipe as ``split_assign``/``stratified_sample``),
so the whole computation is reproducible engine-to-engine.

Scale design (the 100 TB story):
- Eval sets are benchmarks — bounded (thousands of docs), never corpus-
  scale. Their distinct shingle set is built with one small aggregation
  and BROADCAST to the train side; the corpus-sized train stream is never
  shuffled by shingle.
- The train side is one pass: explode distinct-per-doc shingles, a
  broadcast LEFT join marks hits, and ONE hash aggregation by ``doc_id``
  (map-side combine; fixed-width rows) produces both the shingle count
  and the overlap count — docs with zero overlap are preserved without a
  second scan or join-back.
- Pure built-in expressions; zero UDFs, zero driver-side collection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import word_shingles

EVAL_PCT = 10          # doc_id bucket < EVAL_PCT → held-out eval doc
CONTAM_THRESHOLD = 0.15  # overlap fraction at or above which a doc is flagged
DECON_SALT = "decon#"


def eval_bucket(doc_id: Column) -> Column:
    """Deterministic 0..99 bucket: first 8 md5 hex digits of the salted
    id (shared recipe with ``with_split``)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(DECON_SALT), doc_id.cast("string")).cast("binary")),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 100
    )


def decontaminate(
    docs: DataFrame,
    eval_pct: int = EVAL_PCT,
    threshold: float = CONTAM_THRESHOLD,
) -> DataFrame:
    """Flag training documents whose shingle overlap with the eval split
    meets ``threshold``.

    Returns one row per TRAIN document: ``doc_id, n_shingles, n_overlap,
    overlap_ratio`` (DOUBLE on the DECIMAL(18,6) grid), ``contaminated`` (boolean).
    """
    base = docs.select(
        F.col("doc_id"),
        word_shingles(F.col("text"), 3).alias("shingles"),
        eval_bucket(F.col("doc_id")).alias("bucket"),
    )
    eval_shingles = (
        base.filter(F.col("bucket") < eval_pct)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = base.filter(F.col("bucket") >= eval_pct).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    marked = train.join(F.broadcast(eval_shingles), "shingle", "left")
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlap"),
    )
    ratio = F.col("n_overlap") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        # decimal-grid snap, DOUBLE out: integer/double cells are the
        # only numerics the driver's hash renders like the local replica.
        F.round(ratio, 6).cast("decimal(18,6)").cast("double").alias("overlap_ratio"),
        (ratio >= threshold).alias("contaminated"),
    )


# ------------------------------------------------------------ bloom path --
# Spark 4.1 does not register bloom_filter_agg/might_contain as public
# SQL functions, so the bitset is built from public primitives: k
# xxhash64 positions per shingle, bit_or-folded into per-BYTE groups by
# a distributed aggregation (≤ m/8 fixed-width rows), assembled on the
# driver into bytes and carried into the probe plan as ONE BINARY
# LITERAL. The probe reads byte p DIV 8 with a byte-addressed
# substr(…, 1) + hex + 2-digit conv (the surface the hex/conv fuzz
# family pins safe) and tests bit p % 8 with shiftleft/AND.
#
# Why a binary literal: the r9 crossover probe caught THREE "obvious"
# shapes collapsing as the eval set grows (micro-benchmark over a fixed
# 1M-shingle probe side, bitsets sized for 16k/240k/2.4M eval
# shingles):
#   * broadcast-joined one-row array<long> column: the array is COPIED
#     into every joined output row — 3.05 / 5.78 / 86.4 s (linear in m
#     PER ROW);
#   * F.lit(list-of-words): builds a CreateArray with m/64 CHILD
#     EXPRESSIONS (40k py4j literals took 21 s to construct; per-row
#     array materialization ground single-threaded);
#   * hex STRING literal + substr: UTF8String.substring counts chars
#     from the START, so each probe is O(position) — quadratic-in-m
#     scans (127 s at gate scale).
# A BinaryType literal is a single plan constant; substr on binary is
# byte-addressed (O(1) slice) — 1.18 / 0.57 / 2.93 s on the same
# benchmark, flat in m. It ships once per task, exactly the bytes a
# broadcast would ship.
BLOOM_FPP = 0.01


def _bloom_geometry(n: int, fpp: float = BLOOM_FPP) -> tuple[int, int]:
    """Textbook sizing: m = -n·ln(p)/ln(2)², k = (m/n)·ln(2), m rounded
    up to a multiple of 64 so the bitset is whole words."""
    import math

    n = max(n, 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_positions(shingle: Column, m: int, k: int) -> Column:
    """array<long> of the k bit positions for one shingle: pmod of k
    independently-seeded xxhash64 draws. Unrolled to a flat CreateArray
    (k is a plan-time int) instead of transform-over-sequence — the HOF
    form evaluated every draw on the interpreted path (r15)."""
    return F.array(
        *[F.pmod(F.xxhash64(shingle, F.lit(i)), F.lit(m)) for i in range(k)]
    )


def bloom_bitset_bytes(shingles: DataFrame, m: int, k: int) -> bytes:
    """Bitset bytes (m/8 of them) over the distinct ``shingle`` column.
    Distributed: one map-side-combined aggregation into ≤ m/64
    (word_idx, 64-bit word) rows; only those fixed-width rows reach the
    driver, where the bytearray assembly is O(m/8).

    r10 advice: the original per-BYTE groupBy collected one PySpark Row
    per non-zero byte — ~2.9M Rows (50–100× the 2.9MB bitset itself) at
    the crossover probe's 2.4M-shingle scale, a driver cliff. Folding
    into 8-byte words via ``bit_or`` over longs collects 8× fewer rows
    with identical output bytes (test-pinned): bit p lives in word
    p DIV 64 at weight 1 << (p % 64); the word's little-endian byte
    split reproduces the byte layout the probe reads (bit p in byte
    p DIV 8 at weight 1 << (p % 8)).

    ``m`` must be a multiple of 64 (``_bloom_geometry`` always rounds
    up to whole words): the word fold writes 8-byte runs, and a
    trailing partial word would silently GROW the bytearray past m/8
    via slice-assign extension (r11 advice)."""
    if m % 64 != 0:
        raise ValueError(
            f"bloom bitset m must be a multiple of 64 (whole words), got {m}; "
            "use _bloom_geometry(n) which rounds up"
        )
    words = (
        shingles.select(
            F.explode(_bloom_positions(F.col("shingle"), m, k)).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("pos") % 64).cast("int"),
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    buf = bytearray(m // 8)
    for r in words:
        # Spark longs are signed: bit 63 set => negative; mask to the
        # unsigned 64-bit pattern before the little-endian byte split.
        buf[r.word_idx * 8 : r.word_idx * 8 + 8] = (
            r.bits & 0xFFFFFFFFFFFFFFFF
        ).to_bytes(8, "little")
    return bytes(buf)


def _might_contain(shingle: Column, bitset: Column, m: int, k: int) -> Column:
    """True iff every one of the shingle's k bits is set — the standard
    no-false-negative bloom probe. ``bitset`` is the (typically
    literal) BINARY column from :func:`bloom_bitset_bytes`; each probe
    is a byte-addressed 1-byte substr + hex + conv(…,16,10) read —
    O(1) per probe regardless of m (see module header)."""

    def bit_set(pos: Column) -> Column:
        byte = F.conv(
            F.hex(bitset.substr((pos / 8).cast("int") + 1, F.lit(1))),
            16,
            10,
        ).cast("int")
        return (
            byte.bitwiseAND(
                F.call_function("shiftleft", F.lit(1), (pos % 8).cast("int"))
            )
            != 0
        )

    # flat AND chain instead of forall-over-positions (r15): every probe
    # is then plain codegen (the HOF pair ran interpreted, ~25% slower
    # measured on the gate corpus); whole-stage subexpression
    # elimination shares each xxhash64 draw between its two pos uses.
    cond = F.lit(True)
    for i in range(k):
        pos = F.pmod(F.xxhash64(shingle, F.lit(i)), F.lit(m))
        cond = cond & bit_set(pos)
    return cond


def bloom_decontaminate(docs: DataFrame) -> DataFrame:
    """Bloom-pruned decontamination — RESULT-IDENTICAL to
    :func:`decontaminate` (same oracle): the bitset probe has no false
    negatives, and its false positives are removed by an exact join over
    the surviving candidates only.

    Why a second path: `decontaminate` broadcasts the eval set's
    distinct shingle STRINGS to every executor — bounded, but a
    many-benchmark eval suite is GBs of shingles at 100 TB corpus scale.
    Here every executor receives a fixed ~1.2 MB-per-million-shingles
    bitset instead, the corpus-side probe is in-row (no join), and the
    exact verification join runs only on the pruned candidate fraction —
    UNHINTED, so AQE broadcasts the eval strings only when they truly
    are small (Dolma's bloom dedup is the production precedent).
    """
    base = docs.select(
        F.col("doc_id"),
        word_shingles(F.col("text"), 3).alias("shingles"),
        eval_bucket(F.col("doc_id")).alias("bucket"),
    )
    eval_docs = base.filter(F.col("bucket") < EVAL_PCT)
    # Bitset sizing from a SHUFFLE-FREE upper bound (r15): per-doc
    # arrays are already distinct, so sum(size(shingles)) over the eval
    # slice bounds the distinct-shingle count from above (duplicates
    # are only cross-doc repeats). Oversizing m only LOWERS the
    # false-positive rate — the result is identical for any geometry
    # (exact verification), so the old persist + distinct + count job
    # is pure overhead. Bounded driver scalar either way: eval sets are
    # benchmarks, never corpus-scale.
    n_eval = (
        eval_docs.agg(
            F.coalesce(F.sum(F.size("shingles")), F.lit(0)).alias("n")
        ).collect()[0]["n"]
    )
    m, k = _bloom_geometry(n_eval, BLOOM_FPP)
    # Materialize the bitset NOW (m/8 bytes via ≤ m/64 fixed-width agg
    # rows — the exact bytes a broadcast would ship from the driver
    # anyway, so collecting them first adds no new driver liability).
    # bit_or is idempotent, so the build reads the exploded stream
    # DIRECTLY — duplicate shingles set the same bits; no distinct
    # shuffle, no persist (r15; the r6 leak concern disappears with the
    # cache). The verification join below computes the distinct eval
    # slice once, lazily — one benchmark-sized pass, noise next to the
    # corpus-side scan it guards.
    bitset = bloom_bitset_bytes(
        eval_docs.select(F.explode("shingles").alias("shingle")), m, k
    )
    eval_shingles = (
        eval_docs.select(F.explode("shingles").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )

    train = base.filter(F.col("bucket") >= EVAL_PCT).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    # ONE binary literal in the plan (see module header for why neither
    # a broadcast-joined array column, F.lit(list), nor a hex-string
    # literal survives scale).
    marked = train.select(
        "doc_id",
        "shingle",
        _might_contain(
            F.col("shingle"), F.lit(bitset), m, k
        ).alias("__might"),
    )
    # ONE left join whose condition is equality AND the bloom verdict:
    # candidates get exact verification (kills bloom false positives),
    # non-candidates simply never match (no false negatives) — one
    # corpus pass. (A candidates/misses filter+union pair evaluates the
    # whole probe subtree twice — two corpus passes at 100 TB.)
    ev = eval_shingles.withColumnRenamed("shingle", "__ev_shingle")
    per_doc = (
        marked.join(
            # UNHINTED: the eval strings are what the bloom path exists
            # to avoid broadcasting — AQE picks broadcast only when they
            # really are small.
            ev,
            (F.col("shingle") == F.col("__ev_shingle")) & F.col("__might"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlap"),
        )
    )
    ratio = F.col("n_overlap") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round(ratio, 6).cast("decimal(18,6)").cast("double").alias("overlap_ratio"),
        (ratio >= CONTAM_THRESHOLD).alias("contaminated"),
    )


def decontaminate_sql(table: str) -> str:
    """DuckDB oracle twin of :func:`decontaminate` (3-word shingles; same
    salted-md5 split, same LEFT-join/aggregate shape)."""
    return rf"""
WITH
  w AS (
    SELECT doc_id, string_split_regex(trim(text, ' '), '[ \t\n\x0B\f\r]+') AS ws,
           CAST(('0x' || substr(md5('{DECON_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 100 AS bucket
    FROM {table}
  ),
  sh AS (
    SELECT DISTINCT doc_id, bucket,
           CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                ELSE array_to_string(ws, ' ') END AS shingle
    FROM w, unnest(generate_series(1, greatest(1, len(ws)-2))) AS t(i)
  ),
  ev AS (SELECT DISTINCT shingle, 1 AS hit FROM sh WHERE bucket < {EVAL_PCT}),
  tr AS (SELECT doc_id, shingle FROM sh WHERE bucket >= {EVAL_PCT})
SELECT doc_id, n_shingles, n_overlap,
       CAST(CAST(round(n_overlap / CAST(n_shingles AS DOUBLE), 6) AS DECIMAL(18,6))
            AS DOUBLE) AS overlap_ratio,
       n_overlap / CAST(n_shingles AS DOUBLE) >= {CONTAM_THRESHOLD} AS contaminated
FROM (
  SELECT tr.doc_id, COUNT(*) AS n_shingles,
         CAST(COALESCE(SUM(ev.hit), 0) AS BIGINT) AS n_overlap
  FROM tr LEFT JOIN ev USING (shingle)
  GROUP BY tr.doc_id
)
"""


# ------------------------------------------------- cross-snapshot ledger --
# r13 verdict stretch #8: screening an ALREADY-INGESTED corpus against a
# NEW benchmark must not re-scan (re-decode, re-tokenize, re-shingle)
# the corpus text — at 100 TB that is the single most expensive pass in
# the warehouse, and benchmarks arrive long after ingest. The ledger is
# the `incremental_dedup` admission-ledger pattern applied to
# decontamination: at ingest time each snapshot persists one
# fixed-width (doc_id, shingle_hash BIGINT) row per DISTINCT per-doc
# shingle — an appendable index (ledger(s1) UNION ledger(s2) ==
# ledger(s1 UNION s2), row-for-row) written next to the curated
# parquet. Screening any future eval set is then a probe of those slim
# rows: one ledger scan, zero text reads.
#
# Keys are xxhash64 of the shingle string (8 bytes vs ~40-byte
# 3-gram strings): two DIFFERENT shingles collide with probability
# ~n²/2⁶⁵ — at 10¹² distinct corpus shingles that is ~0.03 expected
# collisions corpus-wide, and a collision can only nudge one doc's
# n_shingles/n_overlap by 1. The equality pin in
# tests/test_decontam_ledger.py holds exactly on any non-adversarial
# fixture.


def shingle_ledger(docs: DataFrame) -> DataFrame:
    """The per-snapshot ingest artifact: ``doc_id, shingle_hash`` — one
    row per DISTINCT word n-gram shingle per document (xxhash64-keyed).
    Pure projection + explode; no shuffle — write it partitioned by the
    same shard key as the documents and it appends per snapshot."""
    return docs.select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col("text"), 3)).alias("__s"),
    ).select("doc_id", F.xxhash64(F.col("__s")).alias("shingle_hash"))


def ledger_decontaminate(
    ledger: DataFrame,
    eval_docs: DataFrame,
    prune_fpp: float | None = None,
) -> DataFrame:
    """Screen an ingested corpus — represented ONLY by its persisted
    :func:`shingle_ledger` — against a NEW eval set. Same output schema
    and semantics as :func:`decontaminate`; row-identical to the batch
    text-side computation (pinned in tests) because the ledger carries
    exactly the distinct-per-doc shingle keys the batch path explodes.

    The eval side is benchmark-sized: shingled, hashed, deduplicated,
    and broadcast — the ledger (the corpus-scale side) streams through
    ONE left join + ONE doc_id aggregation and is never reshuffled by
    shingle. With ``prune_fpp`` set, the eval hash set is additionally
    folded into a bloom bitset literal (:func:`bloom_bitset_bytes`) and
    probed IN-ROW before the join — the join condition gains the bloom
    verdict, so non-candidate ledger rows never enter join hashing;
    false positives die in the exact equality, false negatives are
    impossible, result pinned identical."""
    ev_hashes = (
        eval_docs.select(
            F.explode(word_shingles(F.col("text"), 3)).alias("__s")
        )
        .select(F.xxhash64(F.col("__s")).alias("shingle_hash"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probe = ledger.select("doc_id", "shingle_hash")
    if prune_fpp is not None:
        ev_hashes = ev_hashes.persist()
        n_eval = ev_hashes.count()
        m, k = _bloom_geometry(n_eval, prune_fpp)
        bitset = bloom_bitset_bytes(
            ev_hashes.withColumnRenamed("shingle_hash", "shingle"), m, k
        )
        ev_hashes.unpersist()
        cond = (
            F.col("shingle_hash") == F.col("__ev_hash")
        ) & _might_contain(F.col("shingle_hash"), F.lit(bitset), m, k)
    else:
        cond = F.col("shingle_hash") == F.col("__ev_hash")
    ev = ev_hashes.withColumnRenamed("shingle_hash", "__ev_hash")
    per_doc = (
        probe.join(F.broadcast(ev), cond, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlap"),
        )
    )
    ratio = F.col("n_overlap") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round(ratio, 6).cast("decimal(18,6)").cast("double").alias("overlap_ratio"),
        (ratio >= CONTAM_THRESHOLD).alias("contaminated"),
    )


def decontaminate_external(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Batch text-side twin of :func:`ledger_decontaminate`: the
    :func:`decontaminate` computation with an EXPLICIT eval corpus
    instead of the deterministic in-table split — the re-scan the
    ledger exists to avoid, kept as the correctness anchor the ledger
    path is pinned against (and the right call when no ledger was
    persisted)."""
    train = docs.select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col("text"), 3)).alias("shingle"),
    )
    ev = (
        eval_docs.select(
            F.explode(word_shingles(F.col("text"), 3)).alias("shingle")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        train.join(F.broadcast(ev), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlap"),
        )
    )
    ratio = F.col("n_overlap") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round(ratio, 6).cast("decimal(18,6)").cast("double").alias("overlap_ratio"),
        (ratio >= CONTAM_THRESHOLD).alias("contaminated"),
    )
