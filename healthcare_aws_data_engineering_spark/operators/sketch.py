"""Deterministic distinct-count sketch — k-permutation min-hash
(KMV-style) cardinality estimation.

Why not HLL: Spark's ``approx_count_distinct`` (HLL++) and DuckDB's
``approx_count_distinct`` (HLL) are different algorithms with different
internal hashing, so their estimates can never hash-match across
engines. This sketch is built from md5 — the one hash both engines
share — so the ESTIMATE ITSELF is bit-identical in any engine and the
driver's value-hash oracle can check it like any exact query.

Estimator: for permutation ``i`` (0..k-1), hash each value to a uniform
``u_i`` in [0,1) and keep the per-group minimum ``m_i``. The minimum of
``n`` uniforms has mean ``1/(n+1)``, so ``Σ m_i ≈ k/(n+1)`` and
``n̂ = k/Σm_i − 1`` (method-of-moments; relative error ~1/√k).

Permutation family: Kirsch–Mitzenmacher double hashing. ONE md5 per row
split into two 32-bit halves ``h1, h2``; permutation ``i`` is
``(h1 + i·h2) mod 2^32`` — k-wise-dependent but distributionally fine
for KMV (the classic Bloom-filter result), and 32× cheaper than k
independent salted md5s (one digest + k multiply-adds per row; measured
3.3s → sub-second at sf0.1). ``h1 + i·h2 ≤ 32·2^32 ≪ 2^63`` — no
BIGINT overflow in either engine.

Scale shape: each ``min`` combines MAP-SIDE — the shuffle carries one
fixed-width row of k doubles per group, versus exact COUNT(DISTINCT)'s
Expand + two-phase shuffle of every distinct value. Determinism: each
``m_i`` is an order-insensitive scalar; the estimate sums k COLUMNS in
a fixed expression order (not row order), so both engines compute the
identical double. The halves are STAGED as real columns so the 2k agg
inputs reference cheap attributes, not 2k inlined md5 calls.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

SKETCH_K = 32
_TWO32 = 4294967296  # 2^32


def digest_halves(value: Column) -> tuple[Column, Column]:
    """(h1, h2): the first/second 8 hex digits of md5(value) as longs —
    the double-hashing basis both engines share."""
    digest = F.md5(value.cast("binary"))
    h1 = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(digest, 9, 8), 16, 10).cast("long")
    return h1, h2


def distinct_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = SKETCH_K,
    include_exact: bool = False,
) -> DataFrame:
    """Per-group estimated distinct count of ``value_col`` (the k
    min-hash sketch internals folded away). Returns ``group_col,
    est_distinct`` (double), plus ``exact_distinct`` when
    ``include_exact`` (for error-bound checks — at real scale you run
    the sketch INSTEAD of the exact distinct, that being the point)."""
    h1, h2 = digest_halves(F.col(value_col).cast("string"))
    staged_cols = [F.col(group_col), h1.alias("__h1"), h2.alias("__h2")]
    if include_exact:
        staged_cols.append(F.col(value_col))
    staged = df.select(*staged_cols)
    u = [
        ((F.col("__h1") + i * F.col("__h2")) % _TWO32) / F.lit(float(_TWO32))
        for i in range(k)
    ]
    aggs = [F.min(u[i]).alias(f"__m{i}") for i in range(k)]
    if include_exact:
        aggs = [F.count_distinct(F.col(value_col)).alias("exact_distinct")] + aggs
    agg = staged.groupBy(group_col).agg(*aggs)
    total = None
    for i in range(k):
        total = F.col(f"__m{i}") if total is None else total + F.col(f"__m{i}")
    est = (F.lit(float(k)) / total) - 1.0
    keep = [group_col] + (["exact_distinct"] if include_exact else [])
    return agg.select(*keep, est.alias("est_distinct"))


# ------------------------------------------------------ histogram quantiles --
# The scale path dist_summary's docstring promises for UNBOUNDED group
# counts: exact per-group sort-quantiles need a per-group sort, while a
# fixed equi-width histogram needs only (group, bin) counts — one hash
# aggregation with map-side combine, fixed-width shuffle rows, any group
# cardinality. The estimate is the upper edge of the bin where the
# cumulative count first reaches ceil(q·n) — deterministic integer math,
# so it replays exactly in any engine (no interpolation, no float sums).
HIST_BINS = 64


def hist_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    qs: tuple[int, ...] = (50, 90, 99),
    bins: int = HIST_BINS,
) -> DataFrame:
    """Per-group approximate quantiles from a fixed [lo, hi) equi-width
    histogram. Returns ``group_col, n_rows, p<q>...`` (bin upper edges,
    error ≤ one bin width). Values outside [lo, hi) clamp to the edge
    bins (same rule both engines)."""
    w = (hi - lo) / bins
    bin_col = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(value_col).cast("double") - lo) / w).cast("int"),
        ),
    )
    counts = df.select(F.col(group_col), bin_col.alias("bin")).groupBy(
        group_col, "bin"
    ).agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window as W

    cum = counts.withColumn(
        "cum",
        F.sum("c").over(
            W.partitionBy(group_col).orderBy("bin").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    ).withColumn("n", F.sum("c").over(W.partitionBy(group_col)))
    aggs = [F.first("n").alias("n_rows")]
    for q in qs:
        # smallest bin whose cumulative count reaches ceil(q·n/100):
        # min() over bins satisfying the threshold — integer math only.
        target = (F.col("n") * q + 99) / 100  # ceil via integer arithmetic
        aggs.append(
            F.min(
                F.when(
                    F.col("cum") >= F.floor(target).cast("long"), F.col("bin")
                )
            ).alias(f"__b{q}")
        )
    out = cum.groupBy(group_col).agg(*aggs)
    edges = [
        (F.lit(float(lo)) + (F.col(f"__b{q}") + 1) * F.lit(float(w))).alias(
            f"p{q}"
        )
        for q in qs
    ]
    return out.select(group_col, "n_rows", *edges)


# --------------------------------------------------------- count-min sketch --
# Heavy-hitter estimation with O(d·w) state regardless of vocabulary
# size (Cormode & Muthukrishnan). Each item increments one counter per
# row r at column (h1 + r·h2) mod w (the same Kirsch–Mitzenmacher
# double-hashing family as the KMV sketch above — one md5 per item);
# an item's estimate is the MIN of its d counters, which can only
# OVER-estimate (collisions add, never subtract). At 100 TB the cell
# table is what shuffles: ≤ d·w fixed-width rows after map-side
# combine, versus an exact count's one row per distinct token.
CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    top_k: int = 40,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """``value, true_count, cms_count`` for the top-k values by exact
    count (ties broken by value asc — a total order both engines
    replay). ``cms_count >= true_count`` always; the gap is the
    collision mass, bounded in expectation by n/width per row and the
    min over ``depth`` rows takes the least-collided cell.

    The exact count exists to EXPOSE the estimate's error for the
    driver oracle and tests; the production path at scale is the cell
    table + point lookups, never the exact agg."""
    h1, h2 = digest_halves(F.col(value_col).cast("string"))
    staged = df.select(
        F.col(value_col).alias("v"), h1.alias("__h1"), h2.alias("__h2")
    )
    # One pass builds every row's cell id via an in-row transform —
    # the shuffle key space is (row, cell): at most depth·width groups.
    cells = (
        staged.select(
            F.posexplode(
                F.array(
                    *[
                        ((F.col("__h1") + r * F.col("__h2")) % width).cast("int")
                        for r in range(depth)
                    ]
                )
            ).alias("r", "cell")
        )
        .groupBy("r", "cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        staged.groupBy("v")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("v").asc())
        .limit(top_k)
    )
    th1, th2 = digest_halves(F.col("v").cast("string"))
    probes = top.select(
        "v",
        "true_count",
        F.posexplode(
            F.array(*[((th1 + r * th2) % width).cast("int") for r in range(depth)])
        ).alias("r", "cell"),
    )
    est = (
        probes.join(F.broadcast(cells), ["r", "cell"], "left")
        .groupBy("v", "true_count")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_count"))
    )
    return est.select(
        F.col("v").alias("value"),
        F.col("true_count").cast("long").alias("true_count"),
        F.col("cms_count").cast("long").alias("cms_count"),
    )


def cms_sql(
    source_sql: str,
    value_col: str,
    top_k: int = 40,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> str:
    """DuckDB twin of :func:`cms_heavy_hitters`. ``source_sql`` is a
    one-column-producing relation (aliased ``src``) supplying
    ``{value_col}``."""
    cell_rows = " UNION ALL ".join(
        f"SELECT {r} AS r, CAST((__h1 + {r} * __h2) % {width} AS INT) AS cell, v FROM h"
        for r in range(depth)
    )
    return f"""
WITH src AS ({source_sql}),
h AS (
  SELECT {value_col} AS v,
    CAST(('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 1, 8)) AS BIGINT) AS __h1,
    CAST(('0x' || substr(md5(CAST({value_col} AS VARCHAR)), 9, 8)) AS BIGINT) AS __h2
  FROM src
),
probes AS ({cell_rows}),
cells AS (SELECT r, cell, COUNT(*) AS c FROM probes GROUP BY r, cell),
top AS (
  SELECT v, COUNT(*) AS true_count FROM h GROUP BY v
  ORDER BY true_count DESC, v ASC LIMIT {top_k}
),
lookup AS (
  SELECT DISTINCT t.v, t.true_count, p.r, p.cell
  FROM top t JOIN probes p ON p.v = t.v
)
SELECT l.v AS value, CAST(l.true_count AS BIGINT) AS true_count,
       CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS cms_count
FROM lookup l LEFT JOIN cells c ON c.r = l.r AND c.cell = l.cell
GROUP BY l.v, l.true_count
"""


def hist_quantiles_sql(
    table: str,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    qs: tuple[int, ...] = (50, 90, 99),
    bins: int = HIST_BINS,
) -> str:
    """DuckDB twin of :func:`hist_quantiles` (same clamp, same ceil rule,
    same upper-edge estimate)."""
    w = (hi - lo) / bins
    bcols = ",\n  ".join(
        f"CAST({float(lo)!r} AS DOUBLE) + (MIN(CASE WHEN cum >= (n * {q} + 99) // 100 "
        f"THEN bin END) + 1) * CAST({float(w)!r} AS DOUBLE) AS p{q}"
        for q in qs
    )
    return f"""
WITH b AS (
  SELECT {group_col},
         LEAST({bins - 1}, GREATEST(0,
           CAST(FLOOR((CAST({value_col} AS DOUBLE) - {float(lo)!r}) / {float(w)!r}) AS INT)
         )) AS bin
  FROM {table}
),
counts AS (SELECT {group_col}, bin, COUNT(*) AS c FROM b GROUP BY {group_col}, bin),
cum AS (
  SELECT {group_col}, bin, c,
         SUM(c) OVER (PARTITION BY {group_col} ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY {group_col}) AS n
  FROM counts
)
SELECT {group_col}, CAST(MIN(n) AS BIGINT) AS n_rows,
  {bcols}
FROM cum GROUP BY {group_col}
"""
