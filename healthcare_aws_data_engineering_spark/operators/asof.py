"""As-of (backward temporal) join — a custom operator Spark's DataFrame
API lacks (pandas has ``merge_asof``; DuckDB has native ``ASOF JOIN``,
which is exactly why the driver oracle for this operator is a genuinely
independent implementation).

Semantics: for each left row, attach the payload of the *latest* right
row of the same key with ``right.ts <= left.ts`` (inclusive, i.e.
"backward" direction — DuckDB's default ``l.ts >= r.ts``). Ties among
right rows sharing (key, ts) are broken by ``right_id`` argmax.

Scale design — the union+window trick, NOT an inequality join:
a naive ``l JOIN r ON l.key = r.key AND r.ts <= l.ts`` + argmax explodes
to O(|l|·|r|) per key before pruning (Spark plans the non-equi conjunct
as a per-key cross product inside a sort-merge join). Instead:

1. tag both sides and UNION them (right payload columns are NULL on
   left rows and vice versa),
2. ONE hash shuffle by key, sort by (ts, side, right_id) — right rows
   sort before left rows at equal ts so an exactly-simultaneous right
   update is visible (inclusive bound), and equal-ts right rows sort by
   id so the running "last" IS the deterministic argmax (no pre-dedup
   pass, no second exchange),
3. running ``last(payload, ignorenulls=True)`` carries the latest right
   payload forward,
4. keep left rows.

Cost: one shuffle of |l|+|r| fixed-width rows + a per-partition sort —
the same shape Spark uses for any keyed window, so it survives 100 TB
the way any keyed window does; skewed keys fall to AQE like every other
keyed shuffle in this repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    payload_cols: list[str],
    right_id: str,
) -> DataFrame:
    """Backward as-of join. Returns every ``left`` row plus
    ``asof_{c}`` for each payload column and ``asof_ts`` (the
    matched right timestamp), NULL where no prior right row exists.
    """
    # NULL-key right rows can never be matched by an equality-semantics
    # as-of join (NULL = NULL is not a match) — drop them up front so the
    # NULL window partition cannot leak payloads onto NULL-key left rows.
    r = right.select(key, ts, right_id, *payload_cols).filter(
        F.col(key).isNotNull()
    )
    rtypes = dict(r.dtypes)

    # The matched row travels as ONE struct (ts + id + payloads): the
    # struct is non-NULL on every right row even when individual payload
    # values are NULL, so `last(..., ignorenulls)` picks the matched row
    # WHOLLY — a NULL payload on the latest right row yields a NULL
    # result, never a stale value from an older row (DuckDB ASOF parity).
    match_struct = F.struct(
        F.col(ts).alias("__mts"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    struct_t = (
        "struct<__mts:" + rtypes[ts] + ","
        + ",".join(f"{c}:{rtypes[c]}" for c in payload_cols) + ">"
    )

    lcols = left.columns
    l_tagged = left.select(
        *lcols,
        F.lit(1).alias("__side"),
        F.lit(None).cast(rtypes[right_id]).alias("__rid"),
        F.lit(None).cast(struct_t).alias("__r"),
    )
    r_tagged = r.select(
        *[
            F.col(c) if c in (key, ts) else F.lit(None).cast(t).alias(c)
            for c, t in left.dtypes
        ],
        F.lit(0).alias("__side"),
        F.col(right_id).alias("__rid"),
        match_struct.alias("__r"),
    )

    w = (
        W.partitionBy(key)
        .orderBy(ts, "__side", "__rid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = F.last("__r", ignorenulls=True).over(w)
    carried = l_tagged.unionByName(r_tagged).select(
        *lcols,
        F.col("__side"),
        matched["__mts"].alias("asof_ts"),
        *[matched[c].alias(f"asof_{c}") for c in payload_cols],
    )
    return carried.filter(F.col("__side") == 1).drop("__side")
