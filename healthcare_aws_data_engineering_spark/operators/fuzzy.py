"""Fuzzy key matching (entity resolution) via deletion-neighborhood
blocking, and gap-based event debouncing.

Extensions beyond the reference (its joins are exact equi-joins on
conformed keys): record linkage across dirty sources is the standard
"same patient, mistyped id" problem, and debouncing is the standard
"drop the retry storm" stream hygiene step.

Scale design:

- ``fuzzy_join`` NEVER compares all pairs: each key explodes into its
  ≤ (len+1) single-deletion variants, candidates are the equi-join on
  the variant (two slim shuffles), and only candidates pay the exact
  Levenshtein verify. This is the classic deletion-neighborhood trick
  (FastSS): edit-distance-1 pairs are guaranteed to share a variant, so
  recall is exact for dist ≤ 1.
- ``debounce`` reuses the sessionize shape: one user-keyed shuffle, a
  lag to flag gap starts, a running sum to number bursts, keep the
  first event of each burst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

FUZZY_MAX_DIST = 1  # what the single-deletion neighborhood recalls exactly


def _variants(df: DataFrame, role: str) -> DataFrame:
    """Explode each ``key`` into itself plus every single-character-deletion
    variant (the FastSS dist-1 neighborhood), tagged with role-prefixed
    columns for the blocking equi-join."""
    key = F.col("key")
    variants = F.array_union(
        F.array(key),
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(key), F.lit(1))),
            lambda i: F.concat(
                key.substr(F.lit(1), i - F.lit(1)),
                key.substr(i + F.lit(1), F.length(key)),
            ),
        ),
    )
    return df.select(
        F.col("id").alias(f"{role}_id"),
        key.alias(f"{role}_key"),
        F.explode(variants).alias("__v"),
    )


def fuzzy_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Candidate matches with Levenshtein ≤ :data:`FUZZY_MAX_DIST` (exact
    recall for dist ≤ 1 via deletion-neighborhood blocking; a larger
    distance needs a deeper neighborhood).

    Output: ``(left_id, left_key, right_id, right_key, dist)`` distinct
    pairs. Both engines implement Levenshtein identically (integer DP),
    so the verify is engine-exact.
    """
    lv = _variants(left, "left")
    rv = _variants(right, "right")
    cands = (
        lv.join(rv, "__v")
        .select("left_id", "left_key", "right_id", "right_key")
        .dropDuplicates(["left_id", "right_id"])
    )
    dist = F.levenshtein(F.col("left_key"), F.col("right_key"))
    return cands.select(
        "left_id", "left_key", "right_id", "right_key", dist.alias("dist")
    ).filter(F.col("dist") <= FUZZY_MAX_DIST)


def fuzzy_join_sql(left_sql: str, right_sql: str) -> str:
    """DuckDB twin: same variants, same blocking, same verify. Caller's
    subqueries must yield ``(id, key)`` columns."""

    def variants(sub: str, role: str) -> str:
        return f"""
  SELECT id AS {role}_id, key AS {role}_key, v AS __v
  FROM ({sub}),
  UNNEST(list_distinct(list_append(
    list_transform(
      range(1, GREATEST(length(key), 1) + 1),
      i -> substr(key, 1, i - 1) || substr(key, i + 1)
    ), key))) AS t(v)"""

    return f"""
WITH lv AS ({variants(left_sql, "left")}),
rv AS ({variants(right_sql, "right")}),
cands AS (
  SELECT DISTINCT lv.left_id, lv.left_key, rv.right_id, rv.right_key
  FROM lv JOIN rv ON lv.__v = rv.__v
)
SELECT left_id, left_key, right_id, right_key,
       CAST(levenshtein(left_key, right_key) AS INTEGER) AS dist
FROM cands
WHERE levenshtein(left_key, right_key) <= {FUZZY_MAX_DIST}
"""


def debounce(events: DataFrame, gap_ms: int, key_cols: list[str]) -> DataFrame:
    """Keep only the FIRST event of every burst: a burst extends while
    consecutive same-key events are ≤ ``gap_ms`` apart (transitive —
    a long retry storm collapses to one row even if it outlasts the
    gap, which a naive lag-only filter gets wrong).

    Same shape as sessionize: lag → gap flag → running burst number →
    min-id per burst. One key shuffle, reused by every window."""
    ms = F.expr("unix_millis(ts)")
    w = W.partitionBy(*key_cols).orderBy(ms.asc(), F.col("event_id").asc())
    flagged = events.withColumn("__ms", ms).withColumn(
        "__new",
        F.when(
            F.lag("__ms").over(w).isNull()
            | (F.col("__ms") - F.lag("__ms").over(w) > gap_ms),
            1,
        ).otherwise(0),
    )
    burst = flagged.withColumn(
        "__burst",
        F.sum("__new").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    keep = W.partitionBy(*key_cols, "__burst").orderBy(
        F.col("__ms").asc(), F.col("event_id").asc()
    )
    return (
        burst.withColumn("__rn", F.row_number().over(keep))
        .filter(F.col("__rn") == 1)
        .drop("__ms", "__new", "__rn")
        .withColumnRenamed("__burst", "burst_seq")
    )
