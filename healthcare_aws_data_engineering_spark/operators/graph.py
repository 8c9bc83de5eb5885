"""Distributed connected components over a pair list — the clustering
step that turns near-duplicate PAIRS (MinHash-LSH / SimHash / embedding
candidates, verified by exact Jaccard) into duplicate CLUSTERS with one
canonical keeper each. The reference has no counterpart (its dedup is
single-key ``drop_duplicates``, Glue_tranformation_json_parquet.py:186);
this is a brief-extension operator for the training-data pipeline, where
"keep one doc per near-dup cluster" is the actual deliverable of dedup.

Algorithm: min-label propagation. Every node starts labeled with its own
id; each round every node takes the min label over itself and its
neighbors; at fixpoint every component carries the min node id as its
cluster id. Rounds = graph diameter.

Scale notes (100 TB shape)
--------------------------
- Each round is ONE shuffle join (edges ⋈ labels on ``src``, both sides
  hash-partitioned on the same key) plus ONE hash aggregation — no
  all-pairs work, nothing driver-side except a 2-value convergence
  aggregate per round.
- ``localCheckpoint(eager=True)`` truncates lineage every round;
  without it the plan doubles per iteration and the optimizer chokes
  long before the data does.
- Convergence detection is O(1) driver data: labels only ever decrease,
  so ``(sum(lbl), count)`` is strictly decreasing until fixpoint —
  equality of consecutive rounds IS convergence (no expensive
  changed-rows anti-join).
- Near-dup graphs have tiny diameter (clusters are dense cliques-ish),
  so the round count stays single-digit (measured: 2 rounds to fixpoint
  on the sf0.1 MinHash graph). A graph whose diameter grows with its
  size — a path, or a k-NN graph's giant component — needs one round
  per hop; SCALING.md ("Connected-components: rounds to fixpoint")
  measures that case against alternating large-star/small-star
  (Kiveris et al., SoCC'14, O(log² n) rounds), which no caller needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of the undirected pair graph with the MIN node id
    reachable from it. Returns ``(node, cluster_id)`` — one row per
    distinct node appearing in ``pairs``.

    ``max_iter`` bounds the rounds (≥ the graph diameter for an exact
    answer); the loop stops the round after fixpoint.
    """
    fwd = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    edges = fwd.union(
        pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    )
    # Cache: re-joined every round. Pairs are already distinct per the
    # dedup contract; a defensive distinct would add a shuffle for nothing.
    edges = edges.localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )

    prev: tuple | None = None
    for _ in range(max_iter):
        # Propagate: each node offers its label to every neighbor, then
        # every node keeps the min of its own and all offered labels.
        offered = edges.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "lbl")
        # Not action-free: although the checkpoint is lazy, adaptive
        # execution runs the shuffle map stages of the join and groupBy
        # below it while its plan is built (3 jobs on a vanilla local[4]
        # session, 4 on session.py's), and the convergence collect fires
        # 2 more. A 7-node path takes 7 rounds: 38 and 45 jobs in all.
        labels = (
            labels.unionByName(offered)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        row = labels.agg(
            F.sum("lbl").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        cur = (row["s"], row["n"])
        if cur == prev:
            break
        prev = cur
    return labels.select(F.col("node"), F.col("lbl").alias("cluster_id"))


def dup_clusters(
    verified_pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Near-dup cluster table from verified pairs: ``doc_id, cluster_id,
    cluster_size, is_keeper``. ``cluster_id`` is the min doc id of the
    component (deterministic canonical choice); the keeper is that doc.
    Singleton docs (no pair) are intentionally absent — they are their
    own keepers by definition and emitting them would turn a pair-sized
    result into a corpus-sized one."""
    cc = connected_components(verified_pairs, src_col, dst_col)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    # cluster_id join is a tiny-side broadcast at any scale where the
    # number of clusters ≪ corpus; let AQE decide rather than pinning.
    return cc.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    )


# ---------------------------------------------------------------- pagerank --

PR_GRID = 1_000_000_000_000  # 1e12: rank mass rides an integer grid
PR_DAMP_PCT = 85


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    n_iter: int = 3,
    id_col: str = "vec_id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank on an EXACT integer grid: total mass
    :data:`PR_GRID` is split uniformly, each iteration moves
    ``rank DIV out_degree`` along every edge (integer floor — the
    remainder stays with the node implicitly via the damping base term),
    dangling mass redistributes uniformly, and damping is integer
    ``85/100``. Every operation is BIGINT add/div on non-negative
    values, so the result is bit-identical in any engine and independent
    of aggregation order — no float mass anywhere.

    Fixed ``n_iter`` (not convergence-tested) keeps the plan static and
    the SQL oracle an unrolled CTE chain; 3 iterations is the standard
    "influence score" depth for corpus-graph weighting, not a numeric
    fixpoint claim.

    Scale shape per iteration (r16 fusion — one job, was two): one
    deg_edges⋈ranks shuffle join on ``src`` (deg_edges is
    degree-annotated, pre-partitioned on ``src`` and materialized ONCE —
    the big side never re-shuffles and never re-joins out_deg), one hash
    agg on ``dst``, and the O(1) dangling aggregate collected by the
    SAME action that materializes the round's lazily-marked
    ``localCheckpoint`` — the dangling mass then enters the next
    round's update as a driver LITERAL instead of a per-round broadcast
    exchange (identical BIGINT value: the sum of longs is exact either
    way). The final round is left lazy: its lineage is one join over
    checkpointed inputs, so the caller's action pays it directly and no
    trailing checkpoint/collect jobs run. ``ranks`` materialization per
    round is still required — each round's DataFrame would otherwise
    re-execute the full prior-round subtree per reference (3^iter
    blowup, the r3 finding).

    Output: one row per vertex, ``(id, rank_u12)`` — BIGINT grid units
    summing to ≈ PR_GRID (floor losses are deterministic).
    """
    out_deg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("__deg"))
    # Degree-annotated edges, staged once for all iterations. localCheckpoint
    # (not persist) also truncates lineage into the caller's edge-build plan.
    deg_edges = (
        edges.join(out_deg, src_col)
        .select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            "__deg",
        )
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    # Static vertex list with a dangling flag: the per-round dangling mass
    # is then a filter+sum over ranks instead of a per-round anti-join.
    # Lazily marked; the fused count/dangling aggregate below materializes
    # it and yields the graph cardinality + initial dangling mass in the
    # same job (was: vertices.count() + eager checkpoint = two jobs).
    verts = (
        vertices.select(F.col(id_col).alias("id"))
        .join(
            out_deg.select(
                F.col(src_col).alias("id"), F.lit(1).alias("__has_out")
            ),
            "id",
            "left",
        )
        .select("id", F.coalesce("__has_out", F.lit(0)).alias("__has_out"))
        .localCheckpoint(eager=False)
    )
    vrow = verts.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("__has_out") == 0, 1)), F.lit(0)
        ).alias("n_dang"),
    ).collect()[0]
    n = vrow["n"]  # bounded driver scalar: graph cardinality
    init = PR_GRID // n
    base = ((100 - PR_DAMP_PCT) * PR_GRID // n) // 100
    # round-0 dangling mass: every node starts at ``init`` exactly, so
    # the filtered sum is init · |dangling| — the identical BIGINT.
    dang = init * vrow["n_dang"]
    ranks = verts.select(
        "id", "__has_out", F.lit(init).cast("long").alias("rank")
    )
    for it in range(n_iter):
        contrib = (
            deg_edges.join(
                ranks.select(F.col("id").alias("src"), "rank"), "src"
            )
            .select(
                F.col("dst").alias("id"),
                F.expr("CAST(rank DIV __deg AS BIGINT)").alias("__c"),
            )
            .groupBy("id")
            .agg(F.sum("__c").alias("__in"))
        )
        # Python // == Spark DIV on non-negative longs, so the literal
        # carries the exact same grid value the broadcast column did.
        ranks = verts.join(contrib, "id", "left").select(
            "id",
            "__has_out",
            (
                F.lit(base).cast("long")
                + F.expr(
                    f"CAST(({PR_DAMP_PCT} * (COALESCE(__in, 0)"
                    f" + {dang // n}L)) DIV 100 AS BIGINT)"
                )
            ).alias("rank"),
        )
        if it < n_iter - 1:
            ranks = ranks.localCheckpoint(eager=False)
            dang = (
                ranks.filter(F.col("__has_out") == 0)
                .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("__dang"))
                .collect()[0]["__dang"]
            )
    return ranks.select(F.col("id").alias(id_col), F.col("rank").alias("rank_u12"))


def pagerank_sql(
    vertices_sql: str,
    edges_sql: str,
    n_iter: int = 3,
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`pagerank`: the fixed iterations unroll into
    a CTE chain performing the identical integer arithmetic. The caller
    embeds this after its own WITH-chain (vertices/edges CTEs)."""
    frags = [
        f"""pr_n AS (SELECT COUNT(*) AS n FROM ({vertices_sql})),
pr_deg AS (SELECT src, COUNT(*) AS deg FROM ({edges_sql}) GROUP BY src),
pr_r0 AS (
  SELECT {id_col} AS id,
         CAST({PR_GRID} // (SELECT n FROM pr_n) AS BIGINT) AS rank
  FROM ({vertices_sql})
)"""
    ]
    for i in range(n_iter):
        frags.append(
            f"""pr_c{i} AS (
  SELECT e.dst AS id, SUM(r.rank // d.deg) AS in_mass
  FROM ({edges_sql}) e
  JOIN pr_r{i} r ON r.id = e.src
  JOIN pr_deg d ON d.src = e.src
  GROUP BY e.dst
),
pr_d{i} AS (
  SELECT COALESCE(SUM(rank), 0) AS dang FROM pr_r{i}
  WHERE id NOT IN (SELECT src FROM pr_deg)
),
pr_r{i + 1} AS (
  SELECT r.id,
         CAST((({100 - PR_DAMP_PCT} * {PR_GRID} // (SELECT n FROM pr_n)) // 100)
              + (({PR_DAMP_PCT} * (COALESCE(c.in_mass, 0)
                  + (SELECT dang FROM pr_d{i}) // (SELECT n FROM pr_n))) // 100)
           AS BIGINT) AS rank
  FROM pr_r{i} r LEFT JOIN pr_c{i} c ON c.id = r.id
)"""
        )
    return ",\n".join(frags) + f"""
SELECT id AS {id_col}, rank AS rank_u12 FROM pr_r{n_iter}
"""
