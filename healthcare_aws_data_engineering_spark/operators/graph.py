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
- Each round is ONE shuffle, in the message-passing shape of
  :func:`pagerank`: the per-node state ``(node, nbrs, lbl)`` carries
  each node's neighbour list, every node emits its state row plus one
  ``(nbr, lbl)`` message per neighbour, and one ``groupBy(node)`` takes
  the min label and carries the state. No join, no all-pairs work,
  nothing driver-side except a 2-value convergence aggregate per round.
  A round shuffles |V| state rows plus 2|pairs| messages; the aggregate
  is sort-based because the state holds an array, and a hub's neighbour
  list travels as one row per round.
- A lazily marked ``localCheckpoint(eager=False)`` truncates lineage
  every round (the state table is staged the same way once); without
  it the plan doubles per iteration and the optimizer chokes long
  before the data does. Lazy is not job-free: adaptive execution runs
  the round's shuffle map stage when the checkpoint is marked (see the
  loop). Once a round's convergence collect has materialized the new
  generation, the previous one is released
  (:func:`.staging.release_checkpoint`), so a call leaves one
  persisted generation, the one its result reads, whatever the round
  count (:func:`pagerank` does the same).
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

from .staging import release_checkpoint


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
    edges = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    # Pairs are already distinct per the dedup contract; a defensive
    # distinct would add a shuffle for nothing.
    state = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.collect_list("dst").alias("nbrs"))
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=False)
    )

    prev: tuple | None = None
    for _ in range(max_iter):
        # Propagate: each node offers its label to every neighbour, then
        # every node keeps the min of its own and all offered labels.
        offered = state.select(
            F.explode("nbrs").alias("node"),
            F.lit(None).cast("array<long>").alias("nbrs"),
            "lbl",
        )
        # Not action-free: although the checkpoint is lazy, adaptive
        # execution runs the shuffle map stage of the groupBy below it
        # while its plan is built, and the convergence collect fires
        # more jobs.
        nxt = (
            state.unionByName(offered)
            .groupBy("node")
            .agg(F.max("nbrs").alias("nbrs"), F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        row = nxt.agg(
            F.sum("lbl").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        # the collect materialized the new generation: the old one has
        # no reader left
        release_checkpoint(state)
        state = nxt
        cur = (row["s"], row["n"])
        if cur == prev:
            break
        prev = cur
    return state.select(F.col("node"), F.col("lbl").alias("cluster_id"))


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


def pagerank(vertices: DataFrame, edges: DataFrame, n_iter: int = 3) -> DataFrame:
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

    Shape: Pregel-style message passing over a per-vertex state table
    ``(id, st = (nbrs, deg))`` built ONCE from the vertices left-joined
    to the edges grouped by ``src`` — ``nbrs`` lists every out-neighbour
    (duplicates kept), ``deg`` counts every out-edge, including edges to
    non-vertices; edges from non-vertices never reach the table. Each
    round is ONE shuffle: every vertex emits its own state row plus one
    ``rank DIV deg`` message per out-neighbour, and one ``groupBy(id)``
    sums the messages (map-side partial sum) and carries the state
    forward; a group with no state row is a non-vertex, whose mass is
    lost. A round therefore shuffles |V| state rows plus at most |E|
    messages, and the aggregate is sort-based because the state holds
    an array. A hub's neighbour list travels as one row per round; a
    k-NN graph caps it at k.

    Each non-final round is staged with a lazily marked
    ``localCheckpoint`` (without it every round would re-execute the
    full prior-round subtree per reference — the 3^iter blowup) and its
    dangling mass (rank summed over ``deg = 0``) is collected once and
    enters the next round as a driver LITERAL, so PageRank is an
    iterative operator: its rounds fire jobs while it is built. Each
    staged generation is released once the next one is materialized;
    the final round is left lazy and reads the last staged generation,
    which stays persisted for the caller's action.

    Output: one row per vertex, ``(id, rank_u12)`` — BIGINT grid units
    summing to ≈ PR_GRID (floor losses are deterministic).
    """
    adj = edges.groupBy(F.col("src").alias("id")).agg(
        F.collect_list("dst").alias("nbrs"),
        F.count(F.lit(1)).alias("deg"),
    )
    # Lazily marked, so the count/dangling collect below is the action
    # that materializes it. The checkpoint also truncates lineage into the
    # caller's edge-build plan, which therefore runs exactly once, here.
    state = (
        vertices.select(F.col("vec_id").alias("id"))
        .join(adj, "id", "left")
        .select(
            "id",
            F.struct(
                F.coalesce("nbrs", F.array().cast("array<long>")).alias("nbrs"),
                F.coalesce("deg", F.lit(0).cast("long")).alias("deg"),
            ).alias("st"),
        )
        .localCheckpoint(eager=False)
    )
    vrow = state.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("st.deg") == 0, 1)), F.lit(0)
        ).alias("n_dang"),
    ).collect()[0]
    n = vrow["n"]  # bounded driver scalar: graph cardinality
    init = PR_GRID // n
    base = ((100 - PR_DAMP_PCT) * PR_GRID // n) // 100
    # round-0 dangling mass: every node starts at ``init`` exactly, so
    # the filtered sum is init · |dangling| — the identical BIGINT.
    dang = init * vrow["n_dang"]
    ranks = state.withColumn("rank", F.lit(init).cast("long"))
    staged = state  # the live generation: released once the next is materialized
    for it in range(n_iter):
        sent = ranks.select(
            F.explode("st.nbrs").alias("id"),
            F.expr("CAST(rank DIV st.deg AS BIGINT)").alias("__c"),
        )
        # Python // == Spark DIV on non-negative longs, so the literal
        # carries the exact grid value an in-plan dangling sum would.
        ranks = (
            ranks.select("id", "st", F.lit(0).cast("long").alias("__c"))
            .unionByName(sent, allowMissingColumns=True)
            .groupBy("id")
            .agg(F.max("st").alias("st"), F.sum("__c").alias("__in"))
            .filter(F.col("st").isNotNull())
            .select(
                "id",
                "st",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"CAST(({PR_DAMP_PCT} * (__in + {dang // n}L))"
                        " DIV 100 AS BIGINT)"
                    )
                ).alias("rank"),
            )
        )
        if it < n_iter - 1:
            ranks = ranks.localCheckpoint(eager=False)
            dang = (
                ranks.filter(F.col("st.deg") == 0)
                .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("__dang"))
                .collect()[0]["__dang"]
            )
            release_checkpoint(staged)
            staged = ranks
    return ranks.select(F.col("id").alias("vec_id"), F.col("rank").alias("rank_u12"))


def pagerank_sql(vertices_sql: str, edges_sql: str, n_iter: int = 3) -> str:
    """DuckDB twin of :func:`pagerank`: the fixed iterations unroll into
    a CTE chain performing the identical integer arithmetic. The caller
    embeds this after its own WITH-chain (vertices/edges CTEs)."""
    frags = [
        f"""pr_n AS (SELECT COUNT(*) AS n FROM ({vertices_sql})),
pr_deg AS (SELECT src, COUNT(*) AS deg FROM ({edges_sql}) GROUP BY src),
pr_r0 AS (
  SELECT vec_id AS id,
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
SELECT id AS vec_id, rank AS rank_u12 FROM pr_r{n_iter}
"""
