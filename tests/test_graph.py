"""Connected-components / dup-cluster semantics (operators/graph.py),
including a hypothesis property check against a Python union-find."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from healthcare_aws_data_engineering_spark.operators.graph import (
    connected_components,
    dup_clusters,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_cc_path_graph_collapses_to_min(spark):
    # 1-2-3-4-5 chain: diameter 4, all must land on label 1.
    out = connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]))
    got = {r.node: r.cluster_id for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_cc_multiple_components_and_orientation(spark):
    # Two components; edges given in both orientations and with the min
    # node on either side.
    out = connected_components(
        _pairs(spark, [(7, 3), (3, 9), (20, 25), (25, 20)])
    )
    got = {r.node: r.cluster_id for r in out.collect()}
    assert got == {3: 3, 7: 3, 9: 3, 20: 20, 25: 20}


def test_cc_max_iter_truncates_long_chain(spark):
    # diameter > max_iter: labels not fully propagated — documents the
    # bound rather than silently looping forever.
    chain = [(i, i + 1) for i in range(1, 8)]
    out = connected_components(_pairs(spark, chain), max_iter=2)
    got = {r.node: r.cluster_id for r in out.collect()}
    assert got[8] != 1  # far end not yet reached in 2 rounds
    assert got[3] == 1  # near end is


def _union_find_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


edge = st.tuples(
    st.integers(min_value=0, max_value=15), st.integers(min_value=0, max_value=15)
).filter(lambda e: e[0] != e[1])


@given(edges=st.lists(edge, min_size=1, max_size=12))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cc_matches_union_find(spark, edges):
    out = connected_components(
        spark.createDataFrame(edges, "doc_a long, doc_b long")
    )
    got = {r.node: r.cluster_id for r in out.collect()}
    assert got == _union_find_labels(edges)


def test_star_equals_label_fixture_graphs(spark):
    # Clusters + a 500-node path (diameter 499: one label round per hop)
    # + hub stars + self-pair singletons, one graph, pinned against
    # union-find.
    edges = (
        [(1, 2), (2, 3), (3, 1)]                    # triangle cluster
        + [(1000 + i, 1000 + i + 1) for i in range(499)]  # 500-node path
        + [(5000, 5000 + i) for i in range(1, 20)]  # star, hub = min
        + [(7000 + i, 6000) for i in range(1, 20)]  # star, hub = max
        + [(9001, 9001), (9002, 9002)]              # self-pair singletons
    )
    label = {
        r.node: r.cluster_id
        for r in connected_components(
            _pairs(spark, edges), max_iter=600
        ).collect()
    }
    assert label == _union_find_labels(edges)
    assert label[9001] == 9001 and label[9002] == 9002  # self-pairs kept
    assert label[1499] == 1000  # far end of the path reached


def test_cc_round_is_one_shuffle(spark, monkeypatch):
    """Each label round, and the neighbour-list staging before them, is
    one Exchange in the executed plan it checkpoints: messages and
    state rows meet in one groupBy, with no edge-label join."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    checkpoint = DataFrame.localCheckpoint

    def spy(self, eager=True):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    chain = [(i, i + 1) for i in range(1, 6)]
    out = connected_components(_pairs(spark, chain))
    assert {r.cluster_id for r in out.collect()} == {1}
    # staging + 5 rounds to reach node 6 + 1 round to see the fixpoint
    assert len(plans) == 7
    assert [p.count("Exchange ") for p in plans] == [1] * 7, plans[1]


def test_dup_clusters_keeper_and_size(spark):
    out = dup_clusters(_pairs(spark, [(10, 11), (11, 12), (30, 31)]))
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {10, 11, 12, 30, 31}
    assert rows[10].is_keeper and rows[10].cluster_size == 3
    assert not rows[11].is_keeper and rows[11].cluster_id == 10
    assert rows[30].is_keeper and rows[30].cluster_size == 2
    assert not rows[31].is_keeper and rows[31].cluster_id == 30


def _pagerank_twin(vertex_ids, edge_list, n_iter=3):
    """Python twin of the ``pagerank_sql`` oracle's integer arithmetic:
    ``deg`` counts every out-edge (duplicates and edges to non-vertices
    included), edges from non-vertices carry no rank, mass sent to a
    non-vertex is lost, and a vertex with no out-edge is dangling."""
    from healthcare_aws_data_engineering_spark.operators.graph import (
        PR_DAMP_PCT,
        PR_GRID,
    )

    n = len(vertex_ids)
    base = ((100 - PR_DAMP_PCT) * PR_GRID // n) // 100
    deg: dict[int, int] = {}
    for s, _ in edge_list:
        deg[s] = deg.get(s, 0) + 1
    ranks = {i: PR_GRID // n for i in vertex_ids}
    for _ in range(n_iter):
        contrib: dict[int, int] = {}
        for s, d in edge_list:
            if s in ranks:
                contrib[d] = contrib.get(d, 0) + ranks[s] // deg[s]
        dang = sum(r for i, r in ranks.items() if i not in deg)
        ranks = {
            i: base + (PR_DAMP_PCT * (contrib.get(i, 0) + dang // n)) // 100
            for i in vertex_ids
        }
    return ranks


def _pagerank_rows(spark, vertex_ids, edge_list):
    from pyspark.sql import Row

    from healthcare_aws_data_engineering_spark.operators.graph import pagerank

    vertices = spark.createDataFrame([Row(vec_id=i) for i in vertex_ids])
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        r["vec_id"]: r["rank_u12"]
        for r in pagerank(vertices, edges, n_iter=3).collect()
    }


def test_pagerank_python_twin(spark):
    edge_list = [(0, 1), (1, 2), (2, 0), (0, 2)]  # node 3 dangling
    got = _pagerank_rows(spark, range(4), edge_list)
    assert got == _pagerank_twin(range(4), edge_list)


def test_pagerank_edge_semantics_match_twin_and_oracle(spark):
    import duckdb

    from healthcare_aws_data_engineering_spark.operators.graph import (
        pagerank_sql,
    )

    vertex_ids = list(range(6))
    edge_list = [
        (0, 1), (0, 1),  # duplicate edge: two messages, deg 3
        (0, 2),
        (1, 2),
        (2, 0),
        (2, 9),          # to a non-vertex: counts in deg, mass lost
        (8, 3),          # from a non-vertex: ignored
        (3, 5),
        (5, 1),
    ]  # vertex 4 is isolated (dangling)
    got = _pagerank_rows(spark, vertex_ids, edge_list)
    want = _pagerank_twin(vertex_ids, edge_list)
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE v AS SELECT range AS vec_id FROM range(6)")
    con.execute("CREATE TABLE e (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edge_list)
    sql = "WITH " + pagerank_sql("SELECT vec_id FROM v", "SELECT src, dst FROM e")
    assert dict(con.execute(sql).fetchall()) == want


def test_pagerank_mass_conserved(spark):
    from healthcare_aws_data_engineering_spark.operators.graph import (
        PR_GRID,
    )
    from healthcare_aws_data_engineering_spark.plans.analytics_queries import (
        q_graph_pagerank,
    )

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = scheduler.nextJobId()
    rows = q_graph_pagerank(spark, "/root/testdata/sf0.001").collect()
    jobs = scheduler.nextJobId() - job0
    total = sum(r["rank_u12"] for r in rows)
    # floor losses only: mass never grows, and per-step loss is bounded
    assert total <= PR_GRID
    assert total >= int(PR_GRID * 0.85)
    assert all(r["rank_u12"] > 0 for r in rows)
    # Job-count pin over build + collect: the k-NN edges build with no
    # job, then the adjacency stage and 3 jobs per staged round. 14 once
    # the session has run the row, 15 on a fresh session.
    assert jobs <= 15, f"graph_pagerank fired {jobs} jobs"
