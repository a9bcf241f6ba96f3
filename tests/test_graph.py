"""KG graph-analytics operators: sentence co-occurrence pairs,
fixed-iteration PageRank, k-hop reachability and k-core peeling —
each checked against an independent pure-Python computation or the
DuckDB twin."""

import pytest

from easyner_spark.operators.graph import pagerank, sentence_pairs


@pytest.fixture(scope="module")
def mentions_df(spark):
    # 4 sentences; terms co-occur with controlled marginals, one
    # duplicate mention inside a sentence (must count once)
    rows = [
        # (url, sent_idx, mention_lc)
        ("u1", 0, "x"), ("u1", 0, "y"), ("u1", 0, "x"),
        ("u1", 1, "x"), ("u1", 1, "z"),
        ("u2", 0, "y"), ("u2", 0, "z"),
        ("u2", 1, "x"), ("u2", 1, "y"), ("u2", 1, "z"),
    ]
    return spark.createDataFrame(rows, "url string, sent_idx int, mention_lc string")


def test_sentence_pairs_counts(mentions_df):
    got = {(r["a"], r["b"]): r["pair_cnt"] for r in sentence_pairs(mentions_df).collect()}
    # duplicate (u1,0,x) must not double-count the (x,y) pair
    assert got == {("x", "y"): 2, ("x", "z"): 2, ("y", "z"): 2}


def _py_pagerank(edges, iters=3, d=0.85, state_round=9):
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {v: round(1.0 / n, state_round) for v in nodes}
    for _ in range(iters):
        inflow = {v: 0.0 for v in nodes}
        for s, t in edges:
            inflow[t] += r[s] / deg[s]
        r = {
            v: round((1.0 - d) / n + d * inflow[v], state_round)
            for v in nodes
        }
    return {v: round(x, 6) for v, x in r.items()}


def test_pagerank_matches_pure_python(spark):
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"),  # d is dangling-IN only source
        ("e", "a"), ("c", "e"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    assert got == _py_pagerank(edges)


def test_pagerank_floor_for_no_inedge_node(spark):
    # 'solo' only points outward: its rank is exactly the (1-d)/N floor
    df = spark.createDataFrame(
        [("solo", "hub"), ("hub", "x"), ("x", "hub")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    assert got["solo"] == round(round((1.0 - 0.85) / 3.0, 9), 6)
    assert got == _py_pagerank([("solo", "hub"), ("hub", "x"), ("x", "hub")])


class TestKHop:
    # path graph a-b-c-d-e plus a disconnected pair x-y
    EDGES = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")]

    def _run(self, spark, k, sources=None):
        from easyner_spark.operators.graph import k_hop

        e = spark.createDataFrame(self.EDGES, "src string, dst string")
        s = (
            spark.createDataFrame([(n,) for n in sources], "node string")
            if sources is not None
            else None
        )
        return {(r["source"], r["node"]): r["dist"]
                for r in k_hop(e, k=k, sources=s).collect()}

    def test_min_dist_bfs(self, spark):
        got = self._run(spark, k=2, sources=["a"])
        assert got == {("a", "a"): 0, ("a", "b"): 1, ("a", "c"): 2}

    def test_undirected_and_isolation(self, spark):
        got = self._run(spark, k=2, sources=["e", "x"])
        assert got[("e", "c")] == 2 and got[("e", "d")] == 1
        # x reaches only its own island
        assert {n for (s, n) in got if s == "x"} == {"x", "y"}

    def test_k0_is_identity(self, spark):
        got = self._run(spark, k=0)
        assert all(s == n and d == 0 for (s, n), d in got.items())
        assert len(got) == 7  # every node of the graph

    def test_shorter_path_wins(self, spark):
        # triangle a-b, b-c, a-c: c is at dist 1 from a, never 2
        from easyner_spark.operators.graph import k_hop

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
        )
        got = {(r["source"], r["node"]): r["dist"] for r in k_hop(e, k=2).collect()}
        assert got[("a", "c")] == 1
        # (source, node) pairs are unique — no duplicate rows
        assert len(got) == 9


class TestKCore:
    def test_triangle_with_tail(self, spark):
        """Triangle 1-2-3 plus pendant 3-4: round 1 peels node 4, the
        triangle is the stable 2-core with within-core degree 2."""
        from easyner_spark.operators.graph import k_core

        df = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
        )
        got = {r.node: r.deg for r in k_core(df, k=2).collect()}
        assert got == {1: 2, 2: 2, 3: 2}

    def test_path_graph_peels_to_empty(self, spark):
        """A 5-node path has no 2-core: endpoints peel each round
        until nothing is left (needs 3 rounds — exercises iteration)."""
        from easyner_spark.operators.graph import k_core

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
        )
        assert k_core(df, k=2).count() == 0

    def test_cap_contract_matches_unrolled_oracle(self, spark):
        """Capped-round contract: with max_rounds too small to
        converge, the engine and the unrolled CTE stop at the SAME
        intermediate state (path of 7, k=2, 1 round: the round keeps
        nodes 2..6, then the shared final deg >= k filter drops the
        new degree-1 endpoints 2 and 6 — 3 survivors both sides)."""
        import duckdb

        from easyner_spark.operators.graph import k_core, k_core_oracle_sql

        edges = [(i, i + 1) for i in range(1, 7)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(map(tuple, k_core(df, k=2, max_rounds=1).collect()))
        vals = ", ".join(f"({a}, {b})" for a, b in edges)
        sql = k_core_oracle_sql(
            f"WITH pr AS (SELECT * FROM (VALUES {vals}) t(a, b))", k=2, max_rounds=1
        )
        want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
        assert got == want and len(got) == 3

    def test_driver_scale_converges_within_cap(self, spark):
        """The kg_kcore contract caps both engines at 8 rounds; assert
        the co-occurrence graph at driver scale actually converges
        within the cap (8-round result == 9-round result)."""
        import __spark_entry__ as e
        from easyner_spark.operators.graph import k_core, sentence_pairs
        from pyspark.sql import functions as F

        und = (
            sentence_pairs(e._mentions(spark, "/root/testdata/sf0.001"))
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        )
        r8 = sorted(map(tuple, k_core(und, k=2, max_rounds=8).collect()))
        r9 = sorted(map(tuple, k_core(und, k=2, max_rounds=9).collect()))
        assert r8 == r9 and len(r8) > 0
