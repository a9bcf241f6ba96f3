"""Connected components vs an independent union-find oracle."""

import random

import pytest

from easyner_spark.operators.components import alias_component_nodes, connected_components


def union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def _check(spark, edges):
    """Every execution path — the hybrid local finish (default: these
    graphs are tiny), the same finish on the raw edge list when the
    caller passes its row count, AND the forced distributed fixpoint —
    against the independent union-find, and against each other."""
    df = spark.createDataFrame(edges, "src string, dst string")
    got_local = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    got_hinted = {
        r["node"]: r["component"]
        for r in connected_components(df, n_edges=len(edges)).collect()
    }
    got_dist = {
        r["node"]: r["component"]
        for r in connected_components(df, local_finish_edges=0).collect()
    }
    expected = union_find_components(edges)
    # normalize union-find roots to component minimum
    comp_min = {}
    for n, r in expected.items():
        comp_min.setdefault(r, n)
        comp_min[r] = min(comp_min[r], n)
    expected_min = {n: comp_min[r] for n, r in expected.items()}
    assert got_local == expected_min
    assert got_hinted == expected_min
    assert got_dist == expected_min


def test_two_cliques_and_bridge(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("y", "z"), ("c", "x")]
    _check(spark, edges)


def test_chain_graph(spark):
    # worst case for naive label propagation; star alg is O(log n)
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(60)]
    _check(spark, edges)


def test_random_graphs(spark):
    rng = random.Random(3)
    nodes = [f"v{i:02d}" for i in range(40)]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(45)]
    _check(spark, edges)


def test_alias_graph_components(spark, fx):
    alias_df = spark.createDataFrame(fx.alias_lookup)
    got = {r["node"]: r["component"] for r in alias_component_nodes(alias_df).collect()}
    # akt1 and mtor share KB:0001 -> same component
    assert got["term:akt1"] == got["term:mtor"] == got["id:KB:0001"]
    # rapamycin bridges its two ids
    assert got["id:KB:0004"] == got["id:KB:0104"] == got["term:rapamycin"]
    # the whole cov synonym family merges
    fam = {got[f"term:{t}"] for t in ["cov", "2019 cov", "2019 cov disease", "covid"]}
    assert len(fam) == 1
    # distinct groups stay distinct
    assert got["term:hela"] != got["term:autophagy"]
    assert got["term:sars-cov-2"] != got["term:cov"]


def test_empty_and_selfloop(spark):
    df = spark.createDataFrame([("a", "a")], "src string, dst string")
    assert connected_components(df).count() == 0
    assert connected_components(df, n_edges=1).count() == 0


def test_n_edges_over_threshold_runs_fixpoint(spark):
    # the row-count hint only skips the fixpoint when it is within
    # local_finish_edges; above it the distributed rounds still run
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    stats: dict = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            df, n_edges=len(edges), local_finish_edges=0, stats=stats
        ).collect()
    }
    assert stats["rounds"] >= 1 and not stats["local_finish"]
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_n_edges_hint_is_one_collect(spark):
    # within local_finish_edges the hinted call skips the canonicalizing
    # checkpoint: its only job is the union-find's collect
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    sc = spark.sparkContext

    def jobs(group, **kw):
        sc.setJobGroup(group, group)
        try:
            connected_components(df, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("cc-hint-hinted", n_edges=len(edges)) == 1
    assert jobs("cc-hint-unhinted") >= 2


class TestIncrementalComponents:
    def _inc(self, spark, old_edges, new_edges, **kw):
        from easyner_spark.operators.components import (
            connected_components,
            incremental_components,
        )

        schema = "src string, dst string"
        mapping = connected_components(
            spark.createDataFrame(old_edges, schema)
        )
        return {
            r["node"]: r["component"]
            for r in incremental_components(
                mapping, spark.createDataFrame(new_edges, schema), **kw
            ).collect()
        }

    def test_bridge_merges_and_singletons_survive(self, spark):
        # old: {a,b} and {c,d} components; new edge b-c merges them;
        # old component {e,f} untouched by the delta must survive, and
        # the delta introduces brand-new nodes {x,y}
        got = self._inc(
            spark,
            [("a", "b"), ("c", "d"), ("e", "f")],
            [("b", "c"), ("x", "y")],
        )
        assert got["a"] == got["b"] == got["c"] == got["d"] == "a"
        assert got["e"] == got["f"] == "e"
        assert got["x"] == got["y"] == "x"
        assert set(got) == {"a", "b", "c", "d", "e", "f", "x", "y"}

    def test_random_equals_full_recompute(self, spark):
        # the contract: incremental(cc(G1), E2) == cc(G1 ∪ E2), pinned
        # against the union-find oracle on random splits
        rng = random.Random(7)
        nodes = [f"v{i:02d}" for i in range(30)]
        all_edges = [tuple(rng.sample(nodes, 2)) for _ in range(40)]
        for cut in (0, 13, 40):
            old, new = all_edges[:cut], all_edges[cut:]
            got = self._inc(spark, old, new)
            want = union_find_components(all_edges)
            assert got == want, f"cut={cut}"

    def test_selfloop_delta_matches_full_recompute(self, spark):
        # a self-loop-only node in the delta must NOT appear (full
        # recompute drops self-loops during canonicalization)
        got = self._inc(spark, [("a", "b")], [("x", "x")])
        assert got == {"a": "a", "b": "a"}
