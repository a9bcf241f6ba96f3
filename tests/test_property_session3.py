"""Property tests for the session's graph/eval operators: random
inputs vs independent pure-Python models (the test_property_round3_ops
pattern — few examples, each a full Spark plan, deadline off)."""

from collections import defaultdict

from hypothesis import given, settings
from hypothesis import strategies as st

NODES = [f"n{i}" for i in range(6)]

edges_strat = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)),
    min_size=1,
    max_size=15,
)


def _py_shortest(pairs, landmarks, k):
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
    out = {}
    # reverse BFS from each landmark
    radj = defaultdict(set)
    for a, bs in adj.items():
        for b in bs:
            radj[b].add(a)
    for m in landmarks:
        dist = {m: 0}
        frontier = [m]
        for d in range(1, k + 1):
            nxt = []
            for n in frontier:
                for p in radj[n]:
                    if p not in dist:
                        dist[p] = d
                        nxt.append(p)
            frontier = nxt
        for n, d in dist.items():
            out[(n, m)] = d
    return out


@settings(max_examples=10, deadline=None)
@given(pairs=edges_strat, k=st.integers(min_value=1, max_value=3))
def test_shortest_paths_matches_python_bfs(spark, pairs, k):
    from easyner_spark.operators.graph import shortest_paths

    e = spark.createDataFrame(pairs, ["src", "dst"])
    landmarks = ("n0", "n3")
    got = {
        (r.node, r.landmark): r.dist
        for r in shortest_paths(e, landmarks, k=k).collect()
    }
    assert got == _py_shortest(pairs, landmarks, k)


def _py_paths(pairs, sources, targets, max_len):
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
    out = set()

    def walk(node, path):
        if len(path) - 1 >= max_len:
            return
        for nxt in adj[node]:
            if nxt in path:
                continue
            p2 = path + [nxt]
            if nxt in targets:
                out.add((p2[0], nxt, ">".join(p2), len(p2) - 1))
            walk(nxt, p2)

    for s in sources:
        walk(s, [s])
    return out


@settings(max_examples=10, deadline=None)
@given(pairs=edges_strat, ml=st.integers(min_value=1, max_value=3))
def test_kg_paths_matches_python_dfs(spark, pairs, ml):
    from easyner_spark.operators.graph import kg_paths

    e = spark.createDataFrame(pairs, ["src", "dst"])
    sources, targets = ("n0", "n1"), ("n4", "n5")
    got = {
        (r.src, r.dst, r.path, r.hops)
        for r in kg_paths(
            e, sources=sources, targets=targets, max_len=ml
        ).collect()
    }
    assert got == _py_paths(pairs, sources, set(targets), ml)
