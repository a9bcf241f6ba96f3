"""Landmark BFS distances and bounded simple-path enumeration —
hand-graph expectations checked exactly (everything is integer or
string)."""

import pyspark.sql.functions as F

from easyner_spark.operators.graph import kg_paths, shortest_paths


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


#  a -> b -> c -> L      d -> L      L -> e  (e is DOWNSTREAM of L)
#        \-> L           isolated: z never appears
_GRAPH = [
    ("a", "b"),
    ("b", "c"),
    ("c", "L"),
    ("b", "L"),
    ("d", "L"),
    ("L", "e"),
]


def test_shortest_paths_basic(spark):
    out = {
        (r.node, r.landmark): r.dist
        for r in shortest_paths(_edges(spark, _GRAPH), ("L",), k=3).collect()
    }
    assert out[("L", "L")] == 0
    assert out[("c", "L")] == 1
    assert out[("b", "L")] == 1  # direct edge wins over b->c->L
    assert out[("d", "L")] == 1
    assert out[("a", "L")] == 2  # via b
    # e only has an edge FROM L; directed distance to L is undefined
    assert ("e", "L") not in out
    assert len(out) == 5


def test_shortest_paths_bound_and_multi_landmark(spark):
    # k=1 cuts 'a' (dist 2) out
    out1 = {
        r.node
        for r in shortest_paths(_edges(spark, _GRAPH), ("L",), k=1).collect()
    }
    assert out1 == {"L", "c", "b", "d"}
    # second landmark 'c': b at 1, a at 2; c itself at 0
    out2 = {
        (r.node, r.landmark): r.dist
        for r in shortest_paths(
            _edges(spark, _GRAPH), ("L", "c"), k=2
        ).collect()
    }
    assert out2[("c", "c")] == 0 and out2[("b", "c")] == 1
    assert out2[("a", "c")] == 2 and out2[("a", "L")] == 2


def test_kg_paths_enumerates_simple_paths(spark):
    rows = kg_paths(
        _edges(spark, _GRAPH), sources=("a",), targets=("L",), max_len=3
    ).collect()
    got = {(r.path, r.hops) for r in rows}
    assert got == {("a>b>L", 2), ("a>b>c>L", 3)}
    assert all(r.src == "a" and r.dst == "L" for r in rows)
    # max_len=2 drops the 3-hop route
    short = kg_paths(
        _edges(spark, _GRAPH), sources=("a",), targets=("L",), max_len=2
    ).collect()
    assert {(r.path, r.hops) for r in short} == {("a>b>L", 2)}


def test_kg_paths_cycle_guard_and_substring_ids(spark):
    # cycle x->y->x plus exit y->t: the only simple path is x>y>t;
    # id 'x' is a substring of id 'xx' — the fence must not let the
    # xx node block (or be blocked by) x.
    e = _edges(
        spark,
        [("x", "y"), ("y", "x"), ("y", "t"), ("x", "xx"), ("xx", "t")],
    )
    rows = kg_paths(e, sources=("x",), targets=("t",), max_len=4).collect()
    assert {(r.path, r.hops) for r in rows} == {
        ("x>y>t", 2),
        ("x>xx>t", 2),
    }
