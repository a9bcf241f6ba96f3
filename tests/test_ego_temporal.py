"""Ego-subgraph extraction, core numbers and the DOT sink."""

import pytest

from easyner_spark.operators.graph import ego_subgraph


def test_ego_subgraph_induced_edges(spark):
    #   s - a - b - c   and isolated pair x - y
    e = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "c"), ("x", "y"), ("a", "a")],
        ["src", "dst"],
    )
    out = {(r.src, r.dst) for r in ego_subgraph(e, ("s",), k=2).collect()}
    # members within 2 hops of s: s, a, b (c is 3 away); induced
    # edges: s-a, a-b; self-loop dropped; x-y outside
    assert out == {("s", "a"), ("a", "b")}
    out3 = {(r.src, r.dst) for r in ego_subgraph(e, ("s",), k=3).collect()}
    assert out3 == {("s", "a"), ("a", "b"), ("b", "c")}


def test_ego_subgraph_multi_seed_and_validation(spark):
    e = spark.createDataFrame([("a", "b"), ("x", "y")], ["src", "dst"])
    out = {
        (r.src, r.dst)
        for r in ego_subgraph(e, ("a", "x"), k=1).collect()
    }
    assert out == {("a", "b"), ("x", "y")}
    with pytest.raises(ValueError, match="at least one seed"):
        ego_subgraph(e, ())


def test_core_numbers_triangle_with_tail(spark):
    from easyner_spark.operators.graph import core_numbers

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], ["src", "dst"]
    )
    out = {r.node: r.core for r in core_numbers(e, k_max=4).collect()}
    assert out == {"a": 2, "b": 2, "c": 2, "d": 1}


def test_core_numbers_oracle_parity(spark):
    import duckdb

    from easyner_spark.operators.graph import (
        core_numbers,
        core_numbers_oracle_sql,
    )

    pairs = [
        ("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"),
        ("e", "f"), ("f", "d"), ("c", "e"),
    ]
    e = spark.createDataFrame(pairs, ["src", "dst"])
    got = sorted(
        (r.node, r.core) for r in core_numbers(e, k_max=3).collect()
    )
    vals = ", ".join(f"('{a}', '{b}')" for a, b in pairs)
    prefix = (
        "WITH cnE AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) "
        f"AS b FROM (VALUES {vals}) v(x, y) WHERE x <> y)"
    )
    sql = core_numbers_oracle_sql(prefix, k_max=3)
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_to_dot_deterministic_and_bounded(spark, tmp_path):
    import pytest as _pytest

    from easyner_spark.sinks.graphviz import to_dot, write_dot

    e = spark.createDataFrame(
        [("a", "b", "binds"), ('q"x', "b", "inhibits")],
        ["src", "dst", "pred"],
    )
    dot = to_dot(e, label="pred")
    assert dot.startswith('digraph "kg" {')
    assert '"a" -> "b" [label="binds"];' in dot
    assert '"q\\"x" -> "b" [label="inhibits"];' in dot
    assert dot == to_dot(e, label="pred")  # deterministic
    und = to_dot(e, directed=False)
    assert und.startswith('graph "kg" {') and "--" in und
    with _pytest.raises(ValueError, match="max_edges"):
        to_dot(e, max_edges=1)
    p = str(tmp_path / "g.dot")
    write_dot(e, p, label="pred")
    assert open(p).read() == dot
