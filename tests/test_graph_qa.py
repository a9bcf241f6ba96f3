"""Graph-QA layer: local clustering coefficient, modularity
decomposition and snapshot edge diffs —
hand-graph values checked exactly (floats follow the round(·, 6)
contract, so closed-form expectations are safe to compare with ==)."""

import pyspark.sql.functions as F

from easyner_spark.operators.graph import (
    clustering_coeff,
    edge_diff,
    label_propagation,
    modularity,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_clustering_coeff(spark):
    # triangle 1-2-3 plus pendant 4 off node 3
    e = _edges(spark, [("1", "2"), ("2", "3"), ("1", "3"), ("3", "4")])
    out = {r.node: r for r in clustering_coeff(e).collect()}
    assert out["1"].degree == 2 and out["1"].coeff == 1.0
    assert out["2"].coeff == 1.0
    # node 3: deg 3, 1 triangle -> 2/(3*2)
    assert out["3"].degree == 3 and out["3"].triangles == 1
    assert out["3"].coeff == 0.333333
    # pendant: deg 1 -> defined as 0.0, not null
    assert out["4"].coeff == 0.0 and out["4"].triangles == 0


def test_clustering_coeff_dedups_directions(spark):
    # both directions + self-loop collapse to one undirected edge set
    e = _edges(spark, [("a", "b"), ("b", "a"), ("a", "a"), ("b", "c")])
    out = {r.node: r.degree for r in clustering_coeff(e).collect()}
    assert out == {"a": 1, "b": 2, "c": 1}


def test_modularity_two_cliques(spark):
    # two triangles bridged by one edge; hand labels
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")],
    )
    lab = spark.createDataFrame(
        [("a", "X"), ("b", "X"), ("c", "X"),
         ("d", "Y"), ("e", "Y"), ("f", "Y")],
        ["node", "label"],
    )
    out = {r.community: r for r in modularity(e, lab).collect()}
    # m=7; intra 3 each; degree sums 7 each -> 3/7 - (7/14)^2
    for c in ("X", "Y"):
        assert out[c].n_nodes == 3
        assert out[c].intra_edges == 3
        assert out[c].degree_sum == 7
        assert out[c].q_term == round(3 / 7 - 0.25, 6)
    # global Q for this classic split
    assert round(sum(r.q_term for r in out.values()), 6) == 0.357142


def test_modularity_composes_with_lpa(spark):
    # LPA on two far cliques finds them; modularity must be positive
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("x", "y"), ("y", "z"), ("x", "z")],
    )
    out = modularity(e, label_propagation(e, iters=3)).collect()
    assert sum(r.q_term for r in out) > 0.4  # disconnected cliques: Q = 0.5


def test_edge_diff(spark):
    old = spark.createDataFrame(
        [("a", "p", "b", 2), ("a", "p", "c", 1), ("x", "q", "y", 5)],
        ["subj", "pred", "obj", "weight"],
    )
    new = spark.createDataFrame(
        [("a", "p", "b", 3), ("a", "p", "c", 1), ("n", "r", "m", 4)],
        ["subj", "pred", "obj", "weight"],
    )
    out = {
        (r.subj, r.pred, r.obj): (r.status, r.delta, r.old_weight, r.new_weight)
        for r in edge_diff(old, new).collect()
    }
    assert out[("a", "p", "b")] == ("changed", 1, 2, 3)
    assert out[("x", "q", "y")] == ("removed", -5, 5, None)
    assert out[("n", "r", "m")] == ("added", 4, None, 4)
    # unchanged edge dropped by default, kept with keep_same
    assert ("a", "p", "c") not in out
    kept = edge_diff(old, new, keep_same=True)
    assert kept.where(F.col("status") == "same").count() == 1
