"""Weighted PageRank and KWIC concordance."""

from easyner_spark.operators.graph import pagerank, weighted_pagerank
from easyner_spark.operators.search import kwic


def test_weighted_equals_plain_on_uniform_weights(spark):
    e = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 3), ("b", "c", 3), ("c", "a", 3)],
        ["src", "dst", "weight"],
    )
    w = {r.node: r.rank for r in weighted_pagerank(e).collect()}
    p = {
        r.node: r.rank
        for r in pagerank(e.select("src", "dst")).collect()
    }
    assert w == p


def test_weighted_pagerank_skew(spark):
    # a sends 9/10 of its mass to b, 1/10 to c
    e = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        ["src", "dst", "weight"],
    )
    w = {r.node: r.rank for r in weighted_pagerank(e, iters=1).collect()}
    # after one iteration: b's inflow 0.85*(1/3)*0.9, c's 0.85*(1/3)*0.1
    assert w["b"] > w["c"]
    assert round(w["b"] - w["c"], 6) == round(0.85 * (1 / 3) * 0.8, 6)


def test_weighted_pagerank_preaggregates_parallel_edges(spark):
    e1 = spark.createDataFrame(
        [("a", "b", 2), ("a", "b", 3), ("a", "c", 5), ("b", "a", 1),
         ("c", "a", 1)],
        ["src", "dst", "weight"],
    )
    e2 = spark.createDataFrame(
        [("a", "b", 5), ("a", "c", 5), ("b", "a", 1), ("c", "a", 1)],
        ["src", "dst", "weight"],
    )
    r1 = {r.node: r.rank for r in weighted_pagerank(e1).collect()}
    r2 = {r.node: r.rank for r in weighted_pagerank(e2).collect()}
    assert r1 == r2


def test_kwic(spark):
    sents = spark.createDataFrame(
        [("u1", 0, "rapamycin inhibits mtor in cells")],
        ["url", "sent_idx", "sentence"],
    )
    ments = spark.createDataFrame(
        [("u1", 0, 10, 18, "inhibits"), ("u1", 0, 0, 9, "rapamycin")],
        ["url", "sent_idx", "begin", "end", "mention"],
    )
    out = {r.mention: r for r in kwic(ments, sents, window=6).collect()}
    assert out["inhibits"].left_ctx == "mycin "
    assert out["inhibits"].right_ctx == " mtor "
    # sentence-start mention: empty left, clipped right
    assert out["rapamycin"].left_ctx == ""
    assert out["rapamycin"].right_ctx == " inhib"

