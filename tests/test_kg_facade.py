"""KnowledgeGraph facade — thin-delegation correctness and the
pipeline->facade end-to-end path."""

import re

import pytest

from easyner_spark.kg import KnowledgeGraph


def _kg(spark):
    rows = [
        ("a", "inhibits", "b"),
        ("b", "binds", "c"),
        ("c", "located_in", "d"),
        ("d", "located_in", "e"),
        ("a", "inhibits", "z"),
    ]
    return KnowledgeGraph(
        spark.createDataFrame(rows, ["subj_id", "pred", "obj_id"])
    )


def test_query_with_cached_stats_and_paths(spark):
    kg = _kg(spark)
    st = kg.stats()
    assert st["inhibits"][0] == 2
    assert st is kg.stats()  # cached
    out = {
        tuple(r)
        for r in kg.query(
            [("?x", "inhibits", "?y"), ("?y", "binds", "?z")]
        ).collect()
    }
    assert out == {("a", "b", "c")}
    closure = {
        tuple(r) for r in kg.query([("c", "located_in+", "?y")]).collect()
    }
    assert closure == {("d",), ("e",)}


def test_distances_ego_and_metapath(spark):
    kg = _kg(spark)
    dist = {
        (r.node, r.dist) for r in kg.distances(("d",), k=3).collect()
    }
    assert ("a", 3) in dist and ("d", 0) in dist
    ego = {(r.src, r.dst) for r in kg.ego(("a",), k=1).collect()}
    assert ego == {("a", "b"), ("a", "z")}
    mp = {
        (r.src, r.dst): r.n_paths
        for r in kg.metapath(("inhibits", "binds")).collect()
    }
    assert mp == {("a", "c"): 1}


def test_analytics_and_qa(spark):
    kg = _kg(spark)
    comps = {r.node: r.component for r in kg.components().collect()}
    assert len(set(comps.values())) == 1  # everything connects
    cores = {r.node: r.core for r in kg.core_numbers(k_max=2).collect()}
    assert all(c == 1 for c in cores.values())  # a tree: coreness 1
    conf = kg.conflicts([("inhibits", "functional")]).collect()
    assert len(conf) == 1 and conf[0].entity == "a" and conf[0].n_values == 2
    summ = kg.summaries(k=2)
    assert summ.count() > 0


def test_load_from_pipeline_output(spark, pages_df, tmp_path):
    from easyner_spark.cli import run_pipeline

    pages_path = str(tmp_path / "pages.parquet")
    pages_df.write.parquet(pages_path)
    out_dir = str(tmp_path / "out")
    run_pipeline(
        spark, {"input": {"pages_path": pages_path}, "output_dir": out_dir}
    )
    kg = KnowledgeGraph.load(spark, out_dir)
    assert kg.nodes is not None and kg.nodes.count() > 0
    res = kg.query([("?x", "co_occurs_with", "?y")], distinct=True)
    assert res.count() > 0


def test_load_without_edges_snapshot_raises(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    with pytest.raises(FileNotFoundError, match=re.escape(f"{out_dir}/edges")):
        KnowledgeGraph.load(spark, out_dir)


def test_ego_labeled_and_dot(spark):
    kg = _kg(spark)
    ego = kg.ego(("a",), k=1)
    assert ego.columns == ["src", "dst", "pred"]
    got = {(r.src, r.pred, r.dst) for r in ego.collect()}
    assert got == {("a", "inhibits", "b"), ("a", "inhibits", "z")}
    dot = kg.ego_dot(("a",), k=1)
    assert '"a" -> "b" [label="inhibits"];' in dot


def test_query_uses_cost_based_order_without_explicit_stats(
    spark, monkeypatch
):
    """VERDICT r4 #5 done-bar: kg.query() must feed the cached
    bgp_stats into match_patterns when the caller passes none — the
    cost-based join order is the facade DEFAULT, not an opt-in. The
    spy records what _join_order received; the skew between a hub
    predicate (many edges) and a rare one makes the cost-based seed
    choice differ from the syntactic literal-count heuristic, so we
    also assert the stats actually changed the chosen order."""
    from pyspark.sql import functions as F

    from easyner_spark.operators import triples as T

    # 'common' is a 200-edge hub, 'rare' has 2 edges; both patterns
    # have identical literal counts, so the syntactic heuristic keeps
    # the written order while the estimates seed from 'rare'.
    hub = spark.range(200).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("subj_id"),
        F.lit("common").alias("pred"),
        F.concat(F.lit("m"), (F.col("id") % 3).cast("string")).alias("obj_id"),
    )
    rare = spark.createDataFrame(
        [("m0", "rare", "t1"), ("m1", "rare", "t2")],
        ["subj_id", "pred", "obj_id"],
    )
    kg = KnowledgeGraph(hub.unionByName(rare))
    pats = [("?x", "common", "?y"), ("?y", "rare", "?z")]

    seen: dict = {}
    real = T._join_order

    def spy(p, stats=None):
        seen["stats"] = stats
        return real(p, stats)

    monkeypatch.setattr(T, "_join_order", spy)
    kg.query(pats).collect()
    assert seen["stats"] == kg.stats()  # cached stats flowed through
    assert real(pats, seen["stats"]) != real(pats, None)  # and matter


def test_query_filters_passthrough(spark):
    """The r5 FILTER surface rides the facade unchanged."""
    kg = _kg(spark)
    out = {
        tuple(r)
        for r in kg.query(
            [("?x", "located_in", "?y")],
            filters={"y": [(">=", "e")]},
        ).collect()
    }
    assert out == {("d", "e")}
