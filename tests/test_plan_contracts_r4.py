"""Final-plan scale contracts for the round-4 session additions:
no Exchange SinglePartition (serial reducer) anywhere in the executed
AQE plans of the new operators (the token_budget lesson: correctness
tests cannot catch a serial plan)."""

from pyspark.sql import functions as F

from easyner_spark.operators.sketches import kmv_set_ops, kmv_sketch
from easyner_spark.operators.triples import entity_summaries
from easyner_spark.sinks.layout import zorder_key


def _final_plan(df):
    df.collect()  # materialize so the AQE plan is final
    return df._jdf.queryExecution().executedPlan().toString()


def _kg(spark, n=400):
    return spark.range(n).select(
        F.concat(F.lit("e"), (F.col("id") % 37).cast("string")).alias("subj"),
        F.concat(F.lit("p"), (F.col("id") % 5).cast("string")).alias("pred"),
        F.concat(F.lit("e"), ((F.col("id") * 7) % 37).cast("string")).alias("obj"),
    )


def test_entity_summaries_window_is_keyed(spark):
    plan = _final_plan(entity_summaries(_kg(spark), k=3))
    assert "Exchange SinglePartition" not in plan
    # the rank window must partition BY entity, never globally
    assert "partitionBy" not in plan or "entity_id" in plan


def test_kmv_chain_no_serial_reducer(spark):
    df = spark.range(500).select(
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("g"),
        F.concat(F.lit("v"), (F.col("id") % 97).cast("string")).alias("v"),
    )
    sk = kmv_sketch(df, "v", ["g"], k=16)
    assert "Exchange SinglePartition" not in _final_plan(sk)
    ops = kmv_set_ops(kmv_sketch(df, "v", ["g"], k=16), "g", k=16)
    assert "Exchange SinglePartition" not in _final_plan(ops)


def test_zorder_key_is_pure_projection(spark):
    out = spark.range(100).select(
        (F.col("id") % 8).alias("x"), (F.col("id") % 16).alias("y")
    ).select(zorder_key(["x", "y"], bits=4).alias("z"))
    plan = _final_plan(out)
    assert "Exchange" not in plan  # scan-fused: no shuffle at all


def test_schema_graph_no_serial_reducer(spark):
    from easyner_spark.operators.triples import schema_graph

    types = spark.range(37).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("entity_id"),
        F.when(F.col("id") % 2 == 0, F.lit("person"))
        .otherwise(F.lit("org"))
        .alias("ent_type"),
    )
    plan = _final_plan(schema_graph(_kg(spark), types))
    assert "Exchange SinglePartition" not in plan
    # the vocabulary-sized type table must ride broadcasts
    assert "BroadcastExchange" in plan


def test_metapath_and_pathsim_no_serial_reducer(spark):
    from easyner_spark.operators.triples import (
        metapath_join,
        metapath_pathsim,
    )

    plan = _final_plan(metapath_join(_kg(spark), ("p0", "p1")))
    assert "Exchange SinglePartition" not in plan
    plan2 = _final_plan(metapath_pathsim(_kg(spark), ("p0", "p1")))
    assert "Exchange SinglePartition" not in plan2


def test_shortest_paths_and_kg_paths_no_serial_reducer(spark):
    from easyner_spark.operators.graph import kg_paths, shortest_paths

    e = _kg(spark).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    plan = _final_plan(shortest_paths(e, ("e0", "e1"), k=2))
    assert "Exchange SinglePartition" not in plan
    plan2 = _final_plan(
        kg_paths(e, sources=("e0",), targets=("e5",), max_len=2)
    )
    assert "Exchange SinglePartition" not in plan2


def test_bgp_literals_and_values_push_to_scan(spark, tmp_path):
    """The BGP matcher's literal predicates and VALUES bindings must
    reach the parquet scan as pushed filters — at KG scale this is
    what turns a corpus sweep into an indexed lookup."""
    from easyner_spark.operators.triples import match_patterns

    path = str(tmp_path / "kg_edges.parquet")
    _kg(spark).write.parquet(path)
    edges = spark.read.parquet(path)
    out = match_patterns(
        edges,
        [("?x", "p1", "?y"), ("?y", "p2", "?z")],
        subj="subj",
        pred="pred",
        obj="obj",
        bindings={"x": ("e1", "e2", "e3")},
    )
    plan = _final_plan(out)
    assert "PushedFilters" in plan
    # the predicate literals are pushed...
    assert plan.count("EqualTo(pred,") >= 2
    # ...and the VALUES in-list is pushed into at least one scan
    assert "In(subj, [e1,e2,e3])" in plan
