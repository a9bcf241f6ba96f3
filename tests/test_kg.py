"""NEL + triple extraction + the P/R >= 0.95 gate vs fixture gold
(BASELINE.md targets; SURVEY.md sections 2.5 J1, 7.0.4, 5.2.3)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from easyner_spark.operators.evaluate import (
    corpus_rollup,
    prf,
    set_eval,
    span_match_counts,
)
from easyner_spark.operators.nel import canonicalize_mentions, link_entities, primary_alias
from easyner_spark.operators.triples import aggregate_edges, extract_triples


@pytest.fixture(scope="module")
def kg_frames(spark, pages_df):
    """The kg job's frames up to `linked` on the fixture pages, built by
    its stage list without writing snapshots (default config: the
    fixture dictionary and alias table)."""
    from easyner_spark.cli import kg_stages, prepare_pages

    cfg = {"modules": {"analysis": False, "triples": False}}
    frames = {"pages": prepare_pages(pages_df, cfg)}
    for stage in kg_stages(spark, cfg):
        frames[stage.name] = stage.build(frames, {}).cache()
    return frames


@pytest.fixture(scope="module")
def mentions_df(kg_frames):
    return kg_frames["mentions"]


@pytest.fixture(scope="module")
def alias_df(spark, fx):
    return spark.createDataFrame(fx.alias_lookup)


def test_link_entities_one_to_many_and_miss(spark, alias_df):
    rows = [
        ("u", 0, "rapamycin", "rapamycin", 0, 9, 0, 1, "chemical"),
        ("u", 0, "human", "human", 12, 17, 2, 3, "species"),
        ("u", 0, "MTOR", "mtor", 20, 24, 4, 5, "gene"),
    ]
    cols = "url string, sent_idx int, mention string, mention_lc string, begin int, end int, begin_tok int, end_tok int, class string"
    m = spark.createDataFrame(rows, cols)
    out = link_entities(m, alias_df).toPandas().sort_values(["begin", "entity_id"])
    # rapamycin fans out to two ids; human (absent) -> ''; mtor -> KB:0001
    assert list(out["entity_id"]) == ["KB:0004", "KB:0104", "", "KB:0001"]


def test_link_entities_salted_matches_broadcast(spark, mentions_df, alias_df):
    a = link_entities(mentions_df, alias_df).toPandas()
    b = link_entities(mentions_df, alias_df, salt_buckets=4).toPandas()
    key = ["url", "sent_idx", "begin", "end", "class", "entity_id"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )


def test_primary_alias_deterministic(spark, alias_df):
    pa = {r["term"]: r["ID"] for r in primary_alias(alias_df).collect()}
    assert pa["rapamycin"] == "KB:0004"  # min of the two ids
    assert pa["akt1"] == "KB:0001"


def test_triples_match_gold_gate(spark, fx, kg_frames):
    """The BASELINE gate: emitted triples vs analytic gold, P/R >= 0.95
    (engine is exact by construction -> expect 1.0)."""
    triples = extract_triples(kg_frames["linked"])
    gold = spark.createDataFrame(fx.gold_triples)
    res = set_eval(triples, gold, ["url", "sent_idx", "subj_id", "pred", "obj_id"])
    assert res["n_gold"] > 50
    assert res["precision"] >= 0.95, res
    assert res["recall"] >= 0.95, res
    # exact engine: expect perfect parity, not just the gate
    assert res["precision"] == 1.0 and res["recall"] == 1.0, res


def test_aggregate_edges_provenance(spark, fx, kg_frames):
    edges = aggregate_edges(extract_triples(kg_frames["linked"]), exact_sets=True).toPandas()
    gold = fx.gold_triples.groupby(["subj_id", "pred", "obj_id"]).agg(
        support=("url", "size"), doc_count=("url", "nunique")
    ).reset_index()
    merged = edges.merge(gold, on=["subj_id", "pred", "obj_id"], suffixes=("", "_g"))
    assert len(merged) == len(edges) == len(gold)
    assert (merged["support"] == merged["support_g"]).all()
    assert (merged["doc_count"] == merged["doc_count_g"]).all()


def test_span_eval_tolerance_and_rollup(spark):
    gold_rows = [
        ("u1", "gene", 10, 20),
        ("u1", "gene", 30, 40),
        ("u1", "chem", 50, 60),
        ("u2", "gene", 10, 20),
    ]
    pred_rows = [
        ("u1", "gene", 11, 19),   # TP within stride=1
        ("u1", "gene", 33, 40),   # FP: begin off by 3
        ("u1", "chem", 50, 60),   # TP exact
        ("u2", "chem", 10, 20),   # FP: wrong class
    ]
    gold = spark.createDataFrame(gold_rows, "url string, class string, begin int, end int")
    pred = spark.createDataFrame(pred_rows, "url string, class string, begin int, end int")
    m = prf(span_match_counts(pred, gold, stride=1)).toPandas().set_index("class")
    assert m.loc["gene", "tp"] == 1 and m.loc["gene", "fp"] == 1 and m.loc["gene", "fn"] == 2
    assert m.loc["chem", "tp"] == 1 and m.loc["chem", "fp"] == 1 and m.loc["chem", "fn"] == 0
    roll = corpus_rollup(m.reset_index().pipe(spark.createDataFrame)).toPandas().iloc[0]
    assert abs(roll["micro_precision"] - 2 / 4) < 1e-9
    assert abs(roll["micro_recall"] - 2 / 4) < 1e-9
    # macro: gene P=.5 R=1/3; chem P=.5 R=1
    assert abs(roll["macro_precision"] - 0.5) < 1e-9
    assert abs(roll["macro_recall"] - (1 / 3 + 1.0) / 2) < 1e-9


def test_mentions_eval_against_gold_is_perfect(spark, fx, mentions_df):
    gold = spark.createDataFrame(
        fx.gold_mentions[["url", "class", "begin", "end"]].assign(
            sent_key=fx.gold_mentions["url"] + "#" + fx.gold_mentions["sent_idx"].astype(str)
        ).drop(columns=[])
    )
    pred = mentions_df.withColumn(
        "sent_key", F.concat_ws("#", "url", "sent_idx")
    )
    counts = prf(
        span_match_counts(
            pred, gold.withColumnRenamed("sent_key", "sent_key"),
            keys=["sent_key", "class"], stride=0,
        )
    ).toPandas()
    assert (counts["fp"] == 0).all() and (counts["fn"] == 0).all()
    assert (counts["precision"] == 1.0).all() and (counts["recall"] == 1.0).all()


class TestNameSimilarityEdges:
    NAMES = [
        ("rapamycin",), ("rapamycins",), ("rapamycin b",),
        ("aspirin",), ("the",), ("thx",),
    ]

    def _edges(self, spark, **kw):
        from easyner_spark.operators.nel import name_similarity_edges

        df = spark.createDataFrame(self.NAMES, "name string")
        return {
            (r["a"], r["b"]): r["jaccard"]
            for r in name_similarity_edges(df, **kw).collect()
        }

    def test_variant_edges_found_exactly(self, spark):
        got = self._edges(spark, k=3, threshold=0.5)
        # 'rapamycin' (7 grams) vs 'rapamycins' (8): inter 7 -> 7/8
        assert got[("rapamycin", "rapamycins")] == pytest.approx(0.875)
        # 'rapamycin' vs 'rapamycin b': trailing ' b' adds 2 grams
        assert ("rapamycin", "rapamycin b") in got
        # unrelated names never pair; sub-threshold pairs dropped
        assert not any("aspirin" in p for p in got)
        assert ("the", "thx") not in got  # zero shared grams

    def test_short_name_whole_gram(self, spark):
        from easyner_spark.operators.nel import name_similarity_edges

        df = spark.createDataFrame([("ab",), ("ab",), ("abc",)], "name string")
        # 'ab' (gram {'ab'}) vs 'abc' (gram {'abc'}): no shared gram
        got = name_similarity_edges(df.distinct(), k=3, threshold=0.1).collect()
        assert got == []

    def test_max_df_prunes_hot_grams(self, spark):
        # every name shares the hot gram 'ion'; with max_df=2 that gram
        # stops generating candidates and only the true variant pair
        # (extra shared grams) survives
        df_rows = [("action",), ("fusion",), ("mention",), ("mentions",)]
        from easyner_spark.operators.nel import name_similarity_edges

        df = spark.createDataFrame(df_rows, "name string")
        full = {
            (r["a"], r["b"])
            for r in name_similarity_edges(df, k=3, threshold=0.1).collect()
        }
        pruned = {
            (r["a"], r["b"])
            for r in name_similarity_edges(df, k=3, threshold=0.1, max_df=2).collect()
        }
        assert ("mention", "mentions") in pruned
        assert pruned < full

    def test_edges_feed_components(self, spark):
        from easyner_spark.operators.components import connected_components
        from easyner_spark.operators.nel import name_similarity_edges

        df = spark.createDataFrame(self.NAMES, "name string")
        e = name_similarity_edges(df, k=3, threshold=0.5).select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        )
        comp = connected_components(e).collect()
        groups = {}
        for r in comp:
            groups.setdefault(r["component"], set()).add(r["node"])
        assert {"rapamycin", "rapamycins", "rapamycin b"} in list(groups.values())

    def test_threshold_gate(self, spark):
        import pytest as _pt

        with _pt.raises(ValueError):
            self._edges(spark, threshold=0.0)


class TestFuzzyLink:
    ALIAS = [
        ("rapamycin", "KB:0104"),
        ("rapamycin", "KB:0004"),   # same term, two ids: min must win
        ("chloroquine", "KB:0005"),
    ]

    def _alias(self, spark):
        return spark.createDataFrame(self.ALIAS, "term string, ID string")

    def test_best_match_and_id_tiebreak(self, spark):
        from easyner_spark.operators.nel import fuzzy_link_surfaces

        surf = spark.createDataFrame(
            [("rapamycins",), ("chloroquin",), ("aspirin",)], "name string"
        )
        got = {
            r["name"]: r["entity_id"]
            for r in fuzzy_link_surfaces(surf, self._alias(spark), threshold=0.4).collect()
        }
        assert got["rapamycins"] == "KB:0004"   # jq tie across ids -> min ID
        assert got["chloroquin"] == "KB:0005"
        assert "aspirin" not in got             # no candidate over threshold

    def test_bipartite_no_double_count_on_duplicate_terms(self, spark):
        from easyner_spark.operators.nel import fuzzy_link_surfaces

        surf = spark.createDataFrame([("rapamycins",)], "name string")
        rows = fuzzy_link_surfaces(surf, self._alias(spark), threshold=0.4).collect()
        # 'rapamycin' 7 grams, 'rapamycins' 8, inter 7 -> jq 875000
        assert len(rows) == 1
        assert rows[0]["jq"] == 875_000

    def test_fuzzy_canonicalize_merges_variants(self, spark):
        from easyner_spark.operators.nel import (
            canonicalize_mentions,
            fuzzy_canonicalize_mentions,
        )

        mentions = spark.createDataFrame(
            [
                ("u1", 0, "rapamycin"),
                ("u2", 0, "rapamycins"),    # variant: exact join misses
                ("u3", 0, "zzz"),           # truly unknown: keeps surface id
            ],
            "url string, sent_idx int, mention_lc string",
        )
        exact = {
            r["mention_lc"]: r["entity_id"]
            for r in canonicalize_mentions(mentions, self._alias(spark)).collect()
        }
        assert exact["rapamycins"] == "surface:rapamycins"  # fragmented node
        fuzzy = {
            r["mention_lc"]: r["entity_id"]
            for r in fuzzy_canonicalize_mentions(
                mentions, self._alias(spark), threshold=0.5
            ).collect()
        }
        assert fuzzy["rapamycin"] == fuzzy["rapamycins"] == "KB:0004"
        assert fuzzy["zzz"] == "surface:zzz"
