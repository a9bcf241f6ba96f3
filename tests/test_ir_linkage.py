"""TF-IDF keywords and edit-distance merge candidates — closed-form
hand values under the round(·, 6) contract."""

import math

from easyner_spark.operators.nel import edit_merge_candidates
from easyner_spark.operators.ranking import doc_keywords


def test_doc_keywords(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark flink"),
            (2, "spark trino"),
            (3, "duck duck duck goose"),
        ],
        ["doc_id", "text"],
    )
    out = {(r.doc_id, r.term): r for r in doc_keywords(docs, k=2).collect()}
    # idf(spark) = ln(4/3)+1 (df=2), idf(duck) = ln(4/2)+1 (df=1)
    assert out[(1, "spark")].score == round(2 * (math.log(4 / 3) + 1), 6)
    assert out[(3, "duck")].score == round(3 * (math.log(4 / 2) + 1), 6)
    # rank 1 is the best score; k=2 caps per-doc output
    assert out[(1, "spark")].rank == 1
    assert sum(1 for d, _ in out if d == 3) == 2
    # deterministic tie-break: doc 2 has two df-matched... spark/trino
    # tf equal but idf differs (trino df=1 beats spark df=2)
    assert out[(2, "trino")].rank == 1 and out[(2, "spark")].rank == 2


def test_edit_merge_candidates(spark):
    labels = spark.createDataFrame(
        [
            ("e1", "Rapamycin"),
            ("e2", "rapamycine"),      # dist 1, shares prefix
            ("e3", "xrapamycin"),      # dist 1 vs e1, shares SUFFIX only
            ("e4", "sirolimus"),       # unrelated
            ("e5", "ra"),              # too short, dropped
        ],
        ["id", "label"],
    )
    out = {
        (r.id_a, r.id_b): r.dist
        for r in edit_merge_candidates(labels, max_dist=2).collect()
    }
    assert out[("e1", "e2")] == 1
    # suffix key catches the front-edited variant prefix blocking misses
    assert out[("e1", "e3")] == 1
    assert not any("e4" in p for p in out)
    assert not any("e5" in p for p in out)


def test_edit_merge_block_cap(spark):
    # a degenerate block (shared prefix+suffix+length) above the cap
    # is dropped, not exploded
    labels = spark.createDataFrame(
        [(f"i{n}", f"aaa{n % 10}zzz") for n in range(40)], ["id", "label"]
    )
    assert edit_merge_candidates(labels, max_dist=2, max_block=5).count() == 0
    assert edit_merge_candidates(labels, max_dist=2, max_block=100).count() > 0
