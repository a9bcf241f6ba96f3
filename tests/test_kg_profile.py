"""KG profiling operators: predicate cardinality classes, per-doc
entity salience and entity types."""

from easyner_spark.operators.analysis import entity_salience
from easyner_spark.operators.triples import predicate_cardinality


def test_predicate_cardinality_classes(spark):
    rows = [
        # 1:1 — every subj one obj, every obj one subj
        ("s1", "capital_of", "o1"),
        ("s2", "capital_of", "o2"),
        # 1:N — one subj fans out, every obj has one subj
        ("h1", "has_part", "p1"),
        ("h1", "has_part", "p2"),
        ("h1", "has_part", "p3"),
        ("h2", "has_part", "p4"),
        # N:1 — every subj one obj, one obj fans in
        ("c1", "in_country", "k1"),
        ("c2", "in_country", "k1"),
        ("c3", "in_country", "k2"),
        # N:M — both fan
        ("a", "links_to", "x"),
        ("a", "links_to", "y"),
        ("b", "links_to", "x"),
    ]
    edges = spark.createDataFrame(rows, "subj_id string, pred string, obj_id string")
    got = {r["pred"]: r.asDict() for r in predicate_cardinality(edges).collect()}

    assert got["capital_of"]["card_class"] == "1:1"
    assert got["capital_of"]["n_edges"] == 2
    assert got["capital_of"]["n_subj"] == 2
    assert got["capital_of"]["n_obj"] == 2

    assert got["has_part"]["card_class"] == "1:N"
    assert got["has_part"]["max_fanout"] == 3
    assert got["has_part"]["max_fanin"] == 1
    assert got["has_part"]["n_subj"] == 2
    assert got["has_part"]["n_obj"] == 4

    assert got["in_country"]["card_class"] == "N:1"
    assert got["in_country"]["max_fanout"] == 1
    assert got["in_country"]["max_fanin"] == 2

    assert got["links_to"]["card_class"] == "N:M"
    assert got["links_to"]["n_edges"] == 3


def test_entity_salience_weights_and_rank(spark):
    # doc 7: e1 in lead + body; e2 twice in early sentences (ties e1's
    # salience 4) -> tie broken by entity_id asc; e3 body-only.
    rows = [
        (7, 0, "e1"),
        (7, 5, "e1"),
        (7, 1, "e2"),
        (7, 2, "e2"),
        (7, 9, "e3"),
        (8, 0, "e3"),
    ]
    lm = spark.createDataFrame(rows, "url long, sent_idx int, entity_id string")
    got = {
        (r["url"], r["entity_id"]): r.asDict()
        for r in entity_salience(lm).collect()
    }
    assert got[(7, "e1")]["salience"] == 3 + 1
    assert got[(7, "e2")]["salience"] == 2 + 2
    assert got[(7, "e3")]["salience"] == 1
    assert got[(7, "e1")]["n_mentions"] == 2
    assert got[(7, "e1")]["first_sent"] == 0
    assert got[(7, "e2")]["first_sent"] == 1
    # salience tie at 4 -> entity_id asc: e1 rank 1, e2 rank 2
    assert got[(7, "e1")]["rank"] == 1
    assert got[(7, "e2")]["rank"] == 2
    assert got[(7, "e3")]["rank"] == 3
    assert got[(8, "e3")]["rank"] == 1
    assert got[(8, "e3")]["salience"] == 3


def test_entity_salience_drops_unlinked(spark):
    lm = spark.createDataFrame(
        [(1, 0, ""), (1, 0, "e1")], "url long, sent_idx int, entity_id string"
    )
    out = entity_salience(lm).collect()
    assert len(out) == 1 and out[0]["entity_id"] == "e1"


def test_entity_types_votes_and_ties(spark):
    from easyner_spark.operators.triples import entity_types

    edges = spark.createDataFrame(
        [
            ("drugA", "inhibits", "geneX"),
            ("drugA", "inhibits", "geneY"),
            ("drugA", "co_occurs_with", "thing"),
            ("geneX", "treats", "disZ"),   # no rule for 'treats' -> no vote
            ("both", "binds", "both2"),
        ],
        "subj_id string, pred string, obj_id string",
    )
    rules = [
        ("inhibits", "subj", "chemical", 2),
        ("inhibits", "obj", "protein", 2),
        ("co_occurs_with", "subj", "concept", 1),
        ("co_occurs_with", "obj", "concept", 1),
        # 'both' gets equal-weight votes for two types -> tie -> asc
        ("binds", "subj", "aaa_type", 1),
        ("binds", "subj", "bbb_type", 1),
    ]
    got = {r["entity_id"]: r.asDict() for r in entity_types(edges, rules).collect()}
    # drugA: chemical 2+2=4, concept 1 -> chemical wins
    assert got["drugA"]["ent_type"] == "chemical"
    assert got["drugA"]["votes"] == 4
    assert got["drugA"]["total_votes"] == 5
    assert got["drugA"]["n_types"] == 2
    # geneX: protein 2 (obj of inhibits); its 'treats' subj role unvoted
    assert got["geneX"]["ent_type"] == "protein"
    assert got["geneX"]["votes"] == 2
    # tie 1-1 -> type asc
    assert got["both"]["ent_type"] == "aaa_type"
    # disZ: no matching rule at all -> absent
    assert "disZ" not in got
