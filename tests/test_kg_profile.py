"""KG profiling operators: per-doc entity salience."""

from easyner_spark.operators.analysis import entity_salience


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
