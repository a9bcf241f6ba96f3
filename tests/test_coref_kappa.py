"""Pronoun antecedent links and Cohen's kappa."""

from easyner_spark.operators.evaluate import cohens_kappa
from easyner_spark.operators.triples import pronoun_links


def _toks(spark, rows):
    return spark.createDataFrame(
        rows, ["doc_id", "sent_idx", "tok_idx", "tok"]
    )


def _ments(spark, rows):
    return spark.createDataFrame(
        rows, ["doc_id", "sent_idx", "begin_tok", "end_tok", "term"]
    )


def test_pronoun_links_nearest_preceding(spark):
    toks = _toks(
        spark,
        [
            (1, 0, 0, "rapamycin"), (1, 0, 1, "works"),
            (1, 1, 0, "it"), (1, 1, 1, "inhibits"), (1, 1, 2, "mtor"),
            (1, 2, 0, "they"),
        ],
    )
    ments = _ments(
        spark, [(1, 0, 0, 1, "rapamycin"), (1, 1, 2, 3, "mtor")]
    )
    out = {
        (r.sent_idx, r.tok_idx): (r.pronoun, r.antecedent, r.ant_sent)
        for r in pronoun_links(toks, ments).collect()
    }
    # 'it' at sent 1 tok 0: mtor is SAME sentence but at tok 2 (after),
    # so the antecedent is rapamycin from sent 0
    assert out[(1, 0)] == ("it", "rapamycin", 0)
    # 'they' at sent 2: nearest preceding mention is mtor (sent 1)
    assert out[(2, 0)] == ("they", "mtor", 1)


def test_pronoun_links_lookback_and_ties(spark):
    toks = _toks(spark, [(1, 5, 0, "it")])
    ments = _ments(
        spark,
        [
            (1, 1, 0, 1, "far"),            # outside lookback 2
            (1, 4, 0, 1, "near"),
            (1, 4, 0, 2, "nearer-longer"),  # same begin, longer span wins
        ],
    )
    out = pronoun_links(toks, ments, lookback=2).collect()
    assert len(out) == 1 and out[0].antecedent == "nearer-longer"
    # nothing within lookback -> no row (unresolved pronouns drop)
    none = pronoun_links(toks, ments, lookback=0).collect()
    assert none == []


def test_cohens_kappa(spark):
    # 10 tokens: 8 agree; marginals chosen so chance is substantial
    pred = spark.createDataFrame(
        [(1, 0, t, "O" if t < 7 else "B") for t in range(10)],
        ["doc_id", "sent_idx", "tok_idx", "label"],
    )
    gold = spark.createDataFrame(
        [(1, 0, t, "O" if t < 6 or t == 9 else "B") for t in range(10)],
        ["doc_id", "sent_idx", "tok_idx", "label"],
    )
    row = cohens_kappa(pred, gold).collect()[0]
    assert row.n == 10
    # disagreements at t=6 (pred O, gold B) and t=9 (pred B, gold O)
    assert row.agree == 8
    s = 7 * 7 + 3 * 3  # O: 7x7, B: 3x3
    assert row.chance_prod_sum == s
    assert row.kappa == round((10 * 8 - s) / (100 - s), 6)


def test_cohens_kappa_perfect_degenerate(spark):
    # single-class raters: denominator 0 -> kappa defined as 1.0
    pred = spark.createDataFrame(
        [(1, 0, t, "O") for t in range(4)],
        ["doc_id", "sent_idx", "tok_idx", "label"],
    )
    row = cohens_kappa(pred, pred).collect()[0]
    assert row.kappa == 1.0

