"""Cohen's kappa."""

from easyner_spark.operators.evaluate import cohens_kappa


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
