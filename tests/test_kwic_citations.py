"""KWIC concordance."""

from easyner_spark.operators.search import kwic


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

