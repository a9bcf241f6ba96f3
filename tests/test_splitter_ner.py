"""Golden parity: splitter + dictionary NER vs the independent
brute-force oracle planted in the fixture generator (FIXTURES.md F1/F4;
reference sample-output pattern, results/sample_output/)."""

import pandas as pd
from pyspark.sql import functions as F

from easyner_spark.fixtures import TERMS
from easyner_spark.operators.ner_dict import dict_ner, dict_ner_join
from easyner_spark.operators.splitter import split_sentences, split_sentences_udf
from tests.conftest import assert_pdf_equal


def test_split_sentences_matches_python_mirror(spark, fx, pages_df):
    from easyner_spark.functions.text import split_sentences_py

    got = split_sentences(pages_df).toPandas()
    expected_rows = []
    for _, r in fx.pages.iterrows():
        if r["lang"] != "en":
            continue
        for i, s in enumerate(split_sentences_py(r["text"])):
            expected_rows.append((r["url"], i, s))
    exp = pd.DataFrame(expected_rows, columns=["url", "sent_idx", "sentence"])
    assert len(got) == len(exp)
    assert_pdf_equal(got, exp, ["url", "sent_idx"])


def test_split_sentences_udf_variant_identical(spark, pages_df):
    a = split_sentences(pages_df, lang_filter=None).toPandas()
    b = split_sentences_udf(pages_df).toPandas()
    assert_pdf_equal(b, a, ["url", "sent_idx"])


def test_split_sentences_null_or_empty_text_yields_nothing(spark):
    pages = spark.createDataFrame(
        [("a", None), ("b", ""), ("c", "\n\n"), ("d", "One. Two.")],
        "url string, text string",
    )
    got = [tuple(r) for r in split_sentences(pages, lang_filter=None).collect()]
    assert sorted(got) == [("d", 0, "One."), ("d", 1, "Two.")]


def test_dict_ner_matches_gold(spark, fx, pages_df):
    sents = split_sentences(pages_df)
    got = dict_ner(sents, TERMS).toPandas()
    assert len(got) > 100  # fixture plants plenty of terms
    assert_pdf_equal(got, fx.gold_mentions, ["url", "sent_idx", "begin", "end", "class"])


def test_dict_ner_surface_slices_match_sentence(spark, fx, pages_df):
    sents = split_sentences(pages_df)
    got = dict_ner(sents, TERMS)
    joined = got.join(sents, ["url", "sent_idx"]).select(
        "mention", F.expr("substring(sentence, begin + 1, end - begin)").alias("slice")
    )
    bad = joined.where(F.col("mention") != F.col("slice")).count()
    assert bad == 0


def test_dict_ner_join_variant_agrees_on_token_spans(spark, fx, pages_df):
    """The pure-built-ins broadcast-join formulation finds exactly the
    same (url, sent_idx, begin_tok, end_tok, class) set as the trie."""
    sents = split_sentences(pages_df)
    trie = dict_ner(sents, TERMS).toPandas()
    terms_df = spark.createDataFrame(pd.DataFrame(TERMS, columns=["term", "class"]))
    join = dict_ner_join(sents, terms_df).toPandas()
    key = ["url", "sent_idx", "begin_tok", "end_tok", "class"]
    assert_pdf_equal(join[key], trie[key], key)


def test_nested_and_boundary_semantics(spark):
    rows = [("u", 0, "2019 cov disease hit discovery covert COVID here")]
    sents = spark.createDataFrame(rows, "url string, sent_idx int, sentence string")
    got = dict_ner(sents, TERMS).toPandas().sort_values(["begin", "end"]).reset_index(drop=True)
    # nested: "cov", "2019 cov", "2019 cov disease" all match; "cov"
    # must NOT match inside "discovery"/"covert"; "COVID" matches cased.
    assert list(got["mention"]) == ["2019 cov", "2019 cov disease", "cov", "COVID"]
    assert list(got["mention_lc"]) == ["2019 cov", "2019 cov disease", "cov", "covid"]


def test_hyphenated_term_crosses_tokens(spark):
    sents = spark.createDataFrame(
        [("u", 0, "found SARS-CoV-2 in sample")],
        "url string, sent_idx int, sentence string",
    )
    got = dict_ner(sents, TERMS).toPandas().sort_values(["begin", "end"]).reset_index(drop=True)
    # nested "CoV" token inside the hyphenated surface is itself a dict
    # term — all overlapping matches are kept (scripts/ner_main.py:75-81)
    assert list(got["mention"]) == ["SARS-CoV-2", "CoV"]
    assert got.iloc[0]["begin"] == 6 and got.iloc[0]["end"] == 16
    assert got.iloc[1]["begin"] == 11 and got.iloc[1]["end"] == 14
