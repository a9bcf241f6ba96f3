"""Scoring operators (unigram LM cross-entropy, hashed linear
classifier): semantic properties + plan shape. Value parity vs DuckDB
is pinned by the unigram_lm / quality_classifier oracle queries
(shared expression generators in operators/scoring.py)."""

import math

import pytest

CORPUS = [
    (1, "the cat sat on the mat the cat"),   # common words only
    (2, "the cat sat"),                       # subset, same distribution
    (3, "zyxqv wqjzk xkcdq plugh"),           # all rare/OOV after cutoff
    (4, ""),                                  # empty: no tokens at all
    (5, "the the the the the the"),           # most frequent word only
]


def _df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


class TestUnigramLm:
    def _scores(self, spark, **kw):
        from easyner_spark.operators.scoring import unigram_lm_score

        rows = unigram_lm_score(_df(spark), **kw).collect()
        return {r["id"]: r for r in rows}

    def test_fluent_text_scores_lower_than_gibberish(self, spark):
        got = self._scores(spark, min_count=2)
        assert set(got) == {1, 2, 3, 5}  # doc 4 has no tokens -> absent
        # every token of doc 3 fell below the cutoff -> pure OOV ->
        # strictly worse than any doc made of common words
        assert got[3]["cross_entropy"] > got[1]["cross_entropy"]
        assert got[3]["cross_entropy"] > got[2]["cross_entropy"]
        # doc 5 is only the single most frequent word -> best score
        assert got[5]["cross_entropy"] < got[1]["cross_entropy"]

    def test_ppl_is_exp_of_cross_entropy(self, spark):
        got = self._scores(spark, min_count=2)
        for r in got.values():
            assert r["ppl"] == pytest.approx(math.exp(r["cross_entropy"]), rel=1e-4)
            assert r["cross_entropy"] > 0

    def test_oov_only_doc_uniform_score(self, spark):
        # all-OOV doc: every token gets lp_oov, so score_q = n * lp_oov
        got = self._scores(spark, min_count=2)
        r = got[3]
        assert r["score_q"] % r["n_tokens"] == 0

    def test_frozen_vocab_reuse(self, spark):
        from easyner_spark.operators.scoring import unigram_lm_score, unigram_vocab

        vocab = unigram_vocab(_df(spark), min_count=2)
        frozen = unigram_lm_score(_df(spark), vocab=vocab, broadcast_vocab=True)
        fresh = unigram_lm_score(_df(spark), min_count=2)
        a = {r["id"]: r["score_q"] for r in frozen.collect()}
        b = {r["id"]: r["score_q"] for r in fresh.collect()}
        assert a == b

    def test_vocab_is_bounded_and_cut(self, spark):
        from easyner_spark.operators.scoring import unigram_vocab

        v = {r["word"]: r for r in unigram_vocab(_df(spark), min_count=2).collect()}
        # singletons cut, frequent words kept
        assert "the" in v and "cat" in v and "sat" in v
        assert "zyxqv" not in v and "mat" not in v
        # all lp_q negative (p < 1), lp_oov below every kept word's lp_q
        for r in v.values():
            assert r["lp_q"] < 0
            assert r["lp_oov"] < r["lp_q"]


class TestHashedLinear:
    def _run(self, spark, **kw):
        from easyner_spark.operators.scoring import hashed_linear_score

        return hashed_linear_score(_df(spark), **kw)

    def test_deterministic_and_bounded(self, spark):
        a = {r["id"]: r for r in self._run(spark).collect()}
        b = {r["id"]: r for r in self._run(spark).collect()}
        assert {k: v["margin_q"] for k, v in a.items()} == {
            k: v["margin_q"] for k, v in b.items()
        }
        for r in a.values():
            assert 0.0 < r["prob"] < 1.0
            # per-token weight bounded by the prime shift
            assert abs(r["margin_q"]) <= r["n_words"] * 501_002

    def test_empty_doc_scores_neutral(self, spark):
        got = {r["id"]: r for r in self._run(spark).collect()}
        assert got[4]["n_words"] == 0
        assert got[4]["margin_q"] == 0
        assert got[4]["prob"] == 0.5

    def test_zero_shuffle_plan(self, spark):
        plan = self._run(spark)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_n_buckets_gate(self, spark):
        with pytest.raises(ValueError):
            self._run(spark, n_buckets=1 << 21)
        with pytest.raises(ValueError):
            self._run(spark, n_buckets=0)

    def test_gain_sharpens(self, spark):
        lo = {r["id"]: r["prob"] for r in self._run(spark, gain=1.0).collect()}
        hi = {r["id"]: r["prob"] for r in self._run(spark, gain=16.0).collect()}
        for k in lo:
            # higher gain pushes probs away from 0.5 (same sign margin)
            assert abs(hi[k] - 0.5) >= abs(lo[k] - 0.5) - 1e-9


class TestBigramLm:
    # doc 1/2 share the 'the cat'/'cat sat' transition structure; doc 6
    # uses the same WORDS in scrambled order (bigram-broken) — the
    # bigram LM must separate it from doc 1 where the unigram LM can't
    BIGRAM_CORPUS = [
        (1, "the cat sat on the mat the cat sat"),
        (2, "the cat sat on the mat"),
        (6, "cat the sat cat on mat the the sat"),
        (7, "single"),                               # <2 tokens: absent
    ]

    def _scores(self, spark, **kw):
        from easyner_spark.operators.scoring import bigram_lm_score

        df = spark.createDataFrame(self.BIGRAM_CORPUS, "doc_id long, text string")
        return {r["id"]: r for r in bigram_lm_score(df, **kw).collect()}

    def test_broken_word_order_scores_worse(self, spark):
        got = self._scores(spark, min_count=2)
        assert set(got) == {1, 2, 6}
        assert got[6]["cross_entropy"] > got[1]["cross_entropy"]
        assert got[6]["cross_entropy"] > got[2]["cross_entropy"]

    def test_transition_count_and_exactness(self, spark):
        import math

        got = self._scores(spark, min_count=2)
        assert got[1]["n_transitions"] == 8
        assert got[2]["n_transitions"] == 5
        for r in got.values():
            assert r["ppl"] == pytest.approx(math.exp(r["cross_entropy"]), rel=1e-4)

    def test_lam_validation(self, spark):
        with pytest.raises(ValueError):
            self._scores(spark, lam=1.0)
        with pytest.raises(ValueError):
            self._scores(spark, lam=0.0)


class TestReviewFixes:
    def test_all_oov_corpus_still_scores(self, spark):
        # every word unique -> cutoff empties the vocab entirely; the
        # OOV mass must come from token stats, not the kept table
        from easyner_spark.operators.scoring import unigram_lm_score

        df = spark.createDataFrame(
            [(1, "aaa bbb ccc"), (2, "ddd eee")], "doc_id long, text string"
        )
        got = {r["id"]: r for r in unigram_lm_score(df, min_count=2).collect()}
        assert set(got) == {1, 2}
        for r in got.values():
            assert r["score_q"] is not None
            assert r["cross_entropy"] is not None and r["cross_entropy"] > 0
