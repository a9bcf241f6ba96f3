"""mixture_sample and chunk_docs: semantics and plan shape. Value
parity is pinned by the mixture_sample oracle query (exact-integer-gate
formulation)."""

import pytest


class TestMixture:
    def test_rates_downsample_only_and_hit_target(self):
        from easyner_spark.operators.sampling import mixture_rates

        counts = {"en": 8000, "de": 1000, "fr": 1000}
        rates = mixture_rates(counts, {"en": 1, "de": 1, "fr": 1})
        # de/fr are the binding groups: kept whole; en downsampled to 1000
        assert rates["de"] == rates["fr"] == 1_000_000
        assert rates["en"] == pytest.approx(125_000, abs=1)
        # absent target group -> dropped
        assert "es" not in mixture_rates(counts, {"en": 1})

    def test_rates_never_exceed_one(self):
        from easyner_spark.operators.sampling import mixture_rates

        rates = mixture_rates({"en": 10, "de": 10}, {"en": 9, "de": 1})
        assert all(0 <= r <= 1_000_000 for r in rates.values())

    def test_sample_deterministic_and_proportioned(self, spark):
        from easyner_spark.operators.sampling import mixture_sample

        rows = [(i, f"u{i}", "en" if i % 4 else "de") for i in range(4000)]
        df = spark.createDataFrame(rows, "doc_id long, url string, lang string")
        rates = {"en": 500_000, "de": 1_000_000}
        a = sorted(r["doc_id"] for r in mixture_sample(df, rates, "lang").collect())
        b = sorted(r["doc_id"] for r in mixture_sample(df, rates, "lang").collect())
        assert a == b
        got = mixture_sample(df, rates, "lang").groupBy("lang").count().collect()
        n = {r["lang"]: r["count"] for r in got}
        assert n["de"] == 1000  # rate 1.0 keeps every row
        assert abs(n["en"] - 1500) < 150  # ~0.5 of 3000

    def test_unlisted_group_dropped_and_empty_rates(self, spark):
        from easyner_spark.operators.sampling import mixture_sample

        df = spark.createDataFrame(
            [(1, "u1", "en"), (2, "u2", "xx")], "doc_id long, url string, lang string"
        )
        kept = mixture_sample(df, {"en": 1_000_000}, "lang").collect()
        assert [r["doc_id"] for r in kept] == [1]
        assert mixture_sample(df, {}, "lang").count() == 0

    def test_rate_gate_validation(self, spark):
        from easyner_spark.operators.sampling import mixture_sample

        df = spark.createDataFrame([(1, "u", "en")], "doc_id long, url string, lang string")
        with pytest.raises(ValueError):
            mixture_sample(df, {"en": 2_000_000}, "lang").collect()

    def test_zero_shuffle_plan(self, spark):
        from easyner_spark.operators.sampling import mixture_sample

        df = spark.createDataFrame([(1, "u", "en")], "doc_id long, url string, lang string")
        plan = (
            mixture_sample(df, {"en": 500_000}, "lang")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestChunkDocs:
    DOCS = [
        (1, "a b c d e f g h i j"),   # 10 words
        (2, "x y"),                   # single short chunk
        (3, ""),                      # empty: no rows
    ]

    def _run(self, spark, **kw):
        from easyner_spark.operators.sampling import chunk_docs

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        return chunk_docs(df, **kw).collect()

    def test_stride_overlap_and_tail(self, spark):
        rows = {(r["id"], r["chunk_idx"]): r for r in self._run(
            spark, max_tokens=4, overlap=1, min_tail=1)}
        # stride 3: starts 0,3,6,9 for doc 1
        assert rows[(1, 0)]["chunk"] == "a b c d"
        assert rows[(1, 1)]["chunk"] == "d e f g"   # overlap carries 'd'
        assert rows[(1, 2)]["chunk"] == "g h i j"
        # the start-9 window is just 'j' — 1 token <= overlap, wholly
        # contained in chunk 2: dropped (pure duplicate text)
        assert (1, 3) not in rows
        assert rows[(2, 0)]["chunk"] == "x y"
        assert not any(i == 3 for (i, _) in rows)   # empty doc absent

    def test_tail_kept_when_it_carries_new_tokens(self, spark):
        from easyner_spark.operators.sampling import chunk_docs

        # 9 tokens, max 4, overlap 1 (stride 3): starts 0,3,6 -> last
        # chunk 'g h i' has 2 new tokens -> kept
        df = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
        rows = chunk_docs(df, max_tokens=4, overlap=1).collect()
        assert [r["chunk"] for r in sorted(rows, key=lambda r: r["chunk_idx"])] == [
            "a b c d", "d e f g", "g h i",
        ]

    def test_min_tail_drops_runts_but_keeps_only_chunk(self, spark):
        rows = self._run(spark, max_tokens=4, overlap=1, min_tail=2)
        keys = {(r["id"], r["chunk_idx"]) for r in rows}
        assert (1, 3) not in keys      # 1-token runt dropped
        assert (2, 0) in keys          # sub-min doc keeps its only chunk

    def test_zero_shuffle_plan(self, spark):
        from easyner_spark.operators.sampling import chunk_docs

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        plan = (
            chunk_docs(df, max_tokens=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan

    def test_param_validation(self, spark):
        import pytest as _pt

        with _pt.raises(ValueError):
            self._run(spark, max_tokens=0)
        with _pt.raises(ValueError):
            self._run(spark, max_tokens=4, overlap=4)
