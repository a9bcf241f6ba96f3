"""Score-proportional deterministic sampling.

Reference parity: EasyNER has no sampling stage (subsetting is the
id-list filter, scripts/searcher.py); this is north_star curation
surface.
"""

import pytest

from easyner_spark.operators.sampling import quality_weighted_sample


class TestQualityWeightedSample:
    def test_keep_rate_tracks_score(self, spark):
        df = spark.createDataFrame(
            [(f"u{s}_{j}", s) for s in (0, 50, 100, 200) for j in range(400)],
            "url string, score int",
        )
        kept = (
            quality_weighted_sample(df, "score", max_score=200)
            .groupBy("score")
            .count()
            .collect()
        )
        by_score = {r.score: r["count"] for r in kept}
        assert 0 not in by_score            # score 0 never survives
        assert by_score[200] == 400         # score >= max always survives
        # proportional in expectation: 50 -> ~100, 100 -> ~200 of 400
        assert 60 <= by_score[50] <= 140
        assert 150 <= by_score[100] <= 250
        assert by_score[50] < by_score[100]

    def test_deterministic_and_seed_independent(self, spark):
        df = spark.createDataFrame(
            [(f"u{i}", 100) for i in range(300)], "url string, score int"
        )
        a = {r.url for r in quality_weighted_sample(df, "score", 200).collect()}
        b = {r.url for r in quality_weighted_sample(df, "score", 200).collect()}
        assert a == b  # re-run selects the same rows
        c = {
            r.url
            for r in quality_weighted_sample(df, "score", 200, seed="x").collect()
        }
        assert a != c  # a different seed is an independent draw

    def test_clamps_and_validation(self, spark):
        df = spark.createDataFrame(
            [("a", -5), ("b", 10**6)], "url string, score long"
        )
        out = quality_weighted_sample(df, "score", max_score=100).collect()
        assert [r.url for r in out] == ["b"]  # -5 -> 0 drops; 1e6 clamps to max
        with pytest.raises(ValueError):
            quality_weighted_sample(df, "score", max_score=2**31)
