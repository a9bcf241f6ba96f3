"""Webtext URL/host operators + Gopher quality gate: unit tests for
the edge cases the sf0.01 oracle corpus never produces (malformed
urls, all-symbol text)."""

import pytest
from pyspark.sql import functions as F

from easyner_spark.operators.webtext import host_skew_profile, url_parts


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string, lang string")


class TestUrlParts:
    def test_parts_port_and_case(self, spark):
        df = _pages(
            spark,
            [
                ("https://WWW.Example.COM:8443/a/b?q=1#f", "t", "en"),
                ("http://sub.site.org/x", "t", "en"),
                ("not a url", "t", "en"),
            ],
        )
        out = {r["url"]: r for r in url_parts(df).collect()}
        r = out["https://WWW.Example.COM:8443/a/b?q=1#f"]
        assert r["scheme"] == "https"
        assert r["host"] == "www.example.com"          # lowered, port stripped
        assert r["reg_domain"] == "example.com"
        assert r["path"] == "/a/b"
        r2 = out["http://sub.site.org/x"]
        assert (r2["host"], r2["reg_domain"], r2["path"]) == (
            "sub.site.org", "site.org", "/x",
        )
        r3 = out["not a url"]                          # malformed -> empty parts
        assert (r3["scheme"], r3["host"], r3["reg_domain"], r3["path"]) == ("", "", "", "")


class TestHostSkewProfile:
    def test_rank_salt_and_share(self, spark):
        rows = [
            (f"https://hot.com/{i}", "x" * 10, "en") for i in range(6)
        ] + [
            ("https://cold.org/1", "y" * 4, "en"),
            ("https://cold.org/2", "y" * 6, "de"),
        ]
        prof = {
            r["host"]: r
            for r in host_skew_profile(
                _pages(spark, rows), target_partition_rows=2
            ).collect()
        }
        assert prof["hot.com"]["host_rank"] == 1
        assert prof["hot.com"]["salt"] == 3          # ceil(6/2)
        assert prof["cold.org"]["salt"] == 1
        assert prof["hot.com"]["share"] == 0.75
        assert prof["cold.org"]["cum_share"] == 1.0


class TestSaltedRepartition:
    def test_hot_host_spreads_tail_stays(self, spark):
        from easyner_spark.operators.webtext import salted_repartition_by_host

        rows = [(f"https://hot.com/{i}", "t", "en") for i in range(200)] + [
            (f"https://tail{h}.org/{i}", "t", "en")
            for h in range(10)
            for i in range(5)
        ]
        df = _pages(spark, rows)
        out = salted_repartition_by_host(
            df, target_partition_rows=50, num_partitions=16
        ).withColumn("pid", F.spark_partition_id())
        per_host = {
            r["host"]: (r["n_parts"], r["n_salts"])
            for r in out.groupBy("host")
            .agg(
                F.countDistinct("pid").alias("n_parts"),
                F.countDistinct("_salt").alias("n_salts"),
            )
            .collect()
        }
        # hot host: salt=ceil(200/50)=4 -> pages spread over >1 partition
        assert per_host["hot.com"][1] == 4
        assert per_host["hot.com"][0] > 1
        # every tail host: salt=1 -> exactly one salt cell, one partition
        for h, (n_parts, n_salts) in per_host.items():
            if h != "hot.com":
                assert (n_parts, n_salts) == (1, 1)


class TestLatestCrawl:
    def _df(self, spark):
        from easyner_spark.operators.webtext import latest_crawl

        rows = [
            ("u1", 100, 1, "old"),
            ("u1", 300, 2, "new"),
            ("u1", 200, 3, "mid"),
            ("u2", 100, 4, "a"),
            ("u2", 100, 5, "b"),     # ts tie -> larger (doc_id, text) wins
            ("u3", 900, 6, "future"),
        ]
        return latest_crawl, spark.createDataFrame(
            rows, "url string, warc_ts long, doc_id long, text string"
        )

    def test_latest_per_url(self, spark):
        latest_crawl, df = self._df(spark)
        out = {r["url"]: r for r in latest_crawl(df).collect()}
        assert (out["u1"]["warc_ts"], out["u1"]["text"]) == (300, "new")
        assert out["u2"]["doc_id"] == 5  # tie on ts broken by doc_id

    def test_as_of_cutoff(self, spark):
        latest_crawl, df = self._df(spark)
        out = {r["url"]: r for r in latest_crawl(df, as_of=250).collect()}
        assert out["u1"]["warc_ts"] == 200     # 300 excluded by cutoff
        assert "u3" not in out                 # all fetches after cutoff

    def test_single_shuffle_no_window(self, spark):
        """One url-keyed exchange with a map-side partial max; never a
        row_number window (which would shuffle every replica). The
        struct buffer forces SortAggregate — local sorts are fine."""
        latest_crawl, df = self._df(spark)
        plan = latest_crawl(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1
        assert "Window" not in plan
        assert "partial_max" in plan


class TestGopherFilters:
    def _run(self, spark, texts, **kw):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        from easyner_spark.operators.textstats import gopher_filters

        return {r["doc_id"]: r for r in gopher_filters(df, **kw).collect()}

    def test_rules_fire(self, spark):
        good = "the cat and the dog sat with the bird for tea " * 5
        out = self._run(
            spark,
            [
                good,                                   # 0: passes
                "",                                     # 1: empty
                "#### #### ####",                       # 2: symbols, no alpha
                "- one\n- two\n- three",                # 3: all bullets
                "a...\nb...\nc...",                     # 4: ellipsis lines
                "same line\nsame line\nsame line",      # 5: dup lines
                "supercalifragilisticexpialidocious " * 60,  # 6: long words
            ],
            min_words=10,
        )
        assert out[0]["gopher_keep"]
        assert not out[1]["word_count_ok"] and not out[1]["gopher_keep"]
        assert out[1]["mean_word_len"] == 0.0           # guarded, not null
        assert not out[2]["alpha_ok"]
        assert not out[3]["bullet_ok"] and out[3]["bullet_line_ratio"] == 1.0
        assert not out[4]["ellipsis_ok"]
        assert not out[5]["dup_line_ok"]
        assert out[5]["dup_line_frac"] == pytest.approx(2.0 / 3.0, abs=1e-6)
        assert not out[6]["mean_word_len_ok"]

    def test_symbol_ratio_counts_hash_and_ellipsis(self, spark):
        out = self._run(spark, ["word #a ... word #b word word word word"], min_words=1)
        # 2 '#' chars + 1 '...' occurrence over 8 words (a, b count as words)
        assert out[0]["symbol_word_ratio"] == pytest.approx(3.0 / 8.0, abs=1e-6)


class TestPlanShapes:
    def test_gopher_filters_zero_shuffle(self, spark):
        """The quality gate must stay a narrow projection chain —
        no Exchange anywhere in its plan (scan-speed contract)."""
        from easyner_spark.operators.textstats import gopher_filters

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = gopher_filters(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestAnchorsAndDelta:
    def test_crawl_delta_null_text_contract(self, spark):
        """Null text (failed extraction) coalesces to '': consecutive
        nulls are 'unchanged', delta_chars is never null — the exact
        contract the streaming twin implements by hashing ''."""
        from easyner_spark.operators.webtext import crawl_delta

        pages = spark.createDataFrame(
            [
                ("u1", 100, "abc"),
                ("u1", 200, None),
                ("u1", 300, None),
                ("u1", 400, "xy"),
            ],
            "url string, warc_ts long, text string",
        )
        got = {
            r["warc_ts"]: (r["change"], r["delta_chars"])
            for r in crawl_delta(pages).collect()
        }
        assert got == {
            100: ("new", 0),
            200: ("changed", -3),
            300: ("unchanged", 0),
            400: ("changed", 2),
        }

    def test_crawl_delta(self, spark):
        from easyner_spark.operators.webtext import crawl_delta

        pages = spark.createDataFrame(
            [
                ("u1", 100, "aaa"),
                ("u1", 200, "aaa"),
                ("u1", 300, "aaabb"),
                ("u2", 100, "zz"),
            ],
            "url string, warc_ts long, text string",
        )
        got = {
            (r["url"], r["warc_ts"]): (r["change"], r["delta_chars"])
            for r in crawl_delta(pages).collect()
        }
        assert got == {
            ("u1", 100): ("new", 0),
            ("u1", 200): ("unchanged", 0),
            ("u1", 300): ("changed", 2),
            ("u2", 100): ("new", 0),
        }


class TestNewOpPlans:
    """Shuffle-count contracts for the round-3 additions (executedPlan
    before AQE finalization — Exchange nodes present == shuffles the
    logical shape demands)."""

    def _pages(self, spark):
        return spark.createDataFrame(
            [("https://a.example.com/p", bytearray(b'<a href="/x">t</a>'), "body", 1)],
            "url string, html binary, text string, warc_ts long",
        )

    def test_crawl_delta_one_shuffle(self, spark):
        from easyner_spark.operators.webtext import crawl_delta

        plan = (
            crawl_delta(self._pages(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange") == 1  # the url-keyed window

    def test_sampling_plan_shapes(self, spark):
        from easyner_spark.operators.sampling import (
            deterministic_sample,
            per_host_cap,
            token_budget_select,
        )

        df = spark.createDataFrame(
            [("h", "u", 1.0, 10)], "host string, url string, quality double, n_tokens long"
        )
        p1 = deterministic_sample(df, 0.5)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p1              # scan-fused predicate
        p2 = (
            per_host_cap(df, 3, id_col="url")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert p2.count("Exchange") == 1         # host-keyed window
        # the naive global window serializes: Exchange SinglePartition
        # (the anti-pattern the distributed strategy exists to avoid)
        p3w = (
            token_budget_select(df, 100, id_col="url", strategy="window")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SinglePartition" in p3w
        # distributed: range partitioning + per-partition Arrow cumsum,
        # NO single-partition stage anywhere
        p3d = (
            token_budget_select(df, 100, id_col="url", num_partitions=4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SinglePartition" not in p3d
        assert "MapInPandas" in p3d
