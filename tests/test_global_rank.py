"""sampling.global_rank — the distributed escape hatch for global
rank/cumsum over key-cardinality frames (VERDICT r3 watch-item):
value parity across strategies, the no-SinglePartition plan contract,
and the auto threshold switch, plus the two rewired call sites
(host_skew_profile, apportion_budget)."""

import random

import pytest
from pyspark.sql import functions as F

from easyner_spark.operators.sampling import (
    apportion_budget,
    global_rank,
    release_ranged_caches,
)


@pytest.fixture(scope="module")
def hosts_df(spark):
    rng = random.Random(11)
    rows = [(f"h{i:04d}.example.org", rng.randint(1, 900)) for i in range(400)]
    df = spark.createDataFrame(rows, "host string, n_docs int")
    yield df
    release_ranged_caches()


ORDER = lambda: [F.col("n_docs").desc(), F.col("host")]  # noqa: E731


class TestGlobalRank:
    def test_strategies_value_identical(self, spark, hosts_df):
        outs = {
            s: global_rank(
                hosts_df, ORDER(), rank_col="r", cumsum_cols=("n_docs",),
                strategy=s, window_threshold=10,
            ).orderBy("r").collect()
            for s in ("window", "distributed", "auto")
        }
        assert outs["window"] == outs["distributed"] == outs["auto"]
        # rank is a 1..N permutation; cumsum ends at the total
        rows = outs["window"]
        assert [r["r"] for r in rows] == list(range(1, len(rows) + 1))
        assert rows[-1]["cum_n_docs"] == sum(r["n_docs"] for r in rows)

    def test_distributed_plan_has_no_single_partition(self, spark, hosts_df):
        out = global_rank(
            hosts_df, ORDER(), rank_col="r", cumsum_cols=("n_docs",),
            strategy="distributed",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan

    def test_window_strategy_is_the_serial_twin(self, spark, hosts_df):
        out = global_rank(hosts_df, ORDER(), rank_col="r", strategy="window")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" in plan  # the shape auto must escape

    def test_auto_switches_on_threshold(self, spark, hosts_df):
        big = global_rank(
            hosts_df, ORDER(), rank_col="r", strategy="auto", window_threshold=10
        )
        assert "SinglePartition" not in big._jdf.queryExecution().executedPlan().toString()
        small = global_rank(
            hosts_df, ORDER(), rank_col="r", strategy="auto",
            window_threshold=1_000_000,
        )
        assert "SinglePartition" in small._jdf.queryExecution().executedPlan().toString()

    def test_rejects_non_integral_cumsum(self, spark, hosts_df):
        with pytest.raises(ValueError, match="integral"):
            global_rank(
                hosts_df.withColumn("x", F.col("n_docs") / 2.0),
                ORDER(), cumsum_cols=("x",), strategy="window",
            )


class TestRewiredCallSites:
    def test_host_skew_profile_distributed_parity(self, spark, pages_df):
        from easyner_spark.operators.webtext import host_skew_profile

        w = host_skew_profile(pages_df, rank_strategy="window")
        d = host_skew_profile(pages_df, rank_strategy="distributed")
        plan = d._jdf.queryExecution().executedPlan().toString()
        # the rank/cumsum must not be a serial Window; the only
        # SinglePartition allowed is the scalar total aggregation,
        # which receives one PARTIAL row per partition, never a row
        # per host (partial aggs collapse upstream)
        assert "Window" not in plan
        assert plan.count("Exchange SinglePartition") <= 1
        assert w.orderBy("host_rank").collect() == d.orderBy("host_rank").collect()
        # nullability legitimately differs (mapInPandas output fields
        # are nullable); names and types must not
        assert w.schema.simpleString() == d.schema.simpleString()

    def test_apportion_budget_distributed_parity(self, spark, hosts_df):
        wts = hosts_df.select("host", F.col("n_docs").cast("long").alias("weight"))
        w = apportion_budget(wts, budget=9_999, rank_strategy="window")
        d = apportion_budget(wts, budget=9_999, rank_strategy="distributed")
        assert w.orderBy("host").collect() == d.orderBy("host").collect()
        assert d.groupBy().sum("quota").collect()[0][0] == 9_999
