"""DSIR importance resampling (r5): hashed-bigram log-ratio weights
and exact-integer Gumbel top-k selection. Value parity vs DuckDB is
the registry oracle's job (dsir_weights / dsir_sample); these pin the
semantics and the amortization/edge contracts."""

import pytest
from pyspark.sql import functions as F

from easyner_spark.operators.scoring import (
    dsir_log_ratios,
    dsir_sample,
    dsir_weights,
)


@pytest.fixture()
def corpora(spark):
    # target domain: chemistry-flavoured text; raw: mixed with noise
    target = spark.createDataFrame(
        [(i, "the enzyme binds the receptor protein complex") for i in range(8)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(100, "the enzyme binds the receptor protein complex"),
         (101, "enzyme binds receptor protein"),
         (102, "football match score goal referee penalty"),
         (103, "stock market index fell points trading"),
         (104, "x")],                       # single word: no bigrams
        "doc_id long, text string",
    )
    return target, raw


def test_weights_rank_target_like_docs_higher(spark, corpora):
    target, raw = corpora
    w = {r.id: r.log_ratio for r in dsir_weights(raw, target).collect()}
    # in-domain docs outscore out-of-domain ones
    assert w[100] > w[102] and w[100] > w[103]
    assert w[101] > w[102]
    # no-bigram doc is absent (the GROUP BY convention)
    assert 104 not in w


def test_ratios_reuse_matches_self_fit(spark, corpora):
    target, raw = corpora
    ratios = dsir_log_ratios(target, raw).localCheckpoint(eager=True)
    a = sorted(map(tuple, dsir_weights(raw, target).collect()))
    b = sorted(map(tuple, dsir_weights(raw, target, ratios=ratios).collect()))
    assert a == b
    assert ratios.count() == 2048  # every bucket present, bounded


def test_sample_topk_deterministic_and_seeded(spark, corpora):
    target, raw = corpora
    s1 = [r.id for r in dsir_sample(raw, target, k=2).collect()]
    s2 = [r.id for r in dsir_sample(raw, target, k=2).collect()]
    assert s1 == s2 and len(s1) == 2
    # a different seed draws an independent sample of the same size
    s3 = [r.id for r in dsir_sample(raw, target, k=2, seed="alt").collect()]
    assert len(s3) == 2
    # key_q = weight_q + gumbel_q is an exact integer
    row = dsir_sample(raw, target, k=1).collect()[0]
    assert isinstance(row.key_q, int) and isinstance(row.weight_q, int)
    with pytest.raises(ValueError, match="k must be"):
        dsir_sample(raw, target, k=0)


def test_sample_plans_top_k_not_global_sort(spark, corpora):
    target, raw = corpora
    df = dsir_sample(raw, target, k=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_xxhash_fast_path_same_ranking_shape(spark, corpora):
    """hash_fn='xxhash64' (JVM-native fast path) buckets differently
    but preserves the ranking property that makes DSIR useful — the
    minhash hash_fn precedent."""
    target, raw = corpora
    w = {
        r.id: r.log_ratio
        for r in dsir_weights(raw, target, hash_fn="xxhash64").collect()
    }
    assert w[100] > w[102] and w[100] > w[103]
    with pytest.raises(ValueError, match="hash_fn"):
        dsir_weights(raw, target, hash_fn="sha1").collect()


def test_oracle_seed_with_apostrophe(spark, corpora):
    """The DuckDB twin quotes the seed literal: a seed with `'` runs
    and draws the same sample as the Spark side."""
    duckdb = pytest.importorskip("duckdb")
    from easyner_spark.operators.scoring import dsir_sample_oracle_sql

    target, raw = corpora
    docs = target.unionByName(raw)
    seed = "o'brien"
    got = [
        (r.id, r.key_q)
        for r in dsir_sample(docs, docs.where("doc_id < 100"), k=3, seed=seed).collect()
    ]
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    sql = dsir_sample_oracle_sql(3, target_where="doc_id < 100", seed=seed)
    want = [(int(i), int(k)) for i, _, _, k in con.execute(sql).fetchall()]
    assert got == want
