"""Seeded-random replica checks for the session's iterative/integer
operators: one Spark job per case batch, compared against independent
pure-Python implementations (the fixtures.brute_force_matches
pattern — deterministic, no flaky hypothesis/Spark loop)."""

import hashlib
import random

from easyner_spark.operators.sampling import apportion_budget


def _py_hamilton(weights, budget):
    w = {k: max(0, v or 0) for k, v in weights}
    tot = sum(w.values())
    if tot == 0:
        return {k: 0 for k in w}
    floor_q = {k: budget * v // tot for k, v in w.items()}
    rem = {k: (budget * v) % tot for k, v in w.items()}
    leftover = budget - sum(floor_q.values())
    order = sorted(w, key=lambda k: (-rem[k], k))
    q = dict(floor_q)
    for k in order[:leftover]:
        if rem[k] > 0:
            q[k] += 1
    return q


def test_apportion_random_weights(spark):
    rng = random.Random(11)
    rows = [(f"h{i}", rng.randrange(0, 50)) for i in range(60)]
    df = spark.createDataFrame(rows, "host string, weight long")
    for budget in (1, 37, 500):
        got = {
            r["host"]: r["quota"]
            for r in apportion_budget(df, budget=budget).collect()
        }
        assert got == _py_hamilton(rows, budget)
        assert sum(got.values()) == budget


def test_stratified_matches_hamilton_quotas(spark):
    from easyner_spark.operators.sampling import stratified_sample_exact

    rng = random.Random(13)
    langs = ["en", "sv", "de", "fi"]
    rows = [(i, rng.choice(langs)) for i in range(250)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample_exact(df, group_col="lang", total=77).collect()
    assert len(out) == 77
    counts = {}
    for _, lang in rows:
        counts[lang] = counts.get(lang, 0) + 1
    want = _py_hamilton(list(counts.items()), 77)
    got = {}
    for r in out:
        got[r["lang"]] = got.get(r["lang"], 0) + 1
    assert got == want
    # within each stratum, exactly the smallest-md5(doc_id) rows win
    by_lang = {}
    for i, lang in rows:
        by_lang.setdefault(lang, []).append(i)
    picked = {(r["lang"], r["doc_id"]) for r in out}
    for lang, ids in by_lang.items():
        ranked = sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )
        expect = {(lang, i) for i in ranked[: want[lang]]}
        assert {(l, i) for l, i in picked if l == lang} == expect
