"""Property tests for the round-3-close operators: random inputs vs
independent pure-Python models (the test_property_curation pattern —
few examples, each a full Spark plan, deadline off).
"""

from hypothesis import given, settings
from hypothesis import strategies as st

UNIT = 10**9

sent_strat = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=1,
        max_size=4,
    ),
    min_size=1,
    max_size=6,
)


def _py_textrank(sents, iters=3):
    toks = [set(s) for s in sents]
    n = len(sents)
    edges = {}
    for i in range(n):
        for j in range(n):
            if i != j:
                w = len(toks[i] & toks[j])
                if w:
                    edges[(i, j)] = w
    wsum = {}
    for (j, _), w in edges.items():
        wsum[j] = wsum.get(j, 0) + w
    s = [UNIT] * n
    for _ in range(iters):
        inc = [0] * n
        for (j, i), w in edges.items():
            inc[i] += (s[j] * w) // wsum[j]
        s = [(3 * UNIT) // 20 + (17 * v) // 20 for v in inc]
    return s


@settings(max_examples=6, deadline=None)
@given(sent_strat)
def test_textrank_matches_python_model(spark, sents):
    from easyner_spark.operators.ranking import textrank_sentences

    df = spark.createDataFrame(
        [("d", i, " ".join(s)) for i, s in enumerate(sents)],
        "url string, sent_idx int, sentence string",
    )
    got = {r.sent_idx: r.score for r in textrank_sentences(df, iters=3).collect()}
    want = _py_textrank(sents)
    assert got == {i: v / float(UNIT) for i, v in enumerate(want)}


pair_strat = st.lists(
    st.tuples(st.booleans(), st.booleans()),
    min_size=2,
    max_size=40,
)


@settings(max_examples=6, deadline=None)
@given(pair_strat)
def test_fs_em_probability_is_pattern_function(spark, agreements):
    from easyner_spark.operators.nel import fs_em_linkage

    df = spark.createDataFrame(
        [(i, i + 1000, a, b) for i, (a, b) in enumerate(agreements)],
        "id_a int, id_b int, f1 boolean, f2 boolean",
    )
    out = fs_em_linkage(df, ("f1", "f2"), iters=3).collect()
    assert len(out) == len(agreements)
    probs = {}
    for r in out:
        pat = agreements[r.id_a]
        probs.setdefault(pat, set()).add(r.match_prob)
    # one probability per pattern; valid probability range (the
    # param clamp keeps m/u/p interior, but an extreme pattern's
    # posterior may legitimately round to 0 or 1)
    for ps in probs.values():
        assert len(ps) == 1
        (p,) = ps
        assert 0.0 <= p <= 1.0
