"""Property tests for the round-3-close operators: random inputs vs
independent pure-Python models (the test_property_curation pattern —
few examples, each a full Spark plan, deadline off).
"""

from hypothesis import given, settings
from hypothesis import strategies as st


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
