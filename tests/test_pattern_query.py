"""Conjunctive triple-pattern (BGP) matching over the KG edge table."""

import duckdb
import pytest

from easyner_spark.operators.triples import (
    _join_order,
    match_patterns,
    match_patterns_oracle_sql,
)

TRIPLES = [
    # (subj_id, pred, obj_id); includes a duplicate row (bag semantics)
    # and a self-loop for the repeated-var-within-pattern case.
    ("a", "inhibits", "b"),
    ("a", "inhibits", "b"),
    ("b", "binds", "c"),
    ("b", "binds", "d"),
    ("d", "activates", "a"),
    ("x", "knows", "x"),
    ("a", "binds", "c"),
]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(
        TRIPLES, "subj_id string, pred string, obj_id string"
    )


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_chain_bag_semantics(spark, edges):
    # ?x inhibits ?y, ?y binds ?z — the duplicate (a,inhibits,b) row
    # must double each (a, b, *) binding.
    out = match_patterns(
        edges, [("?x", "inhibits", "?y"), ("?y", "binds", "?z")]
    )
    assert out.columns == ["x", "y", "z"]
    assert rows(out) == sorted(
        [("a", "b", "c")] * 2 + [("a", "b", "d")] * 2
    )


def test_distinct_and_literal_anchor(spark, edges):
    out = match_patterns(
        edges,
        [("?x", "inhibits", "?y"), ("?y", "binds", "?z")],
        distinct=True,
    )
    assert rows(out) == [("a", "b", "c"), ("a", "b", "d")]
    lit = match_patterns(edges, [("?s", "binds", "c")])
    assert rows(lit) == [("a",), ("b",)]


def test_cycle_pattern(spark, edges):
    out = match_patterns(
        edges,
        [
            ("?x", "inhibits", "?y"),
            ("?y", "binds", "?z"),
            ("?z", "activates", "?x"),
        ],
    )
    assert rows(out) == sorted([("a", "b", "d")] * 2)


def test_repeated_var_within_pattern(spark, edges):
    out = match_patterns(edges, [("?n", "knows", "?n")])
    assert rows(out) == [("x",)]


def test_join_order_most_bound_first():
    pats = [
        ("?x", "inhibits", "?y"),
        ("?y", "binds", "?z"),
        ("?z", "activates", "a"),
    ]
    order = _join_order(pats)
    # pattern 2 has the literal anchor -> joined first; then the
    # variable-connected chain z -> y -> x.
    assert order == [2, 1, 0]


def test_validation_errors(spark, edges):
    with pytest.raises(ValueError, match="at least one"):
        match_patterns(edges, [])
    with pytest.raises(ValueError, match="binds no variable"):
        match_patterns(edges, [("a", "inhibits", "b")])
    with pytest.raises(ValueError, match="disconnected"):
        match_patterns(
            edges, [("?x", "inhibits", "?y"), ("?p", "binds", "?q")]
        )
    with pytest.raises(ValueError, match="bad variable"):
        match_patterns(edges, [("?x-1", "inhibits", "?y")])


def test_oracle_twin_matches_spark(spark, edges):
    pats = [
        ("?x", "inhibits", "?y"),
        ("?y", "binds", "?z"),
        ("?z", "activates", "?x"),
    ]
    got = rows(match_patterns(edges, pats))
    vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in TRIPLES)
    sql = match_patterns_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(subj_id, pred, obj_id)", pats
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_oracle_literal_escaping():
    sql = match_patterns_oracle_sql(
        "SELECT 1", [("?x", "o'brien", "?y")]
    )
    assert "'o''brien'" in sql


def test_stats_ordering_same_results(spark, edges):
    from easyner_spark.operators.triples import bgp_stats

    pats = [
        ("?x", "inhibits", "?y"),
        ("?y", "binds", "?z"),
    ]
    stats = bgp_stats(edges)
    assert set(stats) >= {"inhibits", "binds"}
    n, ns, no = stats["inhibits"]
    assert n >= ns and n >= no and ns >= 1
    got_stats = rows(match_patterns(edges, pats, stats=stats))
    got_plain = rows(match_patterns(edges, pats))
    assert got_stats == got_plain


def test_stats_join_order_prefers_rare_predicate():
    from easyner_spark.operators.triples import _join_order

    # 'common' has 1e9 edges, 'rare' has 10: the syntactic heuristic
    # seeds at the 2-literal common pattern; the estimator must seed
    # at the rare one (est 10 << ceil(1e9/100) = 1e7)
    stats = {
        "common": (1_000_000_000, 100, 100),
        "rare": (10, 10, 10),
    }
    pats = [
        ("s1", "common", "?x"),   # 2 literals, est 1e7
        ("?x", "rare", "?y"),     # 1 literal, est 10
        ("?y", "common", "?z"),
    ]
    assert _join_order(pats)[0] == 0          # syntactic: 2 literals
    assert _join_order(pats, stats)[0] == 1   # estimated: rare first


def test_pattern_estimate_unknown_pred_is_zero():
    from easyner_spark.operators.triples import _pattern_estimate

    assert _pattern_estimate(("?x", "nope", "?y"), {"p": (5, 2, 3)}) == 0
    # variable predicate sums the table
    assert _pattern_estimate(("?x", "?p", "?y"), {"p": (5, 2, 3)}) == 5


def test_optional_patterns_left_join(spark, edges):
    from easyner_spark.operators.triples import (
        match_patterns,
        match_patterns_oracle_sql,
    )

    # binds rows: (b,c), (b,d), (a,c); only d activates anything ->
    # (b,d) gets z='a', the others keep NULL z
    pats = [("?s", "binds", "?c")]
    opts = [[("?c", "activates", "?z")]]
    out = match_patterns(edges, pats, optionals=opts)
    assert out.columns == ["s", "c", "z"]
    got = rows(out)
    base = rows(match_patterns(edges, pats))
    assert {(s, c) for s, c, _ in got} == set(base)
    assert ("b", "d", "a") in got
    assert any(z is None for _, _, z in got)
    # oracle twin agrees
    vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in TRIPLES)
    sql = match_patterns_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(subj_id, pred, obj_id)",
        pats,
        optionals=opts,
    )
    want = sorted(
        tuple(r) for r in duckdb.sql(sql).fetchall()
    )
    assert got == want


def test_optional_validation(spark, edges):
    from easyner_spark.operators.triples import match_patterns

    with pytest.raises(ValueError, match="shares no variable"):
        match_patterns(
            edges,
            [("?x", "inhibits", "?y")],
            optionals=[[("?a", "binds", "?b")]],
        )
    with pytest.raises(ValueError, match="disjoint new"):
        match_patterns(
            edges,
            [("?x", "inhibits", "?y")],
            optionals=[
                [("?y", "binds", "?z")],
                [("?x", "activates", "?z")],
            ],
        )


def test_optional_clash_raises_in_both_twins(spark, edges):
    """Two optional groups that both introduce ?w: the Spark side and
    the DuckDB oracle generator reject the same spec."""
    pats = [("?x", "inhibits", "?y")]
    opts = [[("?y", "binds", "?w")], [("?x", "binds", "?w")]]
    with pytest.raises(ValueError, match="disjoint new"):
        match_patterns(edges, pats, optionals=opts)
    with pytest.raises(ValueError, match="disjoint new"):
        match_patterns_oracle_sql("SELECT * FROM t0", pats, optionals=opts)


CHAIN = [
    ("a", "located_in", "b"),
    ("b", "located_in", "c"),
    ("c", "located_in", "d"),
    ("a", "inhibits", "q"),
    ("q", "located_in", "b"),
]


@pytest.fixture(scope="module")
def chain_edges(spark):
    return spark.createDataFrame(
        CHAIN, "subj_id string, pred string, obj_id string"
    )


def test_property_path_closure(spark, chain_edges):
    out = match_patterns(chain_edges, [("a", "located_in+", "?y")])
    assert rows(out) == [("b",), ("c",), ("d",)]
    # bounded depth cuts the 3-hop pair
    out2 = match_patterns(
        chain_edges, [("a", "located_in+", "?y")], max_closure_depth=2
    )
    assert rows(out2) == [("b",), ("c",)]


def test_property_path_composes_and_oracle(spark, chain_edges):
    pats = [("?x", "inhibits", "?q"), ("?q", "located_in+", "?y")]
    out = match_patterns(chain_edges, pats)
    assert rows(out) == [("a", "q", "b"), ("a", "q", "c"), ("a", "q", "d")]
    vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in CHAIN)
    sql = match_patterns_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(subj_id, pred, obj_id)", pats
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert rows(out) == want


def test_property_path_in_optional_group(spark, chain_edges):
    pats = [("?x", "inhibits", "?q")]
    opts = [[("?q", "located_in+", "?y")]]
    out = match_patterns(chain_edges, pats, optionals=opts)
    got = rows(out)
    assert ("a", "q", "b") in got and ("a", "q", "d") in got
    vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in CHAIN)
    sql = match_patterns_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(subj_id, pred, obj_id)",
        pats,
        optionals=opts,
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want


def test_property_path_estimate_uses_base_pred():
    from easyner_spark.operators.triples import _pattern_estimate

    stats = {"located_in": (100, 50, 40)}
    assert _pattern_estimate(("?x", "located_in+", "?y"), stats) == 200


def test_minus_group_excludes(spark, edges):
    # binds pairs: (b,c), (b,d), (a,c); MINUS "?c activates ?w"
    # removes the (b,d) row (d activates a); bag semantics preserved
    pats = [("?s", "binds", "?c")]
    out = match_patterns(
        edges, pats, minus=[[("?c", "activates", "?w")]]
    )
    assert out.columns == ["s", "c"]
    assert rows(out) == [("a", "c"), ("b", "c")]
    # oracle twin agrees
    vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in TRIPLES)
    sql = match_patterns_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(subj_id, pred, obj_id)",
        pats,
        minus=[[("?c", "activates", "?w")]],
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert rows(out) == want


def test_minus_validation(spark, edges):
    with pytest.raises(ValueError, match="shares no variable"):
        match_patterns(
            edges,
            [("?x", "inhibits", "?y")],
            minus=[[("?a", "binds", "?b")]],
        )


def test_minus_with_property_path(spark, chain_edges):
    # everything a is transitively located_in, minus the direct hop
    pats = [("a", "located_in+", "?y")]
    out = match_patterns(
        chain_edges, pats, minus=[[("a", "located_in", "?y")]]
    )
    assert rows(out) == [("c",), ("d",)]
    vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in CHAIN)
    sql = match_patterns_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(subj_id, pred, obj_id)",
        pats,
        minus=[[("a", "located_in", "?y")]],
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert rows(out) == want


def test_values_bindings(spark, edges):
    pats = [("?s", "binds", "?c")]
    out = match_patterns(edges, pats, bindings={"s": ("b",)})
    assert rows(out) == [("b", "c"), ("b", "d")]
    # oracle twin agrees
    vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in TRIPLES)
    sql = match_patterns_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(subj_id, pred, obj_id)",
        pats,
        bindings={"s": ("b",)},
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert rows(out) == want
    # multi-value + unknown-var validation
    out2 = match_patterns(edges, pats, bindings={"c": ("c", "zzz")})
    assert rows(out2) == [("a", "c"), ("b", "c")]
    with pytest.raises(ValueError, match="not bound"):
        match_patterns(edges, pats, bindings={"nope": ("x",)})
    with pytest.raises(ValueError, match="empty"):
        match_patterns(edges, pats, bindings={"s": ()})


def test_match_patterns_when_standing_query(spark):
    from easyner_spark.operators.triples import (
        match_patterns_when,
        match_patterns_when_oracle_sql,
    )

    rows_ = [
        ("a", "inhibits", "b", 1),
        ("b", "binds", "c", 3),
        ("b", "binds", "c", 5),   # re-assertion must not move first
        ("a", "inhibits", "q", 4),
        ("q", "binds", "c", 2),   # q-path completes at epoch 4
    ]
    t = spark.createDataFrame(rows_, ["subj_id", "pred", "obj_id", "epoch"])
    pats = [("?x", "inhibits", "?y"), ("?y", "binds", "?z")]
    got = sorted(tuple(r) for r in match_patterns_when(t, pats).collect())
    assert got == [("a", "b", "c", 3), ("a", "q", "c", 4)]
    vals = ", ".join(
        f"('{s}', '{p}', '{o}', {e})" for s, p, o, e in rows_
    )
    sql = match_patterns_when_oracle_sql(
        f"SELECT * FROM (VALUES {vals}) v(subj_id, pred, obj_id, epoch)",
        pats,
    )
    want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == want
    # the per-epoch delta feed: new matches at epoch 4 only
    delta = [g for g in got if g[-1] == 4]
    assert delta == [("a", "q", "c", 4)]
    with pytest.raises(ValueError, match="closure"):
        match_patterns_when(t, [("?x", "inhibits+", "?y")])


def test_union_groups(spark, edges):
    # inhibits-pairs OR activates-pairs, one query
    pats = [("?x", "inhibits", "?y")]
    uni = [[("?x", "activates", "?y")]]
    out = match_patterns(edges, pats, unions=uni)
    got = rows(out)
    assert got == sorted([("a", "b")] * 2 + [("d", "a")])
    # oracle twin agrees, and MINUS applies to the UNION
    vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in TRIPLES)
    src = f"SELECT * FROM (VALUES {vals}) v(subj_id, pred, obj_id)"
    sql = match_patterns_oracle_sql(src, pats, unions=uni)
    assert got == sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    out2 = match_patterns(
        edges, pats, unions=uni, minus=[[("?x", "binds", "?w")]]
    )
    # a binds c -> both (a, b) rows and nothing else with x=a drop
    assert rows(out2) == [("d", "a")]
    sql2 = match_patterns_oracle_sql(
        src, pats, unions=uni, minus=[[("?x", "binds", "?w")]]
    )
    assert rows(out2) == sorted(
        tuple(r) for r in duckdb.sql(sql2).fetchall()
    )
    with pytest.raises(ValueError, match="exactly the required"):
        match_patterns(edges, pats, unions=[[("?x", "binds", "?z")]])
