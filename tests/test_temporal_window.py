"""Token-window co-occurrence and k-bounded harmonic centrality —
closed-form hand values."""

from easyner_spark.operators.graph import harmonic_centrality, window_cooc


def test_window_cooc(spark):
    # positions: x@0, y@3, z@20 — (x,y) within 5, z out of band;
    # second sentence repeats (x,y) within band -> n_pairs 2
    m = spark.createDataFrame(
        [
            (1, 0, "x", 0), (1, 0, "y", 3), (1, 0, "z", 20),
            (1, 1, "x", 7), (1, 1, "y", 4),
            # duplicate mention rows (multi-class) collapse
            (1, 1, "y", 4),
        ],
        ["doc_id", "sent_idx", "term", "begin_tok"],
    )
    out = {(r.a, r.b): r.n_pairs for r in window_cooc(m, window=5).collect()}
    assert out == {("x", "y"): 2}
    wide = {
        (r.a, r.b): r.n_pairs for r in window_cooc(m, window=20).collect()
    }
    assert wide[("x", "z")] == 1 and wide[("y", "z")] == 1


def test_harmonic_centrality_path(spark):
    # path a-b-c-d, k=2: hc(a) = 1 + 1/2; hc(b) = 2 + 1/2
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    out = {r.source: r for r in harmonic_centrality(e, k=2).collect()}
    assert out["a"].hc == 1.5 and out["a"].n_reached == 2
    assert out["b"].hc == 2.5 and out["b"].n_reached == 3
    assert out["d"].hc == 1.5


def test_harmonic_centrality_k3(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    out = {r.source: r.hc for r in harmonic_centrality(e, k=3).collect()}
    assert out["a"] == round(1 + 0.5 + 1 / 3, 6)
