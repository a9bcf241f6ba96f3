"""Edit-distance merge candidates — closed-form hand values."""

from easyner_spark.operators.nel import edit_merge_candidates


def test_edit_merge_candidates(spark):
    labels = spark.createDataFrame(
        [
            ("e1", "Rapamycin"),
            ("e2", "rapamycine"),      # dist 1, shares prefix
            ("e3", "xrapamycin"),      # dist 1 vs e1, shares SUFFIX only
            ("e4", "sirolimus"),       # unrelated
            ("e5", "ra"),              # too short, dropped
        ],
        ["id", "label"],
    )
    out = {
        (r.id_a, r.id_b): r.dist
        for r in edit_merge_candidates(labels, max_dist=2).collect()
    }
    assert out[("e1", "e2")] == 1
    # suffix key catches the front-edited variant prefix blocking misses
    assert out[("e1", "e3")] == 1
    assert not any("e4" in p for p in out)
    assert not any("e5" in p for p in out)


def test_edit_merge_block_cap(spark):
    # a degenerate block (shared prefix+suffix+length) above the cap
    # is dropped, not exploded
    labels = spark.createDataFrame(
        [(f"i{n}", f"aaa{n % 10}zzz") for n in range(40)], ["id", "label"]
    )
    assert edit_merge_candidates(labels, max_dist=2, max_block=5).count() == 0
    assert edit_merge_candidates(labels, max_dist=2, max_block=100).count() > 0
