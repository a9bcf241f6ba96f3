"""PathSim metapath similarity — hand-computed expectations,
all-integer contracts."""

from easyner_spark.operators.triples import metapath_pathsim


def test_metapath_pathsim_peers_beat_hubs(spark):
    # p1, p2 share boutique employer c1 (their only employer).
    # p3, p4, p5 all work for megacorp c2; p1 ALSO has a second
    # employer c2 -> p1's diagonal is larger.
    t = spark.createDataFrame(
        [
            ("p1", "works_for", "c1"),
            ("p2", "works_for", "c1"),
            ("p1", "works_for", "c2"),
            ("p3", "works_for", "c2"),
            ("p4", "works_for", "c2"),
            ("p5", "works_for", "c2"),
            # exact inverse (the symmetry contract)
            ("c1", "employs", "p1"),
            ("c1", "employs", "p2"),
            ("c2", "employs", "p1"),
            ("c2", "employs", "p3"),
            ("c2", "employs", "p4"),
            ("c2", "employs", "p5"),
        ],
        ["subj", "pred", "obj"],
    )
    out = {
        (r.a, r.b): (r.n_paths, r.sim_micro)
        for r in metapath_pathsim(t, ("works_for", "employs")).collect()
    }
    # M(p1,p1)=2 (via c1 and c2), M(p2,p2)=1, M(p1,p2)=1
    assert out[("p1", "p2")] == (1, 666666)  # 2e6*1/(2+1)
    # M(p3,p3)=1, M(p3,p4)=1 -> 2e6/(1+1) = 1e6 (identical profiles)
    assert out[("p3", "p4")] == (1, 1000000)
    # p1-p3 share only megacorp: 2e6*1/(2+1)
    assert out[("p1", "p3")] == (1, 666666)
    # p2 (boutique only) and p3 (megacorp only) share no employer
    assert ("p2", "p3") not in out


def test_metapath_pathsim_no_shared_path_no_row(spark):
    t = spark.createDataFrame(
        [
            ("p1", "works_for", "c1"),
            ("c1", "employs", "p1"),
            ("p2", "works_for", "c2"),
            ("c2", "employs", "p2"),
        ],
        ["subj", "pred", "obj"],
    )
    out = metapath_pathsim(t, ("works_for", "employs")).collect()
    assert out == []  # disjoint employers -> no off-diagonal pairs

