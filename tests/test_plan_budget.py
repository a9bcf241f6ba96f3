"""Job and plan budget of the shipped CLI jobs (a noise-free ratchet).

One `resume=False` kg call and one curate call on the conftest fixture,
each under its own job group. Job counts and Python-evaluated plan nodes
are deterministic for a fixed input and config, so they are pinned
exactly: a change that lowers a number updates its pin here, and one
that raises a number says why in CHANGES.md.
"""

import re

import pytest

KG_JOBS = 14
CURATE_JOBS = 7

# physical nodes that run Python: pandas/Arrow UDF evaluation and the
# map/group-in-pandas/arrow operators
PYTHON_NODE = re.compile(r"\b\w*(?:EvalPython|InPandas|InArrow)\w*\b")


def _jobs_and_plans(spark, monkeypatch, group, run):
    """(Spark jobs run by `run()` under job group `group`,
    {table: executed plan of the DataFrame written as its snapshot})."""
    from easyner_spark.sinks import checkpoint

    written = {}
    orig = checkpoint.SnapshotTable.overwrite

    def spy(self, df):
        written[self.path.rstrip("/").rsplit("/", 1)[-1]] = df
        return orig(self, df)

    sc = spark.sparkContext
    with monkeypatch.context() as m:
        m.setattr(checkpoint.SnapshotTable, "overwrite", spy)
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    plans = {
        name: df._jdf.queryExecution().executedPlan().toString()
        for name, df in written.items()
    }
    return jobs, plans


@pytest.fixture()
def kg_inputs(pages_df, tmp_path):
    """The fixture pages, dictionary and alias table as files: the
    config shape of a production kg call."""
    from easyner_spark.fixtures import ALIAS, TERMS

    pages = str(tmp_path / "pages")
    pages_df.write.parquet(pages)
    terms = tmp_path / "terms.txt"
    terms.write_text("".join(f"{t}\t{c}\n" for t, c in TERMS), encoding="utf-8")
    alias = tmp_path / "alias.tsv"
    alias.write_text("".join(f"{t}\t{i}\n" for t, i in ALIAS), encoding="utf-8")
    return pages, str(terms), str(alias)


def test_kg_call_budget(spark, kg_inputs, tmp_path, monkeypatch):
    from easyner_spark.cli import run_pipeline

    pages, terms, alias = kg_inputs
    jobs, plans = _jobs_and_plans(spark, monkeypatch, "budget-kg", lambda: run_pipeline(spark, {
        "input": {"pages_path": pages},
        "output_dir": str(tmp_path / "out"),
        "dictionary_path": terms,
        "alias_path": alias,
        "resume": False,
    }))
    assert set(plans) == {"sentences", "mentions", "frequency", "linked", "edges", "nodes"}
    assert jobs == KG_JOBS
    assert PYTHON_NODE.findall(plans["mentions"]) == ["MapInArrow"], plans["mentions"]
    for name in ("linked", "edges", "nodes"):
        assert PYTHON_NODE.findall(plans[name]) == [], (name, plans[name])
    # the splitter and the matcher are narrow maps; NEL shuffles once,
    # for the primary-alias rollup, and broadcasts its result
    for name, n in (("sentences", 0), ("mentions", 0), ("linked", 1)):
        assert len(re.findall(r"\bExchange\b", plans[name])) == n, (name, plans[name])
    assert len(re.findall(r"\bBroadcastExchange\b", plans["linked"])) == 1, plans["linked"]
    # one shuffle to cluster the triples by url, one for the edge rollup
    assert len(re.findall(r"\bExchange hashpartitioning", plans["edges"])) == 2, plans["edges"]
    # the pairs come from generators, not from interpreted lambda functions
    assert "lambdafunction" not in plans["edges"], plans["edges"]
    # the bounded edge list is collected once: no canonicalization shuffle
    assert "Exchange" not in plans["nodes"], plans["nodes"]


def test_curate_call_budget(spark, kg_inputs, tmp_path, monkeypatch):
    from easyner_spark.cli import run_curation

    pages, _, _ = kg_inputs
    jobs, plans = _jobs_and_plans(spark, monkeypatch, "budget-curate", lambda: run_curation(spark, {
        "input": {"pages_path": pages},
        "output_dir": str(tmp_path / "out"),
        "resume": False,
        "curation": {"gopher": {"min_words": 3, "min_stop_hits": 0}, "host_cap": 200},
    }))
    assert set(plans) == {"gated", "corpus"}
    assert jobs == CURATE_JOBS
    # the fixture pages carry text, so neither stage runs Python
    for name in ("gated", "corpus"):
        assert PYTHON_NODE.findall(plans[name]) == [], (name, plans[name])
    # paragraph_dedup's two aggregates, then the host-cap window
    assert len(re.findall(r"\bExchange hashpartitioning", plans["corpus"])) == 3, plans["corpus"]
