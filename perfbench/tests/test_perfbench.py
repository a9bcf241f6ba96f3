"""The benchmark's own tests: seeded inputs, output checks, metric names.

    python3 -m pytest perfbench/tests -q

The check tests start one local Spark session and run each job once on
a small input (about a minute on 4 cores); the last test runs the
benchmark command itself.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("build", [gen.kg_inputs, gen.curate_inputs])
def test_same_seed_same_inputs(tmp_path, build):
    a = build(str(tmp_path / "a"), 7, 300)
    b = build(str(tmp_path / "b"), 7, 300)
    c = build(str(tmp_path / "c"), 8, 300)
    assert a == b
    assert gen.tree_digest(str(tmp_path / "a")) == gen.tree_digest(str(tmp_path / "b"))
    assert gen.tree_digest(str(tmp_path / "a")) != gen.tree_digest(str(tmp_path / "c"))


def test_metric_names_match_benchmark_json():
    b = _bench()
    assert set(run.E2E_UNITS) == {m["name"] for m in b["end_to_end"]}
    assert set(spans.PER_LAYER_UNITS) == {m["name"] for m in b["per_layer"]}
    assert set(run.JOBS) == {w["name"] for w in b["workloads"]}
    units = {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}
    assert units == {**run.E2E_UNITS, **spans.PER_LAYER_UNITS}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.WORK = str(tmp_path_factory.mktemp("work"))
    session, _ = run.start_session(2, trace=False)
    yield session
    run.stop_session(session)


def _drop_first_row(out: str, table: str, keys: list[str]) -> None:
    from easyner_spark.sinks.checkpoint import SnapshotTable

    t = SnapshotTable(f"{out}/{table}", keys)
    d = t._snap_dir(t.current_snapshot())
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet") and not f.startswith((".", "_")):
            tbl = pq.read_table(os.path.join(d, f))
            if tbl.num_rows:
                pq.write_table(tbl.slice(1), os.path.join(d, f))
                return
    raise AssertionError(f"{table} has no rows")


def test_kg_check_catches_a_missing_edge(spark, tmp_path):
    job = run.KgWide(spark, 3, 400)
    job.prepare()
    out = str(tmp_path / "kg")
    counts = job.call(out)
    assert job.check(out, counts) == []
    _drop_first_row(out, "edges", ["subj_id", "pred", "obj_id"])
    assert job.check(out, counts) != []


def test_curate_check_catches_a_missing_url(spark, tmp_path):
    job = run.CurateHtml(spark, 3, 600)
    job.prepare()
    out = str(tmp_path / "curate")
    counts = job.call(out)
    assert job.check(out, counts) == []  # pins the kept-row digest
    _drop_first_row(out, "corpus", ["url"])
    counts["corpus"] -= 1
    assert job.check(out, counts) != []


def test_command_prints_only_declared_metrics():
    """A traced run of the real command: its last line carries exactly
    the per-layer metrics BENCHMARK.json declares."""
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate_html",
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    last = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0
    assert set(last["metrics"]) == {m["name"] for m in _bench()["per_layer"]}
    assert "# top layer by wall_s:" in done.stdout
