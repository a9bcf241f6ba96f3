"""Benchmark of the shipped CLI jobs in kg and curate mode.

    python3 perfbench/run.py --workload kg_wide --seed 1 --seconds 20 --trace 0

One process, one client, closed loop: the next job call starts only
after the previous one has returned and its output has been checked.
Spark runs as local[nproc] with the program's own session defaults.
Each run:

1. starts the session (`get_spark` + one trivial job) and reports the
   time from process start as ``setup_s``;
2. generates the seeded inputs (cached under ``.perfbench_work``),
   outside every metric;
3. makes untimed warm-up calls, then calls the job on a fresh output
   directory with ``resume=False`` until ``--seconds`` have been
   measured, checking every call's output.

``--trace 0`` prints the end-to-end metrics (medians over the timed
calls). ``--trace 1`` alternates untraced and traced calls and prints
per-layer metrics from the traced ones (see spans.py); their spans are
written to ``.perfbench_work/trace-<workload>-s<seed>.json``.
The last stdout line is one JSON object: correct, attempted, failed,
metrics. The numbers are not comparable with BENCH_r01..r05, which
ran on local[32] and were divided by a control loop.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Input sizes: a warm call takes 4-8 s on 4 cores, so a run (set-up,
# warm-up, timed calls) takes about a minute.
SIZES = {"kg_wide": 10_000, "curate_html": 10_000}
# Calls keep getting faster for about two calls after the first (JIT
# and codegen caches): 7.9, 6.2, 5.3, 5.5, 5.1 s measured on curate_html
# after one warm-up call. So two untimed calls come first, the first
# of them on a 1/20-size input, which warms the same code for less.
SMALL_WARMUP = 20
MIN_CALLS = 2
MIN_TRACED = 2
E2E_UNITS = {"setup_s": "s", "job_s": "s", "pages_per_s": "1/s"}


def since_process_start() -> float:
    """Seconds since this process was started by the kernel (its start
    time is in clock ticks since boot)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(cores: int, trace: bool):
    """get_spark sized to the box, with every file it writes kept
    inside the work directory; returns (spark, setup_s)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        # both the launcher JVM and the Spark JVM; no hsperfdata under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers must import easyner_spark (mapInPandas closures)
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp
    from easyner_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    if trace:
        sc.setJobGroup("pb-session", "session")
    spark.range(1000).count()
    setup_s = since_process_start()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return spark, setup_s


class Job:
    """One workload: prepare inputs, call the CLI job, check its output."""

    def __init__(self, spark, seed: int, size: int):
        self.spark, self.seed, self.size = spark, seed, size

    def prepare(self) -> None:
        """Generate (or reuse) the seeded inputs and their expectations."""
        raise NotImplementedError

    def call(self, out: str) -> dict:
        raise NotImplementedError

    def check(self, out: str, counts: dict) -> list[str]:
        """Problems found in the output of one call (empty = correct)."""
        raise NotImplementedError

    def probe(self, tracer, out: str) -> None:
        """Isolated layer probes after a traced call (none by default)."""


class KgWide(Job):
    def prepare(self) -> None:
        from gen import cached, kg_inputs

        self.dir, self.expect = cached(WORK, "kg_wide", self.seed, self.size, kg_inputs)

    def call(self, out: str) -> dict:
        from easyner_spark import cli

        return cli.run_pipeline(self.spark, {
            "input": {"pages_path": f"{self.dir}/pages"},
            "output_dir": out,
            "dictionary_path": f"{self.dir}/terms.txt",
            "alias_path": f"{self.dir}/alias.tsv",
            "resume": False,
        })

    def check(self, out: str, counts: dict) -> list[str]:
        from gen import row_digest

        e = self.expect
        edges = snapshot_rows(out, "edges", ["subj_id", "pred", "obj_id"])
        nodes = snapshot_rows(out, "nodes", ["node"])
        got = {
            "edges": len(edges),
            "support": sum(r["support"] for r in edges),
            "edges_digest": row_digest(
                (r["subj_id"], r["pred"], r["obj_id"], r["support"], r["doc_count"]) for r in edges
            ),
            "nodes": len(nodes),
            "nodes_digest": row_digest((r["node"], r["component"]) for r in nodes),
        }
        bad = [f"{k}: {got[k]} != {e[k]}" for k in got if got[k] != e[k]]
        if counts.get("edges") != e["edges"]:
            bad.append(f"reported edges {counts.get('edges')} != {e['edges']}")
        return ["kg: " + "; ".join(bad)] if bad else []


class CurateHtml(Job):
    def prepare(self) -> None:
        from gen import cached, curate_inputs

        self.dir, self.expect = cached(WORK, "curate_html", self.seed, self.size, curate_inputs)

    def call(self, out: str) -> dict:
        from easyner_spark import cli
        from gen import HOST_CAP

        return cli.run_curation(self.spark, {
            "input": {"pages_path": f"{self.dir}/crawl"},
            "output_dir": out,
            "resume": False,
            "curation": {"host_cap": HOST_CAP},
        })

    def check(self, out: str, counts: dict) -> list[str]:
        from gen import HOST_CAP, STALE_MARK, host_template, pin, row_digest

        rows = snapshot_rows(out, "corpus", ["url"])
        bad = []
        per_host: dict[str, int] = {}
        templates: dict[str, int] = {}
        for r in rows:
            host = r["url"].split("/")[2]
            per_host[host] = per_host.get(host, 0) + 1
            if STALE_MARK in r["text"]:
                bad.append(f"stale crawl kept: {r['url']}")
            for line in r["text"].split("\n"):
                if line.startswith("hostmark"):
                    templates[line] = templates.get(line, 0) + 1
        bad += [f"host {h} has {n} > {HOST_CAP} rows" for h, n in per_host.items() if n > HOST_CAP]
        bad += [f"template kept {n}x: {t[:12]}" for t, n in templates.items() if n > 1]
        bad += [f"unknown template line {t[:12]}" for t in templates
                if t != host_template(int(t[8:11]))]
        if not rows or counts.get("corpus") != len(rows):
            bad.append(f"corpus rows {len(rows)}, reported {counts.get('corpus')}")
        digest = row_digest((r["url"], r["text"]) for r in rows)
        if digest != pin(self.dir, "corpus", digest):
            bad.append("kept-row digest differs from the first call on this seed")
        return ["curate: " + "; ".join(bad[:5])] if bad else []

    def probe(self, tracer, out: str) -> None:
        """Extraction is fused with the Gopher gate inside `gated`, and
        the host cap with paragraph dedup inside `corpus`: time each on
        its own into a noop sink."""
        from pyspark.sql import functions as F

        from easyner_spark.operators.boilerplate import extract_text
        from easyner_spark.operators.sampling import per_host_cap
        from easyner_spark.operators.webtext import url_parts
        from easyner_spark.sinks.checkpoint import SnapshotTable
        from gen import HOST_CAP

        spark = self.spark
        with tracer.span("extract_text", "boilerplate"):
            pages = spark.read.parquet(f"{self.dir}/crawl")
            extract_text(pages).write.format("noop").mode("overwrite").save()
        gated = SnapshotTable(f"{out}/gated", ["url"]).read(spark)
        with tracer.span("per_host_cap", "sampling"):
            per_host_cap(
                url_parts(gated, keep=True).select("url", "host", F.length("text").alias("sz")),
                cap=HOST_CAP, order_col="sz", id_col="url",
            ).write.format("noop").mode("overwrite").save()


def snapshot_rows(out: str, table: str, keys: list[str]) -> list[dict]:
    """Current snapshot of one output table, read with pyarrow."""
    import pyarrow.parquet as pq

    from easyner_spark.sinks.checkpoint import SnapshotTable

    t = SnapshotTable(f"{out}/{table}", keys)
    if t.current_snapshot() is None:
        return []
    return pq.read_table(t._snap_dir(t.current_snapshot())).to_pylist()


JOBS = {"kg_wide": KgWide, "curate_html": CurateHtml}


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait for it; its Python workers exit with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(JOBS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "easyner_spark", "cli.py")):
        print(f"perfbench: no easyner_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)

    spark, setup_s = start_session(cores, trace)
    import pyspark

    import spans as tr

    sc = spark.sparkContext
    sampler = tr.RssSampler() if trace else None
    size = SIZES[args.workload]
    job = JOBS[args.workload](spark, args.seed, size)
    warmups = [JOBS[args.workload](spark, args.seed, size // SMALL_WARMUP), job]
    tracer = tr.Tracer(sc, f"pb-{args.seed}")
    times: dict[bool, list[float]] = {False: [], True: []}
    reports: list[dict] = []
    attempted = failed = 0
    measured = 0.0
    try:
        for j in warmups:
            j.prepare()
        # after the warm-up a traced run goes untraced, traced, traced,
        # untraced, ... so both kinds sit equally late in the warm-up curve
        while measured < args.seconds or len(times[False]) < MIN_CALLS or (
            trace and len(times[True]) < MIN_TRACED
        ):
            if failed > MIN_CALLS:
                break
            warm = attempted < len(warmups)
            this = warmups[attempted] if warm else job
            traced = trace and not warm and (attempted - len(warmups)) % 4 in (1, 2)
            out = os.path.join(WORK, "calls", f"{args.workload}-{attempted}")
            shutil.rmtree(out, ignore_errors=True)
            undo = tr.install(tracer) if traced else None
            t0 = time.perf_counter()
            try:
                with sampler.sampling() if sampler and not warm else contextlib.nullcontext():
                    with tracer.span("job", None) if traced else contextlib.nullcontext() as root:
                        counts = this.call(out)
                dt = time.perf_counter() - t0
                bad = this.check(out, counts)
            except Exception:
                traceback.print_exc()
                dt, bad = time.perf_counter() - t0, ["call raised"]
            finally:
                if undo:
                    undo()
            attempted += 1
            failed += bool(bad)
            for b in bad:
                print(f"perfbench: check failed: {b}", file=sys.stderr)
            if traced and not bad:
                with tracer.span("probes", None) as probe_root:
                    job.probe(tracer, out)
                reports.append(tr.layer_report(sc, tracer, [root, probe_root], cores))
            shutil.rmtree(out, ignore_errors=True)
            if not warm:
                measured += dt
                if not bad:
                    times[traced].append(dt)
        session = tr.stage_metrics(sc, {"pb-session"}).get("pb-session") if trace else None
        session_skew = tr.task_skew(sc, *max(session["stages"])[1:]) if trace else None
    finally:
        if sampler:
            sampler.close()
        stop_session(spark)
    if not times[False] or (trace and not reports):
        print("perfbench: no call succeeded", file=sys.stderr)
        return 1

    env = {
        "workload": args.workload, "seed": args.seed, "nproc": cores,
        "mem_total_kb": meminfo_kb(), "pyspark": pyspark.__version__,
        "size": job.size, "calls": attempted,
        "call_s": {"untraced": times[False], "traced": times[True]},
    }
    print(f"# {json.dumps(env)}")
    job_s = statistics.median(times[False])
    if trace:
        metrics = tr.medians(reports)
        metrics.update({
            "session.wall_s": setup_s,
            "session.jobs": session["jobs"],
            "session.cpu_s": session["cpu_ns"] / 1e9,
            "session.offcpu_s": session["run_ms"] / 1e3 - session["cpu_ns"] / 1e9,
            "session.idle_core_s": setup_s * cores - session["run_ms"] / 1e3,
            "session.task_skew": session_skew,
        })
        traced_s = statistics.median(times[True])
        metrics["trace_overhead_s"] = traced_s - job_s
        metrics["all.peak_rss_mb"] = sampler.peak_kb / 1024
        in_job = [lay for lay in tr.LAYERS if lay not in tr.OUTSIDE_JOB]
        metrics["all.layer_wall_share"] = sum(metrics[f"{x}.wall_s"] for x in in_job) / traced_s
        top = max(in_job, key=lambda x: metrics[f"{x}.wall_s"])
        print(f"# top layer by wall_s: {top} ({metrics[f'{top}.wall_s']:.3f} s of traced job_s "
              f"{traced_s:.3f} s); layer wall_s sum covers {metrics['all.layer_wall_share']:.1%}")
        with open(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"env": env, "spans": tr.spans_json(tracer)}, f)
        units = tr.PER_LAYER_UNITS
    else:
        pages = job.expect["pages"]
        metrics = {"setup_s": setup_s, "job_s": job_s, "pages_per_s": pages / job_s}
        print(f"# {pages} pages per call; error_rate {failed}/{attempted}")
        units = E2E_UNITS
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def meminfo_kb() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
