"""Spans around the program's public layer calls, attributed with Spark's
own stage metrics, plus a /proc RSS sampler.

Nothing here changes program code: ``install`` wraps module attributes
from the outside (the CLI imports its operators inside each function,
so a wrapped attribute is what the next call picks up) and returns a
function that restores them. Each span sets its own Spark job group,
so after a call every job in the status store maps to the innermost
span that started it; a span's self time is its duration minus what its
child spans cover. Spans stay in memory until the caller writes them.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

# SnapshotTable name -> layer (module) that computes it. `gated` fuses
# boilerplate extraction into the Gopher gate and `corpus` fuses the
# host cap into paragraph dedup; isolated probes time `boilerplate` and
# `sampling` on their own.
TABLE_LAYER = {
    "sentences": "splitter",
    "mentions": "ner_dict",
    "frequency": "analysis",
    "linked": "nel",
    "edges": "triples",
    "nodes": "components",
    "gated": "textstats",
    "corpus": "dedup",
}
LAYERS = [
    "session", "cli", "splitter", "ner_dict", "analysis", "nel", "triples",
    "components", "boilerplate", "textstats", "dedup", "sampling",
]
# layers timed outside the CLI call (set-up, isolated probes)
OUTSIDE_JOB = ("session", "boilerplate", "sampling")
LAYER_METRICS = {
    "wall_s": "s", "jobs": "count", "cpu_s": "s", "offcpu_s": "s",
    "idle_core_s": "s", "shuffle_bytes": "B", "rows_out": "count", "task_skew": "ratio",
}
PER_LAYER_UNITS = {
    **{f"{lay}.{m}": u for lay in LAYERS for m, u in LAYER_METRICS.items()},
    "all.gc_s": "s",
    "all.spill_bytes": "B",
    "all.failed_tasks": "count",
    "all.jobs": "count",
    "all.shuffle_bytes": "B",
    "all.layer_wall_share": "ratio",
    "all.peak_rss_mb": "MB",
    "trace_overhead_s": "s",
}


class Span:
    __slots__ = ("sid", "name", "layer", "parent", "t0", "t1", "group", "rows_out", "children")

    def __init__(self, sid, name, layer, parent, group):
        self.sid, self.name, self.layer, self.parent = sid, name, layer, parent
        self.group, self.t0, self.t1 = group, time.perf_counter(), None
        self.rows_out = 0
        self.children: list[Span] = []

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    def self_time(self) -> float:
        """Duration minus the children's durations (children run one
        after another on the calling thread, so they never overlap)."""
        return self.wall - sum(c.wall for c in self.children)


class Tracer:
    def __init__(self, sc, prefix: str):
        self.sc, self.prefix = sc, prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str | None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, parent, f"{self.prefix}-{len(self.spans)}")
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)


def install(tracer: Tracer):
    """Wrap the layer entry points; returns the undo function."""
    import pyspark.sql.classic.dataframe as classic_df

    from easyner_spark.operators import components
    from easyner_spark.sinks import checkpoint

    saved = []

    def wrap(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def overwrite(orig):
        def traced(self, df):
            name = os.path.basename(self.path)
            with tracer.span(name, TABLE_LAYER.get(name, name)) as sp:
                snap = orig(self, df)
            sp.rows_out = parquet_rows(self._snap_dir(snap))
            return snap

        return traced

    def count(orig):
        def traced(self):
            if sys._getframe(1).f_globals.get("__name__") != "easyner_spark.cli":
                return orig(self)
            with tracer.span("count", "cli"):
                return orig(self)

        return traced

    def connected_components(orig):
        def traced(*a, **kw):
            with tracer.span("connected_components", "components"):
                return orig(*a, **kw)

        return traced

    wrap(checkpoint.SnapshotTable, "overwrite", overwrite)
    wrap(classic_df.DataFrame, "count", count)
    wrap(components, "connected_components", connected_components)

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return undo


def parquet_rows(path: str) -> int:
    """Row count from the parquet footers under `path` (no Spark job)."""
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


# -- status-store harvest ---------------------------------------------------


def _zero() -> dict:
    return {"jobs": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_bytes": 0,
            "spill_bytes": 0, "failed_tasks": 0, "stages": []}


def _seq(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def stage_metrics(sc, groups: set[str]) -> dict[str, dict]:
    """{job group: {jobs, run_ms, cpu_ns, gc_ms, shuffle_bytes, spill_bytes,
    failed_tasks, stages: [(run_ms, stage_id, attempt)]}} for every job in
    the status store whose group is in `groups`. Skipped stages (shuffle
    output reused from an earlier job) carry no work and are left out."""
    jsc, jvm = sc._jsc.sc(), sc._jvm
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for job in _seq(jvm, store.jobsList(None)):
        grp = job.jobGroup()
        g = grp.get() if grp.isDefined() else None
        if g not in groups:
            continue
        acc = out.setdefault(g, _zero())
        acc["jobs"] += 1
        for sid in _seq(jvm, job.stageIds()):
            if sid in seen:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: a skipped stage has no attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            acc["run_ms"] += st.executorRunTime()
            acc["cpu_ns"] += st.executorCpuTime()
            acc["gc_ms"] += st.jvmGcTime()
            acc["shuffle_bytes"] += st.shuffleWriteBytes()
            acc["spill_bytes"] += st.diskBytesSpilled()
            acc["failed_tasks"] += st.numFailedTasks()
            acc["stages"].append((st.executorRunTime(), sid, st.attemptId()))
    return out


def task_skew(sc, stage_id: int, attempt: int) -> float:
    """max / median task run time of one stage attempt."""
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    dist = sc._jsc.sc().statusStore().taskSummary(stage_id, attempt, q)
    if not dist.isDefined():
        return 1.0
    med, mx = _seq(sc._jvm, dist.get().executorRunTime())
    return mx / max(med, 1.0)


def layer_report(sc, tracer: Tracer, roots: list[Span], cores: int) -> dict[str, float]:
    """Per-layer and whole-job metrics for the spans under `roots`."""
    spans = [s for s in tracer.spans if any(_under(s, r) for r in roots)]
    stats = stage_metrics(sc, {s.group for s in spans})
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        st = [stats.get(s.group) or _zero() for s in mine]
        wall = sum(s.self_time() for s in mine)
        run_s = sum(x["run_ms"] for x in st) / 1e3
        cpu_s = sum(x["cpu_ns"] for x in st) / 1e9
        stages = [t for x in st for t in x["stages"]]
        out.update({
            f"{layer}.wall_s": wall,
            f"{layer}.jobs": sum(x["jobs"] for x in st),
            f"{layer}.cpu_s": cpu_s,
            f"{layer}.offcpu_s": run_s - cpu_s,
            f"{layer}.idle_core_s": wall * cores - run_s if mine else 0.0,
            f"{layer}.shuffle_bytes": sum(x["shuffle_bytes"] for x in st),
            f"{layer}.rows_out": sum(s.rows_out for s in mine),
            f"{layer}.task_skew": task_skew(sc, *max(stages)[1:]) if stages else 0.0,
        })
    every = list(stats.values())
    out.update({
        "all.gc_s": sum(x["gc_ms"] for x in every) / 1e3,
        "all.spill_bytes": sum(x["spill_bytes"] for x in every),
        "all.failed_tasks": sum(x["failed_tasks"] for x in every),
        "all.jobs": sum(x["jobs"] for x in every),
        "all.shuffle_bytes": sum(x["shuffle_bytes"] for x in every),
    })
    return out


def _under(s: Span, root: Span) -> bool:
    while s is not None:
        if s is root:
            return True
        s = s.parent
    return False


def medians(reports: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in reports) for k in reports[0]}


def spans_json(tracer: Tracer) -> list[dict]:
    return [
        {"id": s.sid, "name": s.name, "layer": s.layer,
         "parent": None if s.parent is None else s.parent.sid,
         "start": s.t0, "end": s.t1, "self_s": s.self_time(), "rows_out": s.rows_out}
        for s in tracer.spans
    ]


# -- memory ---------------------------------------------------------------


class RssSampler:
    """Peak summed RSS of every descendant of this process (the Spark
    JVM and its Python workers), sampled from /proc while enabled."""

    def __init__(self, interval: float = 0.1):
        self.interval, self.peak_kb = interval, 0
        self._lock = threading.Lock()  # the sampler thread and sampling() both update peak_kb
        self._on = threading.Event()
        self._stop = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> int:
        kids: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(d)
            kids.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * self._page_kb
        total, todo = 0, list(kids.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(kids.get(pid, []))
        return total

    def _record(self) -> None:
        kb = self._sample()
        with self._lock:
            self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.2):
                self._record()
                time.sleep(self.interval)

    @contextmanager
    def sampling(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._record()

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)
