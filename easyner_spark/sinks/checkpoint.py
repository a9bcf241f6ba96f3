"""Snapshot-checkpointed tables + resumable batch runs with lineage
and metrics (north_rule: "resumable from checkpoint with per-partition
lineage + metrics").

Reference analog: EasyNER's resume story is "re-run the missing file
ranges" over batch-numbered JSONs with last-wins dict merge
(scripts/util.py:7-18; Tutorial-pipeline.md:167). Here that contract
becomes transactional:

  - SnapshotTable: a mini-Iceberg on plain parquet — every commit
    writes a NEW snapshot directory and atomically repoints a _CURRENT
    pointer file (os.replace). Readers always see a complete snapshot;
    a killed writer leaves the previous snapshot live; `rollback()`
    repoints to any retained snapshot. On a real deployment this class
    is swapped for an Iceberg catalog table and `merge()` for
    MERGE INTO — the operator code above it does not change.
  - merge(): keyed last-wins upsert (the reference's dict-merge
    semantics, scripts/util.py:15): new rows win over current rows on
    the key columns, resolved by a window over (key) ordered by
    generation — one shuffle on the key.
  - resumable_run(): drives a stage batch-by-batch (batch = the
    reference's file range, i.e. a coarse unit of work): batches
    already recorded in the lineage table are SKIPPED on re-run;
    each completed batch commits (data, lineage row, per-partition
    metrics rows) so a kill between batches resumes exactly.

Scale notes: the pointer-file commit is O(1) regardless of data size;
merge() shuffles only on the key columns (url-host skew on those keys
is handled upstream by salting/AQE); lineage and metrics tables stay
tiny (one row per batch / per partition) and are safe to read on the
driver.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

_CURRENT = "_CURRENT"

LINEAGE_SCHEMA = (
    "batch_id string, n_rows long, wall_ms long, snapshot long, status string"
)
METRICS_SCHEMA = (
    "batch_id string, partition_id int, n_rows long"
)


class SnapshotTable:
    """Atomic-snapshot parquet table with keyed last-wins merge."""

    def __init__(self, path: str, key_cols: list[str]):
        self.path = path
        self.key_cols = list(key_cols)
        os.makedirs(path, exist_ok=True)

    # -- snapshot pointer management ------------------------------------
    def _read_pointer(self) -> tuple[int, int | None] | None:
        """(snapshot, committed_epoch|None) from the _CURRENT pointer.
        The epoch rides IN the pointer so 'data + epoch' is one atomic
        os.replace — there is no crash window between them."""
        try:
            with open(os.path.join(self.path, _CURRENT), encoding="utf-8") as f:
                raw = f.read().strip()
        except FileNotFoundError:
            return None
        if "," in raw:
            snap_s, epoch_s = raw.split(",", 1)
            return int(snap_s), int(epoch_s)
        return int(raw), None

    def current_snapshot(self) -> int | None:
        ptr = self._read_pointer()
        return None if ptr is None else ptr[0]

    def current_epoch(self) -> int | None:
        """Highest epoch id committed WITH a snapshot (None before the
        first epoch-carrying commit)."""
        ptr = self._read_pointer()
        return None if ptr is None else ptr[1]

    def history(self) -> list[int]:
        return sorted(
            int(d.split("-")[1])
            for d in os.listdir(self.path)
            if d.startswith("snap-") and os.path.isdir(os.path.join(self.path, d))
        )

    def _snap_dir(self, snap: int) -> str:
        return os.path.join(self.path, f"snap-{snap:06d}")

    def _commit(self, snap: int, epoch: int | None = None) -> None:
        # record the epoch alongside the snapshot data too (underscore
        # file: ignored by the parquet reader) so rollback() can restore
        # the epoch that was live WITH that snapshot — carrying the
        # latest epoch onto an older snapshot would make merge_additive
        # silently no-op the replay of the very epochs the rollback just
        # undid, losing their contributions permanently (ADVICE r2)
        snap_dir = self._snap_dir(snap)
        if os.path.isdir(snap_dir):
            tmp_e = os.path.join(snap_dir, f"._epoch.{uuid.uuid4().hex}")
            with open(tmp_e, "w", encoding="utf-8") as f:
                f.write("" if epoch is None else str(epoch))
            os.replace(tmp_e, os.path.join(snap_dir, "_EPOCH"))
        tmp = os.path.join(self.path, f".current.{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(str(snap) if epoch is None else f"{snap},{epoch}")
        os.replace(tmp, os.path.join(self.path, _CURRENT))  # atomic repoint

    def _snap_epoch(self, snap: int) -> int | None:
        """Epoch recorded with snapshot `snap` (None if none/pre-fix)."""
        try:
            with open(
                os.path.join(self._snap_dir(snap), "_EPOCH"), encoding="utf-8"
            ) as f:
                raw = f.read().strip()
        except FileNotFoundError:
            return None
        return int(raw) if raw else None

    def rollback(self, snap: int) -> None:
        """Repoint _CURRENT to a retained snapshot, restoring the epoch
        committed with it — so epochs that arrived after `snap` replay
        through merge_additive instead of being guard-skipped."""
        if snap not in self.history():
            raise ValueError(f"unknown snapshot {snap}; have {self.history()}")
        self._commit(snap, self._snap_epoch(snap))

    # -- data ------------------------------------------------------------
    def read(
        self, spark: SparkSession, schema: StructType | None = None
    ) -> DataFrame | None:
        """The current snapshot, or None before the first commit. Pass
        the `schema` the snapshot was written with to skip the Spark job
        that infers it from the parquet footers."""
        snap = self.current_snapshot()
        if snap is None:
            return None
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self._snap_dir(snap))

    def read_snapshot(self, spark: SparkSession, snap: int) -> DataFrame:
        """Time-travel read: any retained snapshot by id, WITHOUT
        moving the pointer (Iceberg's VERSION AS OF) — the debugging /
        diff read rollback() is too destructive for ("what did the
        edges table look like before epoch 7 merged?"). Compose with
        history() to diff consecutive snapshots."""
        if snap not in self.history():
            raise ValueError(f"unknown snapshot {snap}; have {self.history()}")
        return spark.read.parquet(self._snap_dir(snap))

    def merge(self, df: DataFrame) -> int:
        """Last-wins upsert of df into the table; returns the new
        snapshot id. New rows beat current rows on key_cols."""
        spark = df.sparkSession
        cur = self.read(spark)
        snap = (self.current_snapshot() or 0) + 1
        if cur is None:
            merged = df
        else:
            w = Window.partitionBy(*self.key_cols).orderBy(F.desc("_cp_gen"))
            merged = (
                cur.withColumn("_cp_gen", F.lit(0))
                .unionByName(df.withColumn("_cp_gen", F.lit(1)))
                .withColumn("_cp_rn", F.row_number().over(w))
                .where(F.col("_cp_rn") == 1)
                .drop("_cp_gen", "_cp_rn")
            )
        merged.write.mode("overwrite").parquet(self._snap_dir(snap))
        # carry the replay-protection epoch forward: a last-wins merge
        # on an epoch-carrying table must not erase merge_additive's
        # committed epoch (that would re-open the replay window)
        self._commit(snap, self.current_epoch())
        return snap

    def merge_additive(
        self, df: DataFrame, sum_cols: list[str], epoch: int | None = None
    ) -> int:
        """Additive upsert: union with the current snapshot and re-sum
        `sum_cols` grouped by key_cols (all other columns must be in
        key_cols or sum_cols). The streaming-edges merge primitive —
        microbatch deltas fold into running totals with ONE shuffle on
        the key, sized to the (small) aggregate table, never the input.
        On Iceberg this is MERGE INTO ... UPDATE SET c = t.c + s.c.

        Additive folds are NOT idempotent, so exactly-once under replay
        needs the epoch id committed atomically with the data: pass
        `epoch` and the call becomes a no-op (returning the current
        snapshot) when that epoch is already committed — a crash
        after this commit but before any downstream marker can no
        longer double-count on replay."""
        spark = df.sparkSession
        if epoch is not None:
            done = self.current_epoch()
            if done is not None and done >= epoch:
                return self.current_snapshot()  # replayed epoch: no-op
        cur = self.read(spark)
        snap = (self.current_snapshot() or 0) + 1
        merged = df if cur is None else cur.unionByName(df)
        merged = merged.groupBy(*self.key_cols).agg(
            *[F.sum(c).alias(c) for c in sum_cols]
        )
        merged.write.mode("overwrite").parquet(self._snap_dir(snap))
        self._commit(snap, epoch if epoch is not None else self.current_epoch())
        return snap

    def overwrite(self, df: DataFrame) -> int:
        snap = (self.current_snapshot() or 0) + 1
        df.write.mode("overwrite").parquet(self._snap_dir(snap))
        self._commit(snap, self.current_epoch())
        return snap

    # -- table maintenance -------------------------------------------
    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Iceberg expire_snapshots semantics: physically delete all
        but the newest `keep_last` snapshots — ALWAYS retaining the
        CURRENT snapshot even when a rollback left the pointer on an
        old id (expiring the live snapshot would corrupt the table;
        Iceberg's procedure refuses the same way). Returns the expired
        ids. Time-travel reads and rollback() to an expired id raise
        afterwards — that is the contract's point: retention bounds
        storage at 10^12-document scale, where every snapshot of an
        edges table is the FULL table and an unexpired history is a
        100x storage bill. The pointer file never moves, so a reader
        racing an expiry keeps a complete snapshot either way."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1: {keep_last}")
        hist = self.history()
        cur = self.current_snapshot()
        retain = set(hist[-keep_last:])
        if cur is not None:
            retain.add(cur)
        expired = [s for s in hist if s not in retain]
        for s in expired:
            shutil.rmtree(self._snap_dir(s), ignore_errors=True)
        return expired

    def orphan_files(self) -> list[str]:
        """Crash debris under the table root that no retained snapshot
        or the pointer references: abandoned `.current.*` /
        `._epoch.*` temporaries from a writer killed between write and
        os.replace. Names only — :meth:`remove_orphans` deletes."""
        out = []
        for name in sorted(os.listdir(self.path)):
            if name.startswith((".current.", "._epoch.")):
                out.append(name)
        for snap in self.history():
            d = self._snap_dir(snap)
            for name in sorted(os.listdir(d)):
                if name.startswith("._epoch."):
                    out.append(os.path.join(f"snap-{snap:06d}", name))
        return out

    def remove_orphans(self) -> list[str]:
        """Delete :meth:`orphan_files` (Iceberg remove_orphan_files).
        Safe concurrently with readers: orphans are by definition
        unreferenced."""
        orphans = self.orphan_files()
        for rel in orphans:
            try:
                os.remove(os.path.join(self.path, rel))
            except FileNotFoundError:
                pass
        return orphans


def resumable_run(
    spark: SparkSession,
    inputs: DataFrame,
    batch_col: str,
    process: Callable[[DataFrame], DataFrame],
    table: SnapshotTable,
    lineage: SnapshotTable,
    metrics: SnapshotTable | None = None,
) -> list[str]:
    """Run `process` over `inputs` one batch at a time, committing
    (data, lineage, per-partition metrics) per batch; already-completed
    batches are skipped. Returns the batch ids processed THIS run.

    The per-batch driver loop is intentional: a batch is the unit of
    checkpointing (the reference's file range), coarse by construction
    (hundreds, not millions) — within a batch all parallelism is
    Spark's.
    """
    done: set[str] = set()
    lin = lineage.read(spark)
    if lin is not None:
        done = {r.batch_id for r in lin.where("status = 'done'").select("batch_id").collect()}

    batches = [
        str(r[0])
        for r in inputs.select(batch_col).distinct().orderBy(batch_col).collect()
    ]
    ran: list[str] = []
    for b in batches:
        if b in done:
            continue
        t0 = time.perf_counter()
        # persist the batch output so the metrics collect and the merge
        # read ONE execution of `process` — a non-deterministic process
        # fn cannot commit data its lineage counts don't describe, and
        # the batch doesn't pay double compute (ADVICE r1)
        out = process(inputs.where(F.col(batch_col).cast("string") == b)).persist()
        part_counts = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .select(
                F.lit(b).alias("batch_id"),
                "partition_id",
                F.col("count").alias("n_rows"),
            )
            .collect()
        )
        n_rows = sum(r.n_rows for r in part_counts)
        try:
            snap = table.merge(out)
        finally:
            out.unpersist()
        wall_ms = int((time.perf_counter() - t0) * 1000)
        lineage.merge(
            spark.createDataFrame(
                [(b, n_rows, wall_ms, snap, "done")], LINEAGE_SCHEMA
            )
        )
        if metrics is not None:
            metrics.merge(
                spark.createDataFrame(
                    [(r.batch_id, r.partition_id, r.n_rows) for r in part_counts],
                    METRICS_SCHEMA,
                )
            )
        ran.append(b)
    return ran


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    path_col: str = "path",
    size_col: str = "size_bytes",
) -> DataFrame:
    """Iceberg rewrite-data-files-style compaction planning over a
    file ledger (path, size_bytes): assign each file to a merge group
    such that groups are contiguous in path order and each group's
    input is ~target_bytes — group_id = (bytes before this file, in
    path order) div target_bytes. This is EXACTLY the running-sum
    bucketing of sampling.pack_sequences (reused, not reimplemented —
    same distributed two-pass prefix sum, same SinglePartition-free
    plan); a file larger than target_bytes lands in the group its
    start falls in (planning never splits a file — the rewriter
    copies whole files), so a group containing one can exceed
    target_bytes, like Iceberg's bin-packing with oversized inputs.

    Output: (path, size_bytes, group_id, n_files, group_bytes) — the
    per-group stats ride along so the scheduler can skip singleton
    groups that are already compact (n_files = 1 and group_bytes
    within target). The group-stat join keys on group_id, a BOUNDED
    key set (total_bytes / target_bytes groups).
    """
    from easyner_spark.operators.sampling import pack_sequences

    packed = pack_sequences(
        files.select(path_col, size_col),
        capacity=target_bytes,
        tokens_col=size_col,
        id_col=path_col,
    )
    g = packed.select(
        path_col, size_col, F.col("seq_id").cast("long").alias("group_id")
    )
    stats = g.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(size_col).cast("long").alias("group_bytes"),
    )
    return g.join(stats, "group_id").select(
        path_col, size_col, "group_id", "n_files", "group_bytes"
    )


def compaction_plan_oracle_sql(files_sql: str, target_bytes: int) -> str:
    """DuckDB twin of compaction_plan; `files_sql` must yield
    (path, size_bytes)."""
    return f"""
WITH f AS ({files_sql}),
c AS (
  SELECT path, size_bytes,
         (sum(size_bytes) OVER (ORDER BY path ROWS UNBOUNDED PRECEDING)
          - size_bytes) AS before
  FROM f
),
g AS (SELECT path, size_bytes, before // {target_bytes} AS group_id FROM c)
SELECT path, size_bytes::BIGINT AS size_bytes, group_id::BIGINT AS group_id,
       (count(*) OVER (PARTITION BY group_id))::BIGINT AS n_files,
       (sum(size_bytes) OVER (PARTITION BY group_id))::BIGINT AS group_bytes
FROM g
"""
