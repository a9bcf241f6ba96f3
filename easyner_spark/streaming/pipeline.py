"""Structured Streaming front-end: continuous crawl ingestion.

The reference has no streaming surface — its incremental story is
"re-run the missing batch files" (scripts/util.py:7-18, README.md:73).
Here the same pipeline becomes a Structured Streaming job over the
pages table's landing directory, with two consumption modes:

  1. `incremental_kg` — the kg job's second driver: foreachBatch walks
     the SAME stage list as `cli.run_pipeline` (`cli.kg_stages`, after
     the same `cli.prepare_pages`) and folds each stage into its
     SnapshotTable as the stage declares: sentences/mentions/linked
     merge last-wins on their keys; edges fold ADDITIVELY
     (`SnapshotTable.merge_additive`), so each micro-batch costs one
     shuffle sized to the delta + one sized to the (small) edge
     aggregate, never a reprocess of history. A processed-batch ledger
     makes replayed epochs no-ops — foreachBatch re-delivers the last
     uncommitted batch after a crash, and exactly-once then comes from
     idempotency, the standard Spark recipe. The whole-corpus stages
     (`frequency`, `nodes`) are batch-only.
  2. `windowed_mention_rates` — a native streaming windowed
     aggregation with a watermark on `warc_ts` (late crawl records
     are folded in up to the watermark, then dropped), demonstrating
     the watermark + window path for monitoring-style consumers.

Both reuse the BATCH operators verbatim — split_sentences / dict_ner /
link_entities / extract_triples are stateless row transforms, so the
same code serves `spark.read` and `spark.readStream` (the DataFrame
abstraction is the unification point). No operator forks, and neither
does the kg driver: one stage list, two walks.

Scale notes: file-source listing is driver-side — at real crawl scale
set `maxFilesPerTrigger` to bound micro-batch size, and partition the
landing dir by arrival hour so listing stays cheap. The additive edge
merge assumes a url's page lands wholly in one micro-batch (true for
file sources: a file belongs to exactly one epoch), which keeps
`doc_count` summable without cross-batch distinct state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_pages(
    spark: SparkSession,
    pages_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the crawl landing directory, with the schema its
    parquet files carry, as a batch read of it has: an html-only crawl
    streams without a `text` column, which the kg page prep extracts.
    The directory must hold a file when the stream starts; an empty one
    raises Spark's UNABLE_TO_INFER_SCHEMA."""
    reader = spark.readStream.schema(spark.read.parquet(pages_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


def stream_events(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over an event-log landing directory (parquet files of
    EVENTS shape). Schema is pinned — no streaming inference."""
    from easyner_spark.schemas import EVENTS

    reader = spark.readStream.schema(EVENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


def streaming_sessions(
    events_stream: DataFrame,
    gap: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming gap sessionization: the BATCH operator
    (`operators/events.sessionize`, a session_window groupBy) applied
    unchanged to a stream — session_window is Spark's one aggregation
    whose state can MERGE entries, so late events extend or join
    sessions across micro-batches with no custom state code.

    `watermark` bounds state (sessions whose end falls behind
    max(ts) - watermark finalize and emit in append mode); None runs
    unbounded (complete/update modes — fine for tests and bounded
    replays, not for an infinite stream). Parity with the batch twin is
    pinned in test_streaming; the value-level oracle is the batch
    `sessionize` driver query."""
    from easyner_spark.operators.events import SESSION_GAP, sessionize

    s = events_stream
    if watermark is not None:
        s = s.withWatermark("ts", watermark)
    return sessionize(s, gap=gap if gap is not None else SESSION_GAP)


def windowed_mention_rates(
    pages_stream: DataFrame,
    terms: list[tuple[str, str | None]],
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming windowed aggregate: mentions per (warc_ts window,
    class). Watermark bounds state: windows older than max(warc_ts) -
    watermark are finalized and their state dropped. Append-mode safe.

    Streaming-safe shape: NO self-join back to the sentence row (that
    would be a stream-stream join needing two watermarks) — instead
    `dict_ner` carries the timestamp through its Arrow map onto each
    mention row. One stateful operator total: the windowed aggregation.
    """
    from easyner_spark.operators.ner_dict import dict_ner
    from easyner_spark.operators.splitter import split_sentences

    sents = split_sentences(pages_stream, keep_cols=("warc_ts",))
    return (
        dict_ner(sents, terms, keep_cols=("warc_ts",))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "class")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "class",
            "n_mentions",
        )
    )


def incremental_kg(
    spark: SparkSession,
    cfg: dict,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Continuous pages -> KG job over the landing directory
    `cfg["input"]["pages_path"]`, configured like `cli.run_pipeline`.
    Returns the started StreamingQuery; with available_now the caller
    `awaitTermination()`s to drain the backlog and stop (the
    incremental batch-refresh pattern).

    Each epoch walks `cli.kg_stages` and folds every stage that can be
    folded per micro-batch into its table under `output_dir`; then each
    `standing_queries` entry folds against the cumulative edges, its
    new bindings stamped `first_epoch` = the epoch id — the
    continuous-alert table `standing_<name>` a monitor tails. A config
    whose result depends on the whole corpus (`modules.dedup`,
    `disambiguate_nel`) raises ValueError."""
    from easyner_spark.cli import kg_stages, prepare_pages
    from easyner_spark.sinks.checkpoint import SnapshotTable

    for key, on in (
        ("modules.dedup", cfg.get("modules", {}).get("dedup")),
        ("disambiguate_nel", cfg.get("disambiguate_nel")),
    ):
        if on:
            raise ValueError(f"{key}: depends on the whole corpus, not foldable per micro-batch")
    out_dir = cfg.get("output_dir", "/tmp/easyner_out")
    stages = [s for s in kg_stages(spark, cfg) if s.fold is not None]
    tables = {s.name: SnapshotTable(f"{out_dir}/{s.name}", s.keys) for s in stages}
    ledger_dir = f"{out_dir}/_epochs"
    os.makedirs(ledger_dir, exist_ok=True)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"epoch-{batch_id}")
        if os.path.exists(marker):  # replayed epoch after restart: no-op
            return
        frames = {"pages": prepare_pages(batch_df, cfg)}
        try:
            for stage in stages:
                # each stage feeds its sink and the stages after it:
                # cache it so it is computed once
                df = frames[stage.name] = stage.build(frames, {}).persist()
                table = tables[stage.name]
                if stage.fold == "sum":
                    # the ONLY non-idempotent merge: the epoch id is
                    # committed atomically with the edges snapshot, so a
                    # crash between this commit and the marker write
                    # cannot double-count on replay (the last-wins merges
                    # are replay-safe by construction)
                    table.merge_additive(df, sum_cols=["support", "doc_count"], epoch=batch_id)
                else:
                    table.merge(df)
                table.expire_snapshots(keep_last=2)
            if "edges" in tables:
                # replay-safe: re-folding an epoch rewrites the identical
                # binding rows (keyed last-wins)
                fold_standing_queries(spark, cfg, tables["edges"], epoch=batch_id)
        finally:
            for name, df in frames.items():
                if name != "pages":
                    df.unpersist()
        with open(marker, "w") as f:  # commit the epoch last
            f.write("done")

    writer = (
        stream_pages(spark, cfg["input"]["pages_path"], max_files_per_trigger)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_first_seen(
    stream: DataFrame,
    key_col: str = "content_hash",
    payload_cols: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Custom stateful streaming operator (SURVEY §2.11 surface):
    cross-micro-batch exact dedup — emit each key the FIRST time it is
    ever seen, drop every later arrival, via applyInPandasWithState.

    State per key: a single seen-flag (one boolean per distinct key —
    the minimal state for streaming exact dedup; at web scale the same
    shape runs with RocksDB state store + watermark-based state TTL).
    Grouping shuffles on the key, so a key's arrivals all visit the
    same state partition in arrival order — exactly-once emission under
    Structured Streaming's checkpointed state.

    Output: (key, first payload cols); append mode — each emitted
    row is final (a key never re-emits), so file sinks compose.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    # output types derive from the input stream — hardcoding string
    # would mis-declare long/timestamp keys and break the Arrow convert
    in_fields = {f.name: f for f in stream.schema.fields}
    out_schema = StructType(
        [in_fields[key_col]] + [in_fields[c] for c in payload_cols]
    )
    state_schema = "seen boolean"

    def dedup(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            for _ in pdfs:  # drain; key already emitted in a prior batch
                pass
            return iter(())
        first = None
        for pdf in pdfs:
            if len(pdf) and first is None:
                first = pdf.iloc[0]
        if first is None:
            return iter(())
        state.update((True,))
        row = {key_col: key[0]}
        row.update({c: first[c] for c in payload_cols})
        return iter([pd.DataFrame([row])])

    return (
        stream.select(key_col, *payload_cols)
        .groupBy(key_col)
        .applyInPandasWithState(
            dedup,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_crawl_delta(
    stream: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of webtext.crawl_delta: per-url recrawl change
    detection with cross-micro-batch state — each arriving fetch is
    compared against the LAST fetch of the same url ever seen and
    emitted as {'new','unchanged','changed'} plus the char delta.
    The continuous-monitoring form of the batch operator: an
    incremental KG subscribes to the 'changed' rows and re-NERs only
    those (the batch job re-derives the same set with a full-history
    lag window; this keeps O(1) state per url instead).

    State per url: (last_text_len, last_text_hash) — the hash stands
    in for the text so state stays ~50 bytes/url regardless of page
    size ('unchanged' detection needs equality only; the batch twin's
    docstring makes the same narrow-state recommendation at scale),
    and the timestamp deliberately stays OUT of state: it is only a
    sort key, so the operator works unchanged whether `ts_col` is a
    long or a real timestamp (the input_hint type). sha256 collisions
    are the accepted epsilon, as in dedup.exact_dedup.

    Ordering contract: fetches are processed in `ts_col` order WITHIN
    a micro-batch (explicit sort of the group's rows); ACROSS batches
    the state is whatever was last processed — byte-equal to the batch
    operator whenever arrivals are ts-monotone per url (true for a
    crawl landing dir: recrawls arrive later), documented divergence
    for out-of-order replays (a watermark-buffered variant would
    trade state for retro-ordering).

    Grouping shuffles on url; a url's fetches all visit its state
    partition — same skew story as the batch window (bounded by one
    url's recrawl count per micro-batch).
    """
    import hashlib

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    in_fields = {f.name: f for f in stream.schema.fields}
    out_schema = StructType(
        [
            in_fields[url_col],
            in_fields[ts_col],
            StructField("change", StringType()),
            StructField("delta_chars", LongType()),
        ]
    )
    state_schema = "last_len long, last_hash string"

    def track(key, pdfs, state: GroupState):
        import pandas as pd

        rows = [pdf for pdf in pdfs if len(pdf)]
        if not rows:
            return iter(())
        batch = pd.concat(rows).sort_values(ts_col, kind="mergesort")
        if state.exists:
            last_len, last_hash = state.get
        else:
            last_len, last_hash = None, None
        # vectorized: each fetch compares against the row above
        # (shift), with the cross-batch state prepended as row -1; the
        # only per-row work is the sha256 map — no iterrows, so a hot
        # url's million-recrawl micro-batch stays columnar. Null text
        # (failed extraction) hashes as '' — same contract as the
        # batch twin's coalesce.
        import numpy as np

        texts = batch[text_col].fillna("")
        lens = texts.str.len().astype("int64")
        hashes = texts.map(lambda t: hashlib.sha256(t.encode()).hexdigest())
        prev_h = hashes.shift(1)
        prev_l = lens.shift(1)
        if last_hash is not None:
            prev_h.iloc[0] = last_hash
            prev_l.iloc[0] = last_len
        is_new = prev_h.isna().to_numpy()
        same = (prev_h == hashes).to_numpy() & ~is_new
        out = pd.DataFrame(
            {
                url_col: key[0],
                ts_col: batch[ts_col].to_numpy(),
                "change": np.where(
                    is_new, "new", np.where(same, "unchanged", "changed")
                ),
                "delta_chars": np.where(
                    is_new | same, 0, lens.to_numpy() - prev_l.fillna(0).to_numpy()
                ).astype("int64"),
            }
        )
        state.update((int(lens.iloc[-1]), hashes.iloc[-1]))
        return iter([out])

    return (
        stream.select(url_col, ts_col, text_col)
        .groupBy(url_col)
        .applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_kmv_distinct(
    stream: DataFrame,
    group_col: str = "host",
    value_col: str = "url",
    k: int = 256,
) -> DataFrame:
    """Streaming twin of sketches.kmv_sketch: a per-group RUNNING
    distinct-cardinality estimate maintained across micro-batches in
    applyInPandasWithState state. State per group is exactly the
    batch sketch — the bottom-k distinct 48-bit md5 hashes (<= k
    BIGINTs, bounded forever, no TTL needed) — and the estimate
    applies the IDENTICAL integer floor inversion, so after any
    sequence of micro-batches the emitted figure equals what the
    batch operator computes on the union of all arrivals (pinned by
    tests/test_streaming.py against kmv_sketch).

    Emits one changelog row per (group, micro-batch that touched it):
    (group, update_seq, n_min, estimate); append mode so file sinks
    compose — readers take the max-update_seq row per group for the
    current figure (the monotone seq comes from state, not wall
    clock, so replays reproduce it).
    """
    import hashlib

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    kmv_space = 1 << 48
    in_fields = {f.name: f for f in stream.schema.fields}
    out_schema = StructType(
        [
            in_fields[group_col],
            StructField("update_seq", LongType()),
            StructField("n_min", LongType()),
            StructField("estimate", LongType()),
        ]
    )
    state_schema = "sketch array<bigint>, seq bigint"

    def upd(key, pdfs, state: GroupState):
        import pandas as pd

        cur, seq = (
            (set(state.get[0]), int(state.get[1]))
            if state.exists
            else (set(), 0)
        )
        for pdf in pdfs:
            for v in pdf[value_col]:
                # the batch operator hashes CAST(value AS STRING); md5
                # of the same bytes keeps stream == batch bit-parity
                h = int(
                    hashlib.md5(str(v).encode("utf-8")).hexdigest()[:12], 16
                )
                cur.add(h)
        sketch = sorted(cur)[:k]
        seq += 1
        state.update((sketch, seq))
        n_min = len(sketch)
        est = n_min if n_min < k else ((k - 1) * kmv_space) // max(sketch[-1], 1)
        return iter(
            [
                pd.DataFrame(
                    [
                        {
                            group_col: key[0],
                            "update_seq": seq,
                            "n_min": n_min,
                            "estimate": est,
                        }
                    ]
                )
            ]
        )

    return (
        # NULL values carry no identity (the batch twin's contract);
        # unfiltered they would hash as the string 'None'/'nan' and
        # diverge from kmv_sketch
        stream.where(F.col(value_col).isNotNull())
        .select(group_col, value_col)
        .groupBy(group_col)
        .applyInPandasWithState(
            upd,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def fold_standing_query(
    spark: SparkSession,
    edges_table,
    matches_table,
    patterns: list,
    epoch: int,
) -> int:
    """One epoch's maintenance of a STANDING conjunctive query over
    the incremental KG: run `patterns` (match_patterns, set
    semantics) against the CURRENT cumulative edge snapshot,
    anti-join the bindings already emitted, and merge the new ones
    into `matches_table` stamped `first_epoch = epoch`. Returns the
    number of new bindings — the alert count for this epoch.

    Call it inside incremental_kg's foreachBatch right after the edge
    fold (same epoch id), or from any batch refresh loop. Replay
    safety: the merge is keyed last-wins on the binding variables, so
    re-folding an epoch rewrites identical rows (idempotent) — the
    same argument as the sentences/mentions merges; and because a
    binding, once emitted, is anti-joined away forever, first_epoch
    never moves (the no-retraction monotonicity the batch twin
    triples.match_patterns_when derives analytically — its
    first_epoch equals this fold's whenever triples arrive in epoch
    order, which the batch-vs-streaming parity test pins).

    Scale: one pattern-join pass over the edge snapshot per epoch
    (the cost a monitor pays anyway) + one anti-join against the
    matches table keyed on the binding tuple.
    """
    from easyner_spark.operators.triples import match_patterns

    edges = edges_table.read(spark)
    m = match_patterns(edges, patterns, distinct=True)
    var_cols = list(m.columns)
    if matches_table.current_snapshot() is not None:
        existing = matches_table.read(spark).select(*var_cols)
        m = m.join(existing, var_cols, "left_anti")
    new = m.withColumn("first_epoch", F.lit(epoch).cast("long"))
    new = new.localCheckpoint(eager=True)
    n = new.count()
    if n:
        matches_table.merge(new)
    return n


def fold_standing_queries(
    spark: SparkSession, cfg: dict, edges_table, epoch: int
) -> dict[str, int]:
    """Fold each `cfg["standing_queries"]` entry ({"name", "patterns"})
    into its table `<output_dir>/standing_<name>` with
    :func:`fold_standing_query`; returns {standing_<name>: new
    bindings}. Both kg drivers call it after their edge commit."""
    from easyner_spark.operators.triples import _pattern_vars
    from easyner_spark.sinks.checkpoint import SnapshotTable

    out_dir = cfg.get("output_dir", "/tmp/easyner_out")
    counts = {}
    for sq in cfg.get("standing_queries", []):
        pats = [tuple(p) for p in sq["patterns"]]
        name = f"standing_{sq['name']}"
        table = SnapshotTable(f"{out_dir}/{name}", _pattern_vars(pats))
        counts[name] = fold_standing_query(spark, edges_table, table, pats, epoch=epoch)
        table.expire_snapshots(keep_last=2)
    return counts
