"""Structured Streaming front-end: the streaming kg driver against the
batch one, epoch-replay idempotency, and the watermark + windowed
aggregation path."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from easyner_spark.fixtures import TERMS
from easyner_spark.streaming import incremental_kg, windowed_mention_rates, stream_pages

# the tables both kg drivers write; whole-corpus stages are batch-only
BOTH_DRIVERS = ("sentences", "mentions", "linked", "edges")


@pytest.fixture(scope="module")
def landing(tmp_path_factory, spark, fx, pages_df):
    """The fixture pages landed as two files, one per arrival wave."""
    pages_dir = str(tmp_path_factory.mktemp("stream") / "pages")
    half = len(fx.pages) // 2
    for part in (fx.pages.iloc[:half], fx.pages.iloc[half:]):
        spark.createDataFrame(part, schema=pages_df.schema).coalesce(1).write.mode(
            "append"
        ).parquet(pages_dir)
    return {"pages_dir": pages_dir}


def _drain(q):
    q.awaitTermination(300)


def _table(out_dir, name):
    from easyner_spark.sinks.checkpoint import SnapshotTable

    return SnapshotTable(f"{out_dir}/{name}", [])


def _rows(spark, out_dir, name):
    df = _table(out_dir, name).read(spark)
    cols = sorted(df.columns)
    return df.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)


def _waves(spark, fx, pages_df, n, drop=()):
    """The fixture pages cut into `n` arrival waves."""
    step = -(-len(fx.pages) // n)
    return [
        spark.createDataFrame(fx.pages.iloc[i:i + step], schema=pages_df.schema).drop(*drop)
        for i in range(0, len(fx.pages), step)
    ]


def _assert_drivers_agree(spark, tmp_path, waves, cfg):
    """Land `waves` one file at a time, draining incremental_kg after
    each, then run run_pipeline on the same directory and config: every
    table both drivers write holds the same rows, and the streaming
    driver kept at most two snapshots of each. Returns the streaming
    driver's config."""
    from easyner_spark.cli import run_pipeline

    pages = str(tmp_path / "pages")
    stream = {**cfg, "input": {"pages_path": pages}, "output_dir": str(tmp_path / "stream")}
    for wave in waves:
        wave.coalesce(1).write.mode("append").parquet(pages)
        _drain(incremental_kg(spark, stream, str(tmp_path / "cp")))
    batch = {**stream, "output_dir": str(tmp_path / "batch"), "resume": False}
    counts = run_pipeline(spark, batch)
    for name in BOTH_DRIVERS:
        got = _rows(spark, stream["output_dir"], name)
        assert len(got) == counts[name], name
        pd.testing.assert_frame_equal(got, _rows(spark, batch["output_dir"], name), obj=name)
        assert len(_table(stream["output_dir"], name).history()) <= 2, name
    return stream, counts


class TestIncrementalKG:
    def test_two_wave_equivalence_and_replay(self, spark, fx, pages_df, tmp_path):
        """html-only pages in two waves: the streaming driver extracts
        the text like the batch one, and a drain with no new files
        changes no snapshot."""
        stream, counts = _assert_drivers_agree(
            spark, tmp_path, _waves(spark, fx, pages_df, 2, drop=("text",)), {}
        )
        assert counts["edges"] > 0
        edges = _table(stream["output_dir"], "edges")
        snap_before = edges.current_snapshot()
        _drain(incremental_kg(spark, stream, str(tmp_path / "cp")))
        assert edges.current_snapshot() == snap_before

    def test_configured_lang(self, spark, fx, pages_df, tmp_path):
        """The streaming driver keeps the configured language's pages
        only, like the batch one (three waves)."""
        _, counts = _assert_drivers_agree(spark, tmp_path, _waves(spark, fx, pages_df, 3), {"lang": "de"})
        assert counts["edges"] > 0

    @pytest.mark.parametrize(
        "key, cfg",
        [("modules.dedup", {"modules": {"dedup": True}}),
         ("disambiguate_nel", {"disambiguate_nel": True})],
    )
    def test_whole_corpus_config_raises(self, spark, tmp_path, key, cfg):
        with pytest.raises(ValueError, match=key):
            incremental_kg(
                spark,
                {**cfg, "input": {"pages_path": str(tmp_path / "pages")},
                 "output_dir": str(tmp_path / "out")},
                str(tmp_path / "cp"),
            )


class TestWindowedRates:
    def test_watermark_windowed_counts_match_batch(self, spark, landing, pages_df):
        pages_dir = landing["pages_dir"]  # both waves present by fixture order
        rates = windowed_mention_rates(
            stream_pages(spark, pages_dir), TERMS, window="1 hour", watermark="2 hours"
        )
        q = (
            rates.writeStream.format("memory")
            .queryName("rates")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        got = (
            spark.table("rates")
            .toPandas()
            .sort_values(["window_start", "class"])
            .reset_index(drop=True)
        )
        assert (got["n_mentions"] > 0).all() and len(got) > 2

        # batch oracle: same window aggregation over the static table
        from easyner_spark.operators.ner_dict import dict_ner
        from easyner_spark.operators.splitter import split_sentences

        sents = split_sentences(pages_df, keep_cols=("warc_ts",))
        mentions = dict_ner(sents, TERMS).join(
            sents.select("url", "sent_idx", "warc_ts"), ["url", "sent_idx"]
        )
        want = (
            mentions.groupBy(F.window("warc_ts", "1 hour").alias("w"), "class")
            .agg(F.count(F.lit(1)).alias("n_mentions"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "class",
                "n_mentions",
            )
            .toPandas()
            .sort_values(["window_start", "class"])
            .reset_index(drop=True)
        )
        assert got.equals(want)


class TestStatefulFirstSeen:
    def test_cross_batch_dedup(self, spark, tmp_path):
        """applyInPandasWithState exact dedup: a key arriving in wave 1
        is NEVER re-emitted by wave 2 (checkpointed per-key state),
        and each key's first payload wins."""
        from easyner_spark.streaming import stateful_first_seen

        land = str(tmp_path / "land")
        os.makedirs(land)
        cp = str(tmp_path / "cp")
        out = str(tmp_path / "out")
        schema = "content_hash string, url string"

        def run_wave(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(land)
            stream = (
                spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
            )
            q = (
                stateful_first_seen(stream, "content_hash", ("url",))
                .writeStream.format("parquet")
                .outputMode("append")
                .option("checkpointLocation", cp)
                .option("path", out)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        run_wave([("h1", "u1"), ("h1", "u1-dup"), ("h2", "u2")])
        run_wave([("h1", "u1-late"), ("h3", "u3")])
        got = {r.content_hash: r.url for r in spark.read.parquet(out).collect()}
        assert set(got) == {"h1", "h2", "h3"}
        # within-batch duplicate order is shuffle-dependent; cross-batch
        # arrival ("u1-late") must ALWAYS lose to wave-1 state
        assert got["h1"] in {"u1", "u1-dup"}
        assert got["h2"] == "u2" and got["h3"] == "u3"


class TestStatefulCrawlDelta:
    def test_matches_batch_crawl_delta_across_batches(self, spark, tmp_path):
        """Streaming per-url change tracking == batch webtext.crawl_delta
        when arrivals are ts-monotone per url (the crawl landing-dir
        case): two waves, url u1 changes then reverts, u2 stays equal,
        u3 appears in wave 2."""
        from easyner_spark.operators.webtext import crawl_delta
        from easyner_spark.streaming import stateful_crawl_delta

        land = str(tmp_path / "land")
        os.makedirs(land)
        cp = str(tmp_path / "cp")
        out = str(tmp_path / "out")
        schema = "url string, warc_ts long, text string"
        wave1 = [("u1", 100, "aaa"), ("u1", 200, "aaab"), ("u2", 100, "zz")]
        # u1's nulls pin the shared null-text contract (null -> '')
        wave2 = [
            ("u1", 300, "aaa"),
            ("u1", 400, None),
            ("u1", 500, None),
            ("u2", 250, "zz"),
            ("u3", 50, "q"),
        ]

        def run_wave(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(land)
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(land)
            )
            q = (
                stateful_crawl_delta(stream)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("checkpointLocation", cp)
                .option("path", out)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        run_wave(wave1)
        run_wave(wave2)
        got = {
            (r.url, r.warc_ts): (r.change, r.delta_chars)
            for r in spark.read.parquet(out).collect()
        }
        batch = spark.createDataFrame(wave1 + wave2, schema)
        want = {
            (r.url, r.warc_ts): (r.change, r.delta_chars)
            for r in crawl_delta(batch).collect()
        }
        assert got == want
        # spot-pin the interesting transitions
        assert got[("u1", 300)] == ("changed", -1)   # revert is a change
        assert got[("u1", 400)] == ("changed", -3)   # text -> null = ''
        assert got[("u1", 500)] == ("unchanged", 0)  # null == null
        assert got[("u2", 250)] == ("unchanged", 0)  # cross-batch equality
        assert got[("u3", 50)] == ("new", 0)

    def test_timestamp_typed_ts_col(self, spark, tmp_path):
        """warc_ts as a REAL timestamp (the input_hint type) — the
        sort key's type must not leak into the stored state."""
        import datetime as dt

        from easyner_spark.streaming import stateful_crawl_delta

        land = str(tmp_path / "land2")
        schema = "url string, warc_ts timestamp, text string"
        t = dt.datetime(2024, 1, 1)
        rows = [
            ("u1", t, "aaa"),
            ("u1", t + dt.timedelta(hours=1), "aaaXY"),
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(land)
        stream = spark.readStream.schema(schema).parquet(land)
        q = (
            stateful_crawl_delta(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "cp2"))
            .option("path", str(tmp_path / "out2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {
            r.warc_ts: (r.change, r.delta_chars)
            for r in spark.read.parquet(str(tmp_path / "out2")).collect()
        }
        assert got == {t: ("new", 0), t + dt.timedelta(hours=1): ("changed", 2)}


class TestStreamingSessions:
    def test_complete_mode_matches_batch(self, spark, tmp_path):
        """The batch sessionize operator applied to readStream: session
        merging across micro-batches (maxFilesPerTrigger=1 forces the
        two waves into separate batches, so user 1's session spanning
        the wave boundary exercises the session-merge state path)."""
        from datetime import datetime, timedelta

        from easyner_spark.operators.events import sessionize
        from easyner_spark.schemas import EVENTS
        from easyner_spark.streaming import stream_events, streaming_sessions

        t0 = datetime(2024, 1, 1)
        m = timedelta(minutes=1)
        wave1 = [
            (0, t0, 1, "view", 1.0, "{}"),
            (1, t0 + 10 * m, 1, "click", 2.0, "{}"),
            (2, t0 + 5 * m, 2, "view", 3.0, "{}"),
        ]
        # user 1's event at +25 min continues the wave-1 session;
        # +120 min starts a new one
        wave2 = [
            (3, t0 + 25 * m, 1, "view", 4.0, "{}"),
            (4, t0 + 120 * m, 1, "view", 5.0, "{}"),
        ]
        events_dir = str(tmp_path / "events")
        os.makedirs(events_dir)
        df1 = spark.createDataFrame(wave1, EVENTS)
        df2 = spark.createDataFrame(wave2, EVENTS)
        df1.coalesce(1).write.mode("append").parquet(events_dir)
        df2.coalesce(1).write.mode("append").parquet(events_dir)

        q = (
            streaming_sessions(
                stream_events(spark, events_dir, max_files_per_trigger=1)
            )
            .writeStream.format("memory")
            .queryName("sessions")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        cols = ["user_id", "session_start_us", "session_end_us",
                "n_events", "value_cents"]
        got = sorted(tuple(r[c] for c in cols)
                     for r in spark.table("sessions").collect())
        want = sorted(tuple(r[c] for c in cols)
                      for r in sessionize(df1.unionByName(df2)).collect())
        assert got == want
        # the cross-wave merge really happened: user 1 has exactly two
        # sessions, the first with 3 events
        u1 = [t for t in got if t[0] == 1]
        assert len(u1) == 2 and u1[0][3] == 3


class TestCurationOpsOnStreams:
    """The zero-shuffle curation operators are stateless projections/
    filters, so the SAME functions must run verbatim on streaming
    DataFrames (batch/stream reuse is an engine contract, not luck).
    Each op streams a small parquet directory through a memory sink
    and must equal its batch output row-for-row."""

    DOCS = [
        (1, "https://blog.example.org/a", "en", "table row scan merge table row"),
        (2, "https://ok.example.com/b", "de", "scan hash merge batch query"),
        (3, "https://ads.net/c", "en", "spark stream window query batch"),
        (4, "https://fine.example.com/d", "fr", "a b c d e f g h i j"),
    ]
    SCHEMA = "doc_id long, url string, lang string, text string"

    @pytest.fixture(scope="class")
    def docs_dir(self, tmp_path_factory, spark):
        d = str(tmp_path_factory.mktemp("curation") / "docs")
        spark.createDataFrame(self.DOCS, self.SCHEMA).write.parquet(d)
        return d

    def _stream_collect(self, spark, docs_dir, op, name):
        src = spark.readStream.schema(self.SCHEMA).parquet(docs_dir)
        q = (
            op(src)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.sql(f"SELECT * FROM {name}").collect()

    def _assert_stream_eq_batch(self, spark, docs_dir, op, name, key):
        got = sorted(self._stream_collect(spark, docs_dir, op, name), key=key)
        want = sorted(op(spark.read.parquet(docs_dir)).collect(), key=key)
        assert got == want
        assert len(got) > 0

    def test_mixture_sample_streams(self, spark, docs_dir):
        from easyner_spark.operators.sampling import mixture_sample

        self._assert_stream_eq_batch(
            spark, docs_dir,
            lambda df: mixture_sample(df, {"en": 1_000_000, "de": 1_000_000}, "lang"),
            "m_mix", lambda r: r["doc_id"],
        )

    def test_chunk_docs_streams(self, spark, docs_dir):
        from easyner_spark.operators.sampling import chunk_docs

        self._assert_stream_eq_batch(
            spark, docs_dir,
            lambda df: chunk_docs(df, max_tokens=4, overlap=1),
            "m_chunk", lambda r: (r["id"], r["chunk_idx"]),
        )

    def test_hashed_linear_streams(self, spark, docs_dir):
        from easyner_spark.operators.scoring import hashed_linear_score

        self._assert_stream_eq_batch(
            spark, docs_dir, hashed_linear_score, "m_qual", lambda r: r["id"],
        )


class TestStatefulKmvDistinct:
    def test_running_estimate_matches_batch_sketch(self, spark, tmp_path):
        """Streaming per-host KMV distinct across two waves: after each
        group's last update the estimate equals the BATCH kmv_sketch on
        the union of every arrival so far (state IS the batch sketch)."""
        from easyner_spark.operators.sketches import kmv_sketch
        from easyner_spark.streaming import stateful_kmv_distinct

        land = str(tmp_path / "land")
        os.makedirs(land)
        cp = str(tmp_path / "cp")
        out = str(tmp_path / "out")
        schema = "host string, url string"
        wave1 = [("h1", f"u{i % 7}") for i in range(20)] + [("h2", "x")]
        wave2 = [("h1", f"u{i % 11}") for i in range(30)] + [("h3", "y")]

        def run_wave(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(land)
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(land)
            )
            q = (
                stateful_kmv_distinct(stream, "host", "url", k=8)
                .writeStream.format("parquet")
                .outputMode("append")
                .option("checkpointLocation", cp)
                .option("path", out)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        run_wave(wave1)
        run_wave(wave2)
        # changelog: take each host's max-seq row
        rows = spark.read.parquet(out).collect()
        final = {}
        for r in rows:
            if r.host not in final or r.update_seq > final[r.host].update_seq:
                final[r.host] = r
        batch = {
            r.host: r
            for r in kmv_sketch(
                spark.createDataFrame(wave1 + wave2, schema),
                "url",
                ["host"],
                k=8,
            ).collect()
        }
        assert set(final) == set(batch) == {"h1", "h2", "h3"}
        for h in batch:
            assert final[h].n_min == batch[h].n_min
            assert final[h].estimate == batch[h].estimate
        # h1 exceeded k=8 distinct urls (11): estimate regime, its
        # figure is the inversion, not the raw count
        assert final["h1"].n_min == 8
        # h2/h3 exact regime
        assert final["h2"].estimate == 1 and final["h3"].estimate == 1


def test_standing_query_fold_matches_batch_twin(spark, tmp_path):
    """Two epoch folds of fold_standing_query == match_patterns_when
    over the epoch-stamped union (monotone arrivals)."""
    from easyner_spark.operators.triples import match_patterns_when
    from easyner_spark.sinks.checkpoint import SnapshotTable
    from easyner_spark.streaming.pipeline import fold_standing_query

    pats = [("?x", "inhibits", "?y"), ("?y", "binds", "?z")]
    e1 = [("a", "inhibits", "b"), ("q", "binds", "c")]
    e2 = [("b", "binds", "c"), ("a", "inhibits", "q")]

    edges_t = SnapshotTable(
        str(tmp_path / "edges"), ["subj_id", "pred", "obj_id"]
    )
    matches_t = SnapshotTable(str(tmp_path / "matches"), ["x", "y", "z"])

    def df(rows):
        return spark.createDataFrame(
            rows, "subj_id string, pred string, obj_id string"
        )

    edges_t.merge(df(e1))
    n1 = fold_standing_query(spark, edges_t, matches_t, pats, epoch=1)
    assert n1 == 0  # no chain complete yet
    edges_t.merge(df(e2))
    n2 = fold_standing_query(spark, edges_t, matches_t, pats, epoch=2)
    assert n2 == 2  # (a,b,c) and (a,q,c) both complete at epoch 2

    got = sorted(
        tuple(r) for r in matches_t.read(spark)
        .select("x", "y", "z", "first_epoch").collect()
    )
    stamped = df(e1).withColumn("epoch", F.lit(1)).unionByName(
        df(e2).withColumn("epoch", F.lit(2))
    )
    want = sorted(
        tuple(r) for r in match_patterns_when(stamped, pats).collect()
    )
    assert got == want

    # replay of epoch 2 is a no-op (idempotent maintenance)
    n2b = fold_standing_query(spark, edges_t, matches_t, pats, epoch=2)
    assert n2b == 0
    assert matches_t.read(spark).count() == 2


def test_incremental_kg_standing_patterns(spark, pages_df, tmp_path):
    """incremental_kg with a configured standing query: its table
    equals a fresh batch match over the final edges, and every
    first_epoch is a real folded epoch id."""
    from easyner_spark.operators.triples import match_patterns

    pages_dir = str(tmp_path / "pages")
    pages_df.coalesce(1).write.parquet(pages_dir)
    pats = [["?x", "co_occurs_with", "?y"]]
    out_dir = str(tmp_path / "out")
    cfg = {
        "input": {"pages_path": pages_dir},
        "output_dir": out_dir,
        "standing_queries": [{"name": "cooc", "patterns": pats}],
    }
    _drain(incremental_kg(spark, cfg, str(tmp_path / "cp")))
    matches = _table(out_dir, "standing_cooc").read(spark).collect()
    got = sorted((r.x, r.y) for r in matches)
    want = sorted(
        tuple(r)
        for r in match_patterns(
            _table(out_dir, "edges").read(spark), [tuple(p) for p in pats], distinct=True
        ).collect()
    )
    assert got == want and got
    epochs = {r.first_epoch for r in matches}
    assert epochs and all(e >= 0 for e in epochs)
