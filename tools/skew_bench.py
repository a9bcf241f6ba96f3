#!/usr/bin/env python
"""Skew-stress tier (VERDICT r1 next-step #8): deliberately hot host +
hot mention, salted vs unsalted plans, measured.

Corpus: a cached synthetic pages corpus (fixtures.generate Zipf hosts),
skew-amplified at load time by a deterministic projection — ~30% of
mention rows are remapped to ONE mention surface ('covid') on ONE host
('hot.example.com'), the worst case the north_rule's "URL-host skew via
salted repartitioning and AQE skew-join splitting" clause is about.

Contenders (median of N timed runs after a warm run, noop-write forced):
  rollup_unsalted    entity_frequency: one groupBy(mention) w/ partial
                     aggs + countDistinct expand — the hot mention's
                     (mention, url) groups land on one reducer
  rollup_salted      entity_frequency_skew_resistant: 3-phase salted
  nel_bcast          link_entities default: broadcast join (the engine
                     default — skew-immune because there is no reducer)
  nel_shuffle        shuffle join on term, broadcast disabled (the
                     oversized-dictionary scenario): hot term -> one
                     reducer
  nel_shuffle_salted link_entities(salt_buckets=32), broadcast disabled

Prints one JSON line; paste the table into BASELINE.md.

Usage: SKEW_PAGES=600000 SKEW_CPUS=32 SKEW_REPEAT=3 python tools/skew_bench.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _pages_parquet(spark, n_docs: int) -> str:
    """Materialize the deterministic synthetic pages corpus once."""
    path = f"/tmp/easyner_bench_pages_{n_docs}.parquet"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from easyner_spark.fixtures import generate

        fx = generate(n_docs=n_docs, seed=42, with_gold=False)
        (
            spark.createDataFrame(fx.pages)
            .repartition(32)
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


def main() -> None:
    n_pages = int(os.environ.get("SKEW_PAGES", "600000"))
    cpus = int(os.environ.get("SKEW_CPUS", "32"))
    repeat = int(os.environ.get("SKEW_REPEAT", "3"))

    from easyner_spark.fixtures import ALIAS, TERMS
    from easyner_spark.operators.analysis import (
        entity_frequency,
        entity_frequency_skew_resistant,
    )
    from easyner_spark.operators.nel import link_entities
    from easyner_spark.operators.ner_dict import dict_ner
    from easyner_spark.operators.splitter import split_sentences
    from easyner_spark.session import get_spark

    spark = get_spark(
        "skew_bench",
        cores=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.shuffle.partitions": str(cpus),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # --- materialize the skewed mention table once (cached) -----------
    ments_path = f"/tmp/easyner_skew_mentions_{n_pages}.parquet"
    if not os.path.exists(os.path.join(ments_path, "_SUCCESS")):
        pages = spark.read.parquet(_pages_parquet(spark, n_pages))
        ments = dict_ner(split_sentences(pages), TERMS)
        # deterministic 30% hot spike: one mention surface on one host
        hot = F.pmod(F.xxhash64("url", "sent_idx", "begin"), F.lit(10)) < 3
        skewed = ments.select(
            F.when(
                hot, F.concat(F.lit("https://hot.example.com"), F.expr("substring(url, 9)"))
            ).otherwise(F.col("url")).alias("url"),
            "sent_idx", "begin", "end", "begin_tok", "end_tok",
            F.when(hot, F.lit("covid")).otherwise(F.col("mention")).alias("mention"),
            F.when(hot, F.lit("covid")).otherwise(F.col("mention_lc")).alias("mention_lc"),
            F.when(hot, F.lit("disease")).otherwise(F.col("class")).alias("class"),
        )
        skewed.write.mode("overwrite").parquet(ments_path)
    ments = spark.read.parquet(ments_path)
    alias_df = spark.createDataFrame(ALIAS, "term string, ID string")

    def timed_all(contenders: dict) -> dict:
        """Interleave contenders round-robin (this VM's absolute speed
        drifts ~2x across minutes — BASELINE.md 'Measured scaling
        evidence'; interleaving exposes every contender to the same
        drift). First round is warm-up, then `repeat` timed rounds;
        per-contender median."""
        runs: dict = {k: [] for k in contenders}
        for i in range(repeat + 1):
            for k, fn in contenders.items():
                t0 = time.perf_counter()
                _force(fn())
                dt = time.perf_counter() - t0
                if i > 0:
                    runs[k].append(dt)
        return {k: round(statistics.median(v), 3) for k, v in runs.items()}

    no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

    def with_conf(conf: dict, fn):
        def run():
            for k, v in conf.items():
                spark.conf.set(k, v)
            try:
                return fn()
            finally:
                for k in conf:
                    spark.conf.unset(k)
        return run

    if os.environ.get("SKEW_TIER", "all") in ("all", "host"):
        results = timed_all(
            {
                "rollup_unsalted": lambda: entity_frequency(
                    ments, mention_col="mention_lc"
                ),
                "rollup_salted": lambda: entity_frequency_skew_resistant(
                    ments, mention_col="mention_lc"
                ),
                "nel_bcast": lambda: link_entities(
                    ments, alias_df, keep_unmatched=False
                ),
                "nel_shuffle": with_conf(
                    no_bcast,
                    lambda: ments.join(
                        alias_df.select(F.lower("term").alias("__term"), "ID"),
                        ments["mention_lc"] == F.col("__term"),
                        "inner",
                    ),
                ),
                "nel_shuffle_salted": with_conf(
                    no_bcast,
                    lambda: link_entities(
                        ments, alias_df, keep_unmatched=False, salt_buckets=cpus
                    ),
                ),
            }
        )
        n_ments = ments.count()
        hot_share = ments.where(F.col("mention_lc") == "covid").count() / n_ments
        print(
            json.dumps(
                {
                    "metric": "skew_stress",
                    "pages": n_pages,
                    "mentions": n_ments,
                    "hot_mention_share": round(hot_share, 3),
                    "cpus": cpus,
                    "repeat": repeat,
                    "sec": results,
                }
            )
        )

    # --- paragraph-dedup tier: boilerplate hot paragraph -------------
    # every doc carries the SAME 3 boilerplate paragraphs (~25-45% of
    # all paragraph rows land on 3 sha2 keys). Contenders:
    #   para_agg     shipped paragraph_dedup: min(struct) ALGEBRAIC agg
    #                on the digest — hot keys collapse map-side
    #   para_window  the naive alternative: row_number() over
    #                (partitionBy digest) — every replica of the hot
    #                paragraph shuffles to ONE reducer and sorts there
    if os.environ.get("SKEW_TIER", "all") in ("all", "para"):
        from pyspark.sql.window import Window

        from easyner_spark.operators.dedup import paragraph_dedup

        pages = spark.read.parquet(_pages_parquet(spark, n_pages))
        boiler = (
            "\nsubscribe to our newsletter\ncookie policy applies"
            "\nall rights reserved"
        )
        pdocs = pages.select(
            "url",
            F.concat(
                F.regexp_replace("text", r"\. ", ".\n"), F.lit(boiler)
            ).alias("text"),
        )

        def para_window():
            # full-pipeline equivalent of paragraph_dedup (rebuild AND
            # the totals left-join), differing ONLY in how the first
            # occurrence is picked: row_number window on the digest
            paras = pdocs.select(
                F.col("url"),
                F.posexplode(F.split(F.col("text"), "\n")).alias(
                    "_pidx", "_para"
                ),
            ).withColumn("_pkey", F.sha2(F.col("_para"), 256))
            w = Window.partitionBy("_pkey").orderBy("url", "_pidx")
            kept = paras.withColumn("_rn", F.row_number().over(w)).where(
                F.col("_rn") == 1
            )
            rebuilt = kept.groupBy("url").agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("_pidx").alias("p"),
                                    F.col("_para").alias("t"),
                                )
                            )
                        ),
                        lambda s: s["t"],
                    ),
                    "\n",
                ).alias("text_dedup"),
                F.count(F.lit(1)).alias("n_kept"),
            )
            totals = pdocs.select(
                "url", F.size(F.split(F.col("text"), "\n")).alias("n_paras")
            )
            return totals.join(rebuilt, "url", "left").select(
                "url",
                F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
                "n_paras",
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            )

        para_results = timed_all(
            {
                "para_agg": lambda: paragraph_dedup(pdocs, id_col="url"),
                "para_window": para_window,
            }
        )
        n_paras = pdocs.select(
            F.sum(F.size(F.split("text", "\n")))
        ).collect()[0][0]
        print(
            json.dumps(
                {
                    "metric": "skew_stress_para",
                    "pages": n_pages,
                    "paragraph_rows": int(n_paras),
                    "hot_keys": 3,
                    "hot_share": round(3 * pdocs.count() / n_paras, 3),
                    "cpus": cpus,
                    "repeat": repeat,
                    "sec": para_results,
                }
            )
        )
    if os.environ.get("SKEW_TIER", "all") in ("all", "events"):
        # hot-user sessionization: ONE user owns ~30% of all events
        # (a bot/crawler identity). Both formulations shuffle once on
        # user_id; the question is whether session_window's merging
        # aggregate or the lag+cumsum window pair degrades worse when
        # one partition holds 30% of the rows.
        from pyspark.sql.window import Window

        from easyner_spark.operators.events import (
            SESSION_GAP_US,
            sessionize,
            ts_micros,
        )

        n_events = int(os.environ.get("SKEW_EVENTS", "2000000"))
        ev_path = f"/tmp/easyner_skew_events_{n_events}.parquet"
        if not os.path.exists(os.path.join(ev_path, "_SUCCESS")):
            base = spark.range(n_events).select(
                F.col("id").alias("event_id"),
                F.when(
                    F.pmod(F.xxhash64("id"), F.lit(10)) < 3, F.lit(0)
                ).otherwise(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100000)))
                .alias("user_id"),
                F.timestamp_micros(
                    F.lit(1704067200000000)
                    + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(86400_000_000 * 30))
                ).alias("ts"),
                (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(10000)) / 100.0)
                .alias("value"),
            )
            base.write.mode("overwrite").parquet(ev_path)
        ev = spark.read.parquet(ev_path)

        def sess_lag():
            # the oracle's island formulation as a Spark plan: lag +
            # running sum (two window passes over one user-keyed sort)
            # then the rollup groupBy reusing the same partitioning
            w = Window.partitionBy("user_id").orderBy("ts_us")
            wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            df = ev.select(
                "user_id",
                ts_micros("ts").alias("ts_us"),
                F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            )
            df = df.withColumn(
                "new_s",
                (
                    F.lag("ts_us").over(w).isNull()
                    | (F.col("ts_us") - F.lag("ts_us").over(w) > SESSION_GAP_US)
                ).cast("int"),
            ).withColumn("sidx", F.sum("new_s").over(wrun))
            return df.groupBy("user_id", "sidx").agg(
                F.min("ts_us").alias("session_start_us"),
                (F.max("ts_us") + SESSION_GAP_US).alias("session_end_us"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("value_cents"),
            )

        ev_results = timed_all(
            {
                "sess_window": lambda: sessionize(ev),
                "sess_lag": sess_lag,
            }
        )
        print(
            json.dumps(
                {
                    "metric": "skew_stress_events",
                    "events": n_events,
                    "hot_share": 0.3,
                    "cpus": cpus,
                    "repeat": repeat,
                    "sec": ev_results,
                }
            )
        )
    if os.environ.get("SKEW_TIER", "all") in ("all", "gram"):
        # hot-gram name matching: 30% of entity names share one
        # 7-char suffix ('station'), so ~5 char-3-grams are carried by
        # thousands of names — the inverted-index self-join's bucket
        # for each hot gram grows QUADRATICALLY (the stopword-gram
        # worst case name_similarity_edges' max_df cut exists for).
        # Contenders: exact (max_df=None) vs stopgram-capped.
        from easyner_spark.operators.nel import name_similarity_edges

        n_names = int(os.environ.get("SKEW_NAMES", "10000"))
        hot = F.pmod(F.col("id"), F.lit(10)) < 3
        names = spark.range(n_names).select(
            F.concat(
                F.lit("n"),
                F.substring(F.md5(F.col("id").cast("string")), 1, 6),
                F.when(hot, F.lit("station")).otherwise(
                    F.substring(F.md5(F.col("id").cast("string")), 7, 7)
                ),
            ).alias("name")
        ).localCheckpoint(eager=True)

        gram_results = timed_all(
            {
                "gram_exact": lambda: name_similarity_edges(
                    names, k=3, threshold=0.5
                ),
                "gram_capped": lambda: name_similarity_edges(
                    names, k=3, threshold=0.5, max_df=100
                ),
            }
        )
        print(
            json.dumps(
                {
                    "metric": "skew_stress_gram",
                    "names": n_names,
                    "hot_share": 0.3,
                    "cpus": cpus,
                    "repeat": repeat,
                    "sec": gram_results,
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
