"""Config-driven pipeline runner — the spark-submit entry point.

Reference analog: main.py:275-394 reads config.json and runs the
enabled modules in order (the `ignore` map, config.json:5-17, is the
query plan). Same contract here, Spark-native:

    spark-submit --py-files easyner_spark.zip -m easyner_spark.cli \
        --config job.json
    # or locally:
    python -m easyner_spark.cli --config job.json

Config shape (every key optional except one input path):

    {
      "input":  {"pages_path": "/data/pages.parquet"},
                 # or {"pubmed_xml_path": "/data/pubmed/"} — S2 ingest
      "output_dir": "/data/out",
      "modules": {"splitter": true, "ner": true, "analysis": true,
                   "nel": true, "triples": true, "components": true,
                   "dedup": false,   # content-hash duplicate drop
                   "chart": false},  # top-n barchart SVG export
      "dictionary_path": "terms.txt",      # one term per line (+ optional \\tclass)
      "alias_path": "alias.tsv",           # term\\tID
      "lang": "en",
      "resume": true                        # skip stages whose table exists
    }

Each stage materializes a SnapshotTable under output_dir (the
reference's file-per-stage contract, transactional); `resume` skips
completed stages — re-running a failed job picks up where it died.
Without dictionary/alias paths the built-in fixture vocabulary is used
(demo mode).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


def _load_terms(path: str | None) -> list[tuple[str, str | None]]:
    if path is None:
        from easyner_spark.fixtures import TERMS

        return list(TERMS)
    from easyner_spark.operators.ner_dict import load_terms_file

    out = []
    for term, cls in load_terms_file(path):
        if cls is None and "\t" in term:
            term, cls = term.split("\t", 1)
        out.append((term, cls))
    return out


def _load_alias(spark: SparkSession, path: str | None) -> DataFrame:
    if path is None:
        from easyner_spark.fixtures import ALIAS

        return spark.createDataFrame(ALIAS, "term string, ID string")
    # typed and strict: no schema-inferring job, and a line of the wrong
    # width raises instead of loading with a null or truncated field
    return (
        spark.read.schema("term string, ID string")
        .option("sep", "\t")
        .option("mode", "FAILFAST")
        .csv(path)
        .where(F.col("term").isNotNull())
    )


def _materialize(spark: SparkSession, table, df_fn, resume: bool) -> tuple[DataFrame, int]:
    """Write `df_fn()` as `table`'s next snapshot, expire all but the
    last two, and return the snapshot read back and its row count. The
    count rides the write as an Observation, so the stage's plan runs
    once, and the read-back carries the schema just written, so no job
    infers it. Only a resumed stage, whose snapshot already exists, is
    counted by a scan."""
    snap = table.current_snapshot()
    if resume and snap is not None:
        print(f"[skip] {os.path.basename(table.path)}: snapshot {snap} exists")
        df = table.read(spark)
        return df, df.count()
    df = df_fn()
    rows = Observation()
    table.overwrite(df.observe(rows, F.count(F.lit(1)).alias("n")))
    table.expire_snapshots(keep_last=2)
    return table.read(spark, schema=df.schema), rows.get["n"]


class Stage(NamedTuple):
    """One kg stage: the table `name`, keyed on `keys`, that
    `build(frames, counts)` makes from the frames of the stages before
    it (`frames["pages"]` is the prepared input; `counts` holds the
    batch driver's row counts, empty in streaming). `fold` is how the
    streaming driver folds a micro-batch into the table: "merge"
    (keyed last-wins), "sum" (additive on `support`/`doc_count`) or
    None, a whole-corpus stage that only the batch driver runs."""

    name: str
    keys: list[str]
    fold: str | None
    build: Callable[[dict, dict], DataFrame]


def prepare_pages(pages: DataFrame, cfg: dict) -> DataFrame:
    """The page prep both kg drivers run ahead of the stages: the
    `lang` filter, boilerplate extraction and the dedup gate."""
    modules = cfg.get("modules", {})
    # the reference's load-time language drop, ahead of every stage:
    # Catalyst does not push a filter below the extractor's
    # nondeterministic UDF, and the dedup gate must choose each content
    # group's keeper among the kept pages only
    lang = cfg.get("lang", "en")
    if lang is not None and "lang" in pages.columns:
        pages = pages.where(F.col("lang") == lang)

    # Boilerplate stripping (north_star stage 1): forced via
    # modules.extract, or automatic when the crawl has html but no
    # pre-extracted text column. Narrow projection — no snapshot table,
    # it fuses into the splitter stage's scan.
    want_extract = modules.get("extract", "text" not in pages.columns)
    if want_extract and "html" in pages.columns:
        from easyner_spark.operators.boilerplate import extract_text

        pages = (
            extract_text(pages, out_col="__extracted")
            .withColumn("text", F.col("__extracted"))
            .drop("__extracted")
        )

    # exact dedup gate (off by default): drop content-hash duplicates
    # before any downstream stage. Runs AFTER boilerplate extraction so
    # it hashes the text the pipeline actually processes (and works on
    # html-only crawls); one shuffle on the uniform hash key, with the
    # page columns in-row so the extractor runs once.
    if modules.get("dedup"):
        from easyner_spark.operators.dedup import exact_dedup

        pages = (
            exact_dedup(pages, text_col="text", id_col="url")
            .where(~F.col("is_dup"))
            .drop("content_hash", "canonical_id", "is_dup")
        )
    return pages


def kg_stages(spark: SparkSession, cfg: dict) -> list[Stage]:
    """The kg job's stages in run order, as enabled by `modules`: a
    stage runs when its module is on and the stage it reads ran. The
    operators are looked up here, per call, so a wrapper installed on
    their module attribute is seen."""
    from easyner_spark.operators.analysis import entity_frequency
    from easyner_spark.operators.components import connected_components
    from easyner_spark.operators.ner_dict import dict_ner
    from easyner_spark.operators.nel import (
        disambiguate_mentions,
        fuzzy_canonicalize_mentions,
        link_entities,
        primary_alias,
    )
    from easyner_spark.operators.splitter import split_sentences
    from easyner_spark.operators.triples import aggregate_edges, extract_triples

    def linked(f: dict, _n: dict) -> DataFrame:
        raw_alias = _load_alias(spark, cfg.get("alias_path"))
        if cfg.get("disambiguate_nel"):
            # context disambiguation: when one surface maps to SEVERAL
            # alias ids, pick per mention the candidate whose corpus
            # profile (built from unambiguous mentions only) best
            # overlaps the mention's sentence — instead of the exact
            # path's deterministic primary-alias collapse. Unambiguous
            # surfaces pass through unchanged; surfaces absent from
            # the alias table drop (keep_unmatched=False semantics).
            key = ["url", "sent_idx", "begin_tok", "end_tok", "mention_lc"]
            return (
                disambiguate_mentions(f["mentions"], f["sentences"], raw_alias)
                .drop("n_cands", "score")
                # reattach the char spans downstream triple extraction
                # keys on (the disambiguator works in token space)
                .join(f["mentions"].select(*key, "begin", "end"), key)
            )
        if cfg.get("fuzzy_nel"):
            # second-pass canonicalization: surface forms the exact
            # alias join misses remap to the char-gram-closest alias
            # entity (>= fuzzy_threshold), so morphological variants
            # stop fragmenting KG nodes. NOTE the structural contrast
            # with the exact path: exact drops unmatched mentions
            # (keep_unmatched=False); fuzzy keeps EVERY mention —
            # below-threshold ones enter the graph under stable
            # surface:<mention> ids (documented in README)
            thr = float(cfg.get("fuzzy_threshold", 0.6))
            return fuzzy_canonicalize_mentions(f["mentions"], raw_alias, threshold=thr)
        return link_entities(f["mentions"], primary_alias(raw_alias), keep_unmatched=False)

    modules = {
        "splitter": True, "ner": True, "analysis": True,
        "nel": True, "triples": True, "components": True,
        **cfg.get("modules", {}),
    }
    chain = [  # (module, the stage it reads, stage)
        ("splitter", "pages", Stage(
            "sentences", ["url", "sent_idx"], "merge",
            lambda f, _n: split_sentences(f["pages"], lang_filter=None))),
        ("ner", "sentences", Stage(
            "mentions", ["url", "sent_idx", "begin", "end", "class"], "merge",
            lambda f, _n: dict_ner(f["sentences"], _load_terms(cfg.get("dictionary_path"))))),
        ("analysis", "mentions", Stage(
            "frequency", ["mention"], None,
            lambda f, _n: entity_frequency(f["mentions"], mention_col="mention_lc"))),
        ("nel", "mentions", Stage(
            "linked", ["url", "sent_idx", "begin", "end", "class", "entity_id"], "merge", linked)),
        ("triples", "linked", Stage(
            "edges", ["subj_id", "pred", "obj_id"], "sum",
            lambda f, _n: aggregate_edges(extract_triples(f["linked"])))),
        ("components", "edges", Stage(
            "nodes", ["node"], None,
            lambda f, n: connected_components(
                f["edges"], src="subj_id", dst="obj_id", n_edges=n["edges"]))),
    ]
    ran, stages = {"pages"}, []
    for module, reads, stage in chain:
        if modules[module] and reads in ran:
            ran.add(stage.name)
            stages.append(stage)
    return stages


def run_pipeline(spark: SparkSession, cfg: dict) -> dict[str, int]:
    """Run the enabled :func:`kg_stages`; returns {stage: row_count}.

    Each stage writes its snapshot before the next one reads it, except
    the analysis stage (`frequency`, plus the optional chart): it feeds
    no other stage, so it runs on a worker thread beside the
    NEL -> triples -> components chain. An error in it is raised once
    the chain's snapshots are committed."""
    from easyner_spark.sinks.checkpoint import SnapshotTable
    from easyner_spark.streaming.pipeline import fold_standing_queries

    out_dir = cfg.get("output_dir", "/tmp/easyner_out")
    resume = cfg.get("resume", True)
    inp = cfg["input"]
    if "pubmed_xml_path" in inp:
        # the reference's primary real-data ingest (S2): baseline
        # XML[.gz] files -> article table -> canonical pages shape
        from easyner_spark.sources.pubmed import pubmed_bulk_load, pubmed_pages

        pages = (
            pubmed_pages(pubmed_bulk_load(spark, inp["pubmed_xml_path"]))
            .withColumnRenamed("doc_id", "url")
            .withColumn("lang", F.lit(cfg.get("lang", "en")))
        )
    else:
        pages = spark.read.parquet(inp["pages_path"])
    frames = {"pages": prepare_pages(pages, cfg)}
    counts: dict[str, int] = {}

    def run(stage: Stage) -> None:
        table = SnapshotTable(f"{out_dir}/{stage.name}", stage.keys)
        frames[stage.name], counts[stage.name] = _materialize(
            spark, table, lambda: stage.build(frames, counts), resume
        )

    def analysis(stage: Stage) -> None:
        run(stage)
        if cfg.get("modules", {}).get("chart"):
            from easyner_spark.sinks.chart import write_barchart_svg

            write_barchart_svg(
                frames["frequency"], f"{out_dir}/top_entities.svg",
                n=cfg.get("chart_top_n", 50),
            )

    # the worker thread inherits the caller's job group; leaving the
    # `with` block joins it, and `result()` re-raises its error once
    # the chain is committed
    freq_job = None
    with ThreadPoolExecutor(1) as pool:
        for stage in kg_stages(spark, cfg):
            if stage.name == "frequency":
                freq_job = pool.submit(inheritable_thread_target(spark)(analysis), stage)
            else:
                run(stage)

        # standing queries: fold each registered pattern set against the
        # fresh edge snapshot (epoch = the snapshot id, so alerts line up
        # with the resume ledger); idempotent on re-runs by construction
        if "edges" in frames:
            edges = SnapshotTable(f"{out_dir}/edges", [])
            counts.update(fold_standing_queries(
                spark, cfg, edges, epoch=edges.current_snapshot() or 0
            ))

    if freq_job is not None:
        freq_job.result()
    return counts


def run_curation(spark: SparkSession, cfg: dict) -> dict[str, int]:
    """The crawl -> training-corpus pipeline (`--mode curate`, the
    benchmark's `curate_html` workload): boilerplate extraction ->
    Gopher quality flags -> recrawl collapse carrying the flag ->
    keep the flagged survivors -> paragraph dedup -> optional PII
    scrub -> host cap + deterministic sample, materialized as
    resumable SnapshotTables like :func:`run_pipeline`. Returns
    {stage: row_count}.

    Extraction and the Gopher flags run per crawl row, in the scan
    stage at full input parallelism, before the collapse shuffle;
    `latest_crawl` then keeps each url's newest crawl WITH its flag
    (the input's columns first, so ties break exactly as on the raw
    crawl), and the `gopher_keep` filter sits above the aggregate,
    which blocks its push-down. Gating after the collapse instead
    ran both in the collapse's few coalesced reduce tasks, and
    Catalyst pushed the filter below the extractor's projection so
    the pandas UDF ran twice per surviving page. A url whose newest
    crawl fails the gate is dropped; an older crawl never stands in
    for it. Without `warc_ts` there is no collapse, and the extractor
    still runs once: `extract_text`'s UDF is nondeterministic, which
    keeps the filter above its projection.

    Config (all under cfg["curation"], every key optional):

        {"latest": true,                 # collapse recrawls per url
         "gopher": {"min_words": 20},    # kwargs for gopher_filters
         "paragraph_dedup": true,        # CCNet corpus-wide para dedup
         "ppl_keep": ["head", "middle"], # LM perplexity gate (null = off)
         "pii": false,                   # email/IP/phone scrub
         "host_cap": 200,                # max pages per host (null = off)
         "sample_rate": null}            # deterministic md5 gate
    """
    from easyner_spark.operators.textstats import gopher_filters
    from easyner_spark.operators.webtext import latest_crawl, url_parts
    from easyner_spark.sinks.checkpoint import SnapshotTable

    out_dir = cfg.get("output_dir", "/tmp/easyner_out")
    cur = cfg.get("curation", {})
    resume = cfg.get("resume", True)
    tables = {
        "gated": SnapshotTable(f"{out_dir}/gated", ["url"]),
        "corpus": SnapshotTable(f"{out_dir}/corpus", ["url"]),
    }

    pages = spark.read.parquet(cfg["input"]["pages_path"])
    cols = pages.columns
    text_col = "text"
    if cur.get("extract", "text" not in cols) and "html" in cols:
        from easyner_spark.operators.boilerplate import extract_text

        pages = extract_text(pages, out_col="__extracted")
        text_col = "__extracted"

    counts: dict[str, int] = {}

    def gated_df() -> DataFrame:
        flagged = gopher_filters(
            pages, text_col=text_col, id_col="url", keep_cols=tuple(pages.columns),
            **cur.get("gopher", {}),
        ).select(*pages.columns, "gopher_keep")
        if cur.get("latest", "warc_ts" in cols) and "warc_ts" in cols:
            flagged = latest_crawl(flagged)
        return flagged.where(F.col("gopher_keep")).select("url", F.col(text_col).alias("text"))

    gated, counts["gated"] = _materialize(spark, tables["gated"], gated_df, resume)

    def corpus_df() -> DataFrame:
        df = gated
        keep_buckets = cur.get("ppl_keep")
        if keep_buckets:
            # CCNet-style LM gate on the gopher survivors: train the
            # unigram LM on the gated corpus itself, bucket by
            # perplexity terciles, keep e.g. ["head", "middle"]
            from easyner_spark.operators.scoring import ppl_buckets

            keep_ids = (
                ppl_buckets(df, id_col="url")
                .where(F.col("bucket").isin(*keep_buckets))
                .select(F.col("id").alias("url"))
            )
            df = df.join(keep_ids, "url", "left_semi")
        if cur.get("paragraph_dedup", True):
            from easyner_spark.operators.dedup import paragraph_dedup

            df = (
                paragraph_dedup(df, id_col="url")
                .where(F.col("n_kept") > 0)
                .select("url", F.col("text_dedup").alias("text"))
            )
        if cur.get("pii", False):
            from easyner_spark.operators.textstats import pii_redact

            df = pii_redact(df, id_col="url").select(
                F.col("id").alias("url"),
                F.col("text_redacted").alias("text"),
            )
        cap = cur.get("host_cap")
        if cap:
            from easyner_spark.operators.sampling import per_host_cap

            # capped in-row: a semi-join of the kept urls back onto
            # `df` would compute everything above (the dedup shuffle)
            # a second time
            df = per_host_cap(
                url_parts(df).withColumn("sz", F.length("text")),
                cap=cap,
                order_col="sz",
                id_col="url",
            ).select("url", "text")
        rate = cur.get("sample_rate")
        if rate is not None:
            from easyner_spark.operators.sampling import deterministic_sample

            df = deterministic_sample(df, rate=rate, key="url", seed=str(cur.get("seed", "")))
        return df

    _, counts["corpus"] = _materialize(spark, tables["corpus"], corpus_df, resume)
    return counts


def run_query(spark: SparkSession, cfg: dict) -> dict[str, int]:
    """`--mode query`: run declarative KG queries from the config
    against a previously materialized edges table (the run_pipeline
    product) — the consumer surface of the engine. Config:

        {"output_dir": "...",            # where run_pipeline wrote
         "queries": [
           {"name": "who_inhibits",
            "patterns": [["?x", "inhibits", "?y"],
                         ["?y", "located_in+", "?z"]],
            "optionals": [[["?x", "binds", "?w"]]],   # optional
            "filters": {"z": [[">=", "n1"],            # optional:
                              ["regex", "ase$"]]},     #  SPARQL FILTER
            "distinct": true,                          # optional
            "limit": 1000}]}                           # optional

    Each query runs match_patterns (with cost-based join ordering
    from bgp_stats, computed ONCE per invocation over the edge
    snapshot) and writes TSV to <output_dir>/query_<name>/. Patterns
    use the materialized edge schema (subj_id, pred, obj_id); '+'
    predicates follow the bounded-closure contract."""
    from easyner_spark.operators.triples import bgp_stats, match_patterns
    from easyner_spark.sinks.checkpoint import SnapshotTable
    from easyner_spark.sinks.export import write_tsv

    out_dir = cfg.get("output_dir", "/tmp/easyner_out")
    edges = SnapshotTable(
        f"{out_dir}/edges", ["subj_id", "pred", "obj_id"]
    ).read(spark)
    if edges is None:
        raise FileNotFoundError(f"{out_dir}/edges has no committed snapshot")
    stats = bgp_stats(edges)
    counts: dict[str, int] = {}
    for q in cfg.get("queries", []):
        name = q["name"]
        pats = [tuple(p) for p in q["patterns"]]
        opts = [
            [tuple(p) for p in grp] for grp in q.get("optionals", [])
        ] or None
        mins = [
            [tuple(p) for p in grp] for grp in q.get("minus", [])
        ] or None
        binds = {
            v: tuple(vals) for v, vals in q.get("bindings", {}).items()
        } or None
        unis = [
            [tuple(p) for p in grp] for grp in q.get("unions", [])
        ] or None
        filts = {
            v: [tuple(f) for f in fl]
            for v, fl in q.get("filters", {}).items()
        } or None
        out = match_patterns(
            edges,
            pats,
            distinct=bool(q.get("distinct", False)),
            stats=stats,
            optionals=opts,
            minus=mins,
            bindings=binds,
            unions=unis,
            max_closure_depth=int(q.get("max_closure_depth", 10)),
            filters=filts,
        )
        if q.get("group_by"):
            # SPARQL SELECT-COUNT shape: roll bindings up per group
            # (one keyed shuffle; partial aggs absorb hub bindings)
            out = (
                out.groupBy(*[str(v) for v in q["group_by"]])
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
                .orderBy(F.col("n").desc(), *[str(v) for v in q["group_by"]])
            )
        if q.get("limit"):
            out = out.limit(int(q["limit"]))
        # the row count rides the write (no second execution)
        rows = Observation()
        write_tsv(
            out.observe(rows, F.count(F.lit(1)).alias("n")),
            f"{out_dir}/query_{name}",
        )
        counts[name] = rows.get["n"]
    return counts


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="easyner_spark.cli")
    ap.add_argument("--config", required=True)
    ap.add_argument(
        "--mode",
        choices=("kg", "curate", "query"),
        default="kg",
        help=(
            "kg = the reference IE/KG pipeline; curate = crawl -> "
            "training corpus; query = BGP queries over materialized edges"
        ),
    )
    args = ap.parse_args(argv)
    with open(args.config, encoding="utf-8") as f:
        cfg = json.load(f)

    from easyner_spark.session import get_spark

    spark = get_spark("easyner-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    runner = {
        "kg": run_pipeline,
        "curate": run_curation,
        "query": run_query,
    }[args.mode]
    counts = runner(spark, cfg)
    print(json.dumps({"stages": counts}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
