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
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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
    return (
        spark.read.option("sep", "\t")
        .csv(path)
        .toDF("term", "ID")
        .where(F.col("term").isNotNull())
    )


def run_pipeline(spark: SparkSession, cfg: dict) -> dict[str, int]:
    """Run the enabled stages; returns {stage: row_count}."""
    from easyner_spark.operators.analysis import entity_frequency
    from easyner_spark.operators.components import connected_components
    from easyner_spark.operators.ner_dict import dict_ner
    from easyner_spark.operators.nel import link_entities, primary_alias
    from easyner_spark.operators.splitter import split_sentences
    from easyner_spark.operators.triples import aggregate_edges, extract_triples
    from easyner_spark.sinks.checkpoint import SnapshotTable

    out_dir = cfg.get("output_dir", "/tmp/easyner_out")
    modules = {
        "splitter": True, "ner": True, "analysis": True,
        "nel": True, "triples": True, "components": True,
        **cfg.get("modules", {}),
    }
    resume = cfg.get("resume", True)
    keys = {
        "sentences": ["url", "sent_idx"],
        "mentions": ["url", "sent_idx", "begin", "end", "class"],
        "frequency": ["mention"],
        "linked": ["url", "sent_idx", "begin", "end", "class", "entity_id"],
        "edges": ["subj_id", "pred", "obj_id"],
        "nodes": ["node"],
    }
    tables = {n: SnapshotTable(f"{out_dir}/{n}", k) for n, k in keys.items()}

    def materialize(name: str, df_fn) -> DataFrame | None:
        t = tables[name]
        if resume and t.current_snapshot() is not None:
            print(f"[skip] {name}: snapshot {t.current_snapshot()} exists")
            return t.read(spark)
        df = df_fn()
        t.overwrite(df)
        return t.read(spark)

    counts: dict[str, int] = {}
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
    # html-only crawls); one shuffle on the uniform hash key.
    if modules.get("dedup"):
        from easyner_spark.operators.dedup import exact_dedup

        flags = exact_dedup(pages, text_col="text", id_col="url")
        pages = pages.join(
            flags.where(~F.col("is_dup")).select("url"), "url", "left_semi"
        )

    sents = None
    if modules["splitter"]:
        sents = materialize(
            "sentences", lambda: split_sentences(pages, lang_filter=cfg.get("lang", "en"))
        )
        counts["sentences"] = sents.count()

    ments = None
    if modules["ner"] and sents is not None:
        terms = _load_terms(cfg.get("dictionary_path"))
        ments = materialize("mentions", lambda: dict_ner(sents, terms))
        counts["mentions"] = ments.count()

    if modules["analysis"] and ments is not None:
        freq = materialize(
            "frequency", lambda: entity_frequency(ments, mention_col="mention_lc")
        )
        counts["frequency"] = freq.count()
        if modules.get("chart"):
            from easyner_spark.sinks.chart import write_barchart_svg

            write_barchart_svg(
                freq, f"{out_dir}/top_entities.svg", n=cfg.get("chart_top_n", 50)
            )

    linked = None
    if modules["nel"] and ments is not None:
        raw_alias = _load_alias(spark, cfg.get("alias_path"))
        alias = primary_alias(raw_alias)
        if cfg.get("disambiguate_nel") and sents is not None:
            # context disambiguation: when one surface maps to SEVERAL
            # alias ids, pick per mention the candidate whose corpus
            # profile (built from unambiguous mentions only) best
            # overlaps the mention's sentence — instead of the exact
            # path's deterministic primary-alias collapse. Unambiguous
            # surfaces pass through unchanged; surfaces absent from
            # the alias table drop (keep_unmatched=False semantics).
            from easyner_spark.operators.nel import disambiguate_mentions

            key = ["url", "sent_idx", "begin_tok", "end_tok", "mention_lc"]
            linked = materialize(
                "linked",
                lambda: disambiguate_mentions(ments, sents, raw_alias)
                .drop("n_cands", "score")
                # reattach the char spans downstream triple extraction
                # keys on (the disambiguator works in token space)
                .join(ments.select(*key, "begin", "end"), key),
            )
        elif cfg.get("fuzzy_nel"):
            # second-pass canonicalization: surface forms the exact
            # alias join misses remap to the char-gram-closest alias
            # entity (>= fuzzy_threshold), so morphological variants
            # stop fragmenting KG nodes. NOTE the structural contrast
            # with the exact path: exact drops unmatched mentions
            # (keep_unmatched=False); fuzzy keeps EVERY mention —
            # below-threshold ones enter the graph under stable
            # surface:<mention> ids (documented in README)
            from easyner_spark.operators.nel import fuzzy_canonicalize_mentions

            thr = float(cfg.get("fuzzy_threshold", 0.6))
            linked = materialize(
                "linked",
                lambda: fuzzy_canonicalize_mentions(ments, raw_alias, threshold=thr),
            )
        else:
            linked = materialize(
                "linked", lambda: link_entities(ments, alias, keep_unmatched=False)
            )
        counts["linked"] = linked.count()

    edges = None
    if modules["triples"] and linked is not None:
        edges = materialize("edges", lambda: aggregate_edges(extract_triples(linked)))
        counts["edges"] = edges.count()

    if modules["components"] and edges is not None:
        nodes = materialize(
            "nodes",
            lambda: connected_components(
                edges.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
            ),
        )
        counts["nodes"] = nodes.count()

    # standing queries: fold each registered pattern set against the
    # fresh edge snapshot (epoch = the snapshot id, so alerts line up
    # with the resume ledger); idempotent on re-runs by construction
    if cfg.get("standing_queries") and edges is not None:
        from easyner_spark.operators.triples import _pattern_vars
        from easyner_spark.streaming.pipeline import fold_standing_query

        for sq in cfg["standing_queries"]:
            pats = [tuple(p) for p in sq["patterns"]]
            mt = SnapshotTable(
                f"{out_dir}/standing_{sq['name']}", _pattern_vars(pats)
            )
            counts[f"standing_{sq['name']}"] = fold_standing_query(
                spark,
                tables["edges"],
                mt,
                pats,
                epoch=tables["edges"].current_snapshot() or 0,
            )

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
    for it. (Without `warc_ts` there is no collapse, and the filter
    is still pushed below the extractor.)

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

    def materialize(name: str, df_fn) -> DataFrame:
        t = tables[name]
        if resume and t.current_snapshot() is not None:
            print(f"[skip] {name}: snapshot {t.current_snapshot()} exists")
            return t.read(spark)
        t.overwrite(df_fn())
        return t.read(spark)

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

    gated = materialize("gated", gated_df)
    counts["gated"] = gated.count()

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

    corpus = materialize("corpus", corpus_df)
    counts["corpus"] = corpus.count()
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
        write_tsv(out, f"{out_dir}/query_{name}")
        counts[name] = out.count()
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
