"""Sources (SURVEY §2.1 S3-S6), export sinks (K3/K6), salted rollup,
and the config-driven CLI pipeline."""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F


class TestCordLoader:
    CSV = (
        "cord_uid,doi,pmcid,pubmed_id,mag_id,who_covidence_id,arxiv_id,url,title,abstract\n"
        "uid1,10.1/x,,,,,,http://a,Title One,Abstract one\n"
        ",10.2/y,,,,,,http://b,Title Two,Abstract two\n"
        ",,,,,,,http://c,Title Three,Abstract three\n"
        "uid4,,,,,,,http://d,,Abstract four\n"          # empty title -> dropped
        "uid5,,,,,,,http://e,Title Five,\n"             # empty abstract -> dropped
    )

    @pytest.fixture()
    def csv_path(self, tmp_path):
        p = tmp_path / "metadata.csv"
        p.write_text(self.CSV)
        return str(p)

    def test_id_coalesce_and_filters(self, spark, csv_path):
        from easyner_spark.sources.loaders import cord_csv_load

        rows = {r.title: r for r in cord_csv_load(spark, csv_path).collect()}
        assert set(rows) == {"Title One", "Title Two", "Title Three"}
        assert rows["Title One"].doc_id == "uid1" and rows["Title One"].id_type == "cord_uid"
        assert rows["Title Two"].doc_id == "10.2/y" and rows["Title Two"].id_type == "doi"
        # no id at all -> sha256(title) (reference cord_loader.py:16-17, 83)
        assert rows["Title Three"].doc_id == hashlib.sha256(b"Title Three").hexdigest()
        assert rows["Title Three"].id_type == "hash"

    def test_subset_semi_join(self, spark, csv_path):
        from easyner_spark.sources.loaders import cord_csv_load

        # reference parity (cord_loader.py:20-25): subset entries are
        # strip()ped but NOT lowercased, so an uppercase entry never
        # matches (the row side IS lowercased before comparing)
        subset = spark.createDataFrame([(" uid1 ",)], "cord_uid string")
        rows = cord_csv_load(spark, csv_path, subset_df=subset).collect()
        assert [r.doc_id for r in rows] == ["uid1"]
        upper = spark.createDataFrame([("UID1",)], "cord_uid string")
        assert cord_csv_load(spark, csv_path, subset_df=upper).count() == 0


class TestFreeTextLoader:
    def test_files_to_docs(self, spark, tmp_path):
        from easyner_spark.sources.loaders import free_text_load

        # CRLF + tabs: str.strip() parity means \r and \t go too
        (tmp_path / "alpha.txt").write_text("line one\r\n\tline two\t\r\n")
        (tmp_path / "beta.txt").write_text("solo line\n")
        out = {r.doc_id: r for r in free_text_load(spark, f"{tmp_path}/*.txt").collect()}
        # ids follow sorted-filename rank (reference text_loader.py:13-20)
        assert set(out) == {"freetext_0", "freetext_1"}
        assert out["freetext_0"].title == "alpha"
        assert out["freetext_0"].text == "line one line two"
        assert out["freetext_1"].text == "solo line"


class TestPubtatorLoader:
    def test_medmentions_variant(self, spark, tmp_path):
        from easyner_spark.sources.loaders import pubtator_load

        p = tmp_path / "mm.txt"
        p.write_text(
            "101|t|First title\n101|a|First abstract\n\n"
            "102|t|Second title\n102|a|Second abstract\n"
        )
        out = {r.doc_id: r for r in pubtator_load(spark, str(p), "medmentions").collect()}
        # medmentions appends '.' to the title, then joins with a space
        assert out["101"].title == "First title."
        assert out["101"].text == "First title. First abstract"

    def test_bioid_variant(self, spark, tmp_path):
        from easyner_spark.sources.loaders import pubtator_load

        p = tmp_path / "bioid.txt"
        p.write_text("doc1|some paragraph text\ndoc2|other text\n")
        out = {r.doc_id: r for r in pubtator_load(spark, str(p), "bioid").collect()}
        assert out["doc1"].title == "doc1" and out["doc1"].text == "some paragraph text"


class TestPresplitScan:
    def test_batch_range_filter(self, spark, tmp_path):
        from easyner_spark.sources.loaders import presplit_json_scan

        for i in range(4):
            (tmp_path / f"batch-{i}.json").write_text(
                json.dumps([{"url": f"u{i}", "text": f"text {i}"}])
            )
        full = presplit_json_scan(spark, str(tmp_path))
        assert full.count() == 4
        part = presplit_json_scan(spark, str(tmp_path), batch_range=(1, 2))
        assert sorted(r.batch_id for r in part.collect()) == [1, 2]


class TestExportSinks:
    def test_write_tsv_single_file(self, spark, tmp_path):
        from easyner_spark.sinks.export import write_tsv

        df = spark.createDataFrame([("a", 3), ("b", 1)], "mention string, total_count int")
        path = str(tmp_path / "ranked")
        write_tsv(df.orderBy(F.desc("total_count")), path)
        import glob

        parts = glob.glob(f"{path}/part-*.csv")
        assert len(parts) == 1
        content = open(parts[0]).read().splitlines()
        assert content[0] == "mention\ttotal_count"
        assert content[1] == "a\t3"

    def test_batch_counts_with_total(self, spark):
        from easyner_spark.sinks.export import batch_counts

        df = spark.createDataFrame(
            [(1, "x"), (1, "y"), (2, "z")], "batch_id int, url string"
        )
        rows = {r.batch: r.n_docs for r in batch_counts(df).collect()}
        assert rows == {"1": 2, "2": 1, "__total__": 3}

    def test_sorted_id_list_numeric(self, spark):
        from easyner_spark.sinks.export import sorted_id_list

        df = spark.createDataFrame([("10",), ("2",), ("2",)], "url string")
        assert [r.id for r in sorted_id_list(df, numeric=True).collect()] == ["2", "10"]


class TestSaltedRollup:
    def test_matches_plain_rollup(self, spark, pages_df, fx):
        from easyner_spark.fixtures import TERMS
        from easyner_spark.operators.analysis import (
            entity_frequency,
            entity_frequency_skew_resistant,
        )
        from easyner_spark.operators.ner_dict import dict_ner
        from easyner_spark.operators.splitter import split_sentences

        ments = dict_ner(split_sentences(pages_df), TERMS)
        plain = {
            r.mention: (r.total_count, r.articles_spanned, r.freq_per_article)
            for r in entity_frequency(ments, mention_col="mention_lc").collect()
        }
        salted = {
            r.mention: (r.total_count, r.articles_spanned, r.freq_per_article)
            for r in entity_frequency_skew_resistant(ments, mention_col="mention_lc").collect()
        }
        assert plain == salted


class TestBatchCountCompat:
    """A1 compat completion (VERDICT r1 missing #3): nested per-batch
    count map + reference-exact ranked TSV column order
    (scripts/analysis.py:47-80)."""

    @pytest.fixture()
    def ments(self, spark):
        rows = [
            ("A", 1, "x"), ("A", 1, "x"), ("A", 1, "y"),
            ("B", 1, "x"),
            ("C", 2, "x"), ("C", 2, "z"),
        ]
        return spark.createDataFrame(rows, "url string, batch_id int, mention_lc string")

    def test_batch_count_map(self, spark, ments):
        from easyner_spark.operators.analysis import entity_frequency

        freq = entity_frequency(
            ments, mention_col="mention_lc", batch_col="batch_id",
            exact_sets=True, batch_counts=True,
        )
        rows = {r.mention: r for r in freq.collect()}
        assert rows["x"].total_count == 4
        assert rows["x"].articles_spanned == 3
        assert rows["x"].batches_spanned == 2
        assert rows["x"].batch_count == {1: 3, 2: 1}
        assert rows["x"].batch_set == [1, 2]
        assert rows["y"].batch_count == {1: 1}
        assert rows["z"].freq_per_batch == 1.0

    def test_single_shuffle_plan(self, spark, ments, tmp_path):
        """The doc-rollup branch, the batch-rollup branch and the final
        join all hang off ONE repartition on mention: after AQE reuse,
        exactly one real hashpartitioning exchange survives (the second
        branch reads it as ReusedExchange; the tiny rollup join is
        broadcast)."""
        from easyner_spark.operators.analysis import entity_frequency

        path = str(tmp_path / "m.parquet")
        ments.write.parquet(path)
        freq = entity_frequency(
            spark.read.parquet(path),
            mention_col="mention_lc", batch_col="batch_id", batch_counts=True,
        )
        freq.collect()
        plan = freq._jdf.queryExecution().executedPlan().toString()
        # AdaptiveSparkPlan prints the pre-AQE plan after the final one
        plan = plan.split("== Initial Plan ==")[0]
        real = [
            l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "ReusedExchange" not in l
        ]
        assert len(real) == 1, plan
        assert "ReusedExchange" in plan

    def test_reference_tsv_golden(self, spark, ments, tmp_path):
        """Byte-parity against the committed golden ranked TSV."""
        import pathlib

        from easyner_spark.operators.analysis import entity_frequency, reference_frame

        freq = entity_frequency(
            ments, mention_col="mention_lc", batch_col="batch_id",
            exact_sets=True, batch_counts=True,
        )
        got = reference_frame(freq).toPandas().to_csv(sep="\t", index=False)
        golden = pathlib.Path(__file__).parent / "golden" / "entity_frequency_ranked.tsv"
        assert got == golden.read_text()


class TestCli:
    def test_pipeline_end_to_end_and_resume(self, spark, pages_df, tmp_path, capsys):
        from easyner_spark.cli import run_pipeline

        pages_path = str(tmp_path / "pages.parquet")
        pages_df.write.parquet(pages_path)
        cfg = {"input": {"pages_path": pages_path}, "output_dir": str(tmp_path / "out")}
        counts = run_pipeline(spark, cfg)
        assert set(counts) == {"sentences", "mentions", "frequency", "linked", "edges", "nodes"}
        assert all(v > 0 for v in counts.values())

        # resume: all stages skip, identical counts
        counts2 = run_pipeline(spark, cfg)
        assert counts2 == counts
        skipped = capsys.readouterr().out.count("[skip]")
        assert skipped == 6

    def test_disambiguate_nel_stage(self, spark, pages_df, tmp_path):
        from easyner_spark.cli import run_pipeline

        pages_path = str(tmp_path / "pages_d.parquet")
        pages_df.write.parquet(pages_path)
        cfg = {
            "input": {"pages_path": pages_path},
            "output_dir": str(tmp_path / "out_d"),
            "disambiguate_nel": True,
        }
        counts = run_pipeline(spark, cfg)
        assert counts["linked"] > 0 and counts["edges"] > 0
        from easyner_spark.sinks.checkpoint import SnapshotTable

        linked = SnapshotTable(f"{cfg['output_dir']}/linked", ["url"]).read(spark)
        # context pick: exactly ONE entity per mention occurrence, even
        # for surfaces with several alias ids ('merge' -> KB:02|KB:12)
        dup = (
            linked.groupBy("url", "sent_idx", "begin_tok", "end_tok")
            .count()
            .where("count > 1")
            .count()
        )
        assert dup == 0
        ids = {r.entity_id for r in linked.select("entity_id").distinct().collect()}
        assert ids and all(i.startswith("KB:") for i in ids)

    def test_module_flags(self, spark, pages_df, tmp_path):
        from easyner_spark.cli import run_pipeline

        pages_path = str(tmp_path / "pages.parquet")
        pages_df.write.parquet(pages_path)
        cfg = {
            "input": {"pages_path": pages_path},
            "output_dir": str(tmp_path / "out2"),
            "modules": {"nel": False, "triples": False, "components": False},
        }
        counts = run_pipeline(spark, cfg)
        assert set(counts) == {"sentences", "mentions", "frequency"}


class TestCliRound2Stages:
    def test_dedup_and_chart_stages(self, spark, pages_df, tmp_path):
        from easyner_spark.cli import run_pipeline

        # duplicate the first page's text under a new url
        first = pages_df.limit(1).withColumn("url", F.concat(F.col("url"), F.lit("-dup")))
        pages = pages_df.unionByName(first)
        pages_path = str(tmp_path / "pages.parquet")
        pages.write.parquet(pages_path)
        cfg = {
            "input": {"pages_path": pages_path},
            "output_dir": str(tmp_path / "out"),
            "modules": {"dedup": True, "chart": True,
                        "nel": False, "triples": False, "components": False},
        }
        counts = run_pipeline(spark, cfg)
        # the duplicated doc contributes nothing downstream
        base = run_pipeline(
            spark,
            {
                "input": {"pages_path": pages_path},
                "output_dir": str(tmp_path / "out2"),
                "modules": {"nel": False, "triples": False, "components": False},
            },
        )
        assert counts["sentences"] < base["sentences"]
        svg = (tmp_path / "out" / "top_entities.svg").read_text()
        assert svg.startswith("<svg")

    def test_pubmed_xml_input(self, spark, tmp_path):
        import gzip

        from easyner_spark.cli import run_pipeline
        from tests.test_pubmed_bulk import XML_ONE

        (tmp_path / "pubmed23n0001.xml.gz").write_bytes(gzip.compress(XML_ONE.encode()))
        cfg = {
            "input": {"pubmed_xml_path": str(tmp_path)},
            "output_dir": str(tmp_path / "out"),
            "modules": {"nel": False, "triples": False, "components": False},
        }
        counts = run_pipeline(spark, cfg)
        assert counts["sentences"] >= 2  # two abstract sentences from pmid 101
        assert counts["mentions"] >= 1   # 'rapamycin'/'autophagy' in fixture text


class TestCurationPipeline:
    def _pages_path(self, spark, pages_df, tmp_path):
        path = str(tmp_path / "pages.parquet")
        pages_df.write.parquet(path)
        return path

    def test_curate_end_to_end_and_resume(self, spark, pages_df, tmp_path, capsys):
        from easyner_spark.cli import run_curation

        cfg = {
            "input": {"pages_path": self._pages_path(spark, pages_df, tmp_path)},
            "output_dir": str(tmp_path / "cur"),
            "curation": {
                "gopher": {"min_words": 3, "min_stop_hits": 0},
                "pii": True,
                "host_cap": 50,
                "sample_rate": 0.9,
            },
        }
        counts = run_curation(spark, cfg)
        assert set(counts) == {"gated", "corpus"}
        assert counts["gated"] > 0
        assert 0 < counts["corpus"] <= counts["gated"]
        # resume: both stages skip with identical counts
        capsys.readouterr()
        assert run_curation(spark, cfg) == counts
        assert capsys.readouterr().out.count("[skip]") == 2
        # the corpus table is (url, text)
        from easyner_spark.sinks.checkpoint import SnapshotTable

        corpus = SnapshotTable(f"{cfg['output_dir']}/corpus", ["url"]).read(spark)
        assert set(corpus.columns) == {"url", "text"}

    def test_curate_ppl_gate(self, spark, pages_df, tmp_path):
        from easyner_spark.cli import run_curation

        base = {
            "input": {"pages_path": self._pages_path(spark, pages_df, tmp_path)},
            "curation": {
                "gopher": {"min_words": 3, "min_stop_hits": 0},
                "paragraph_dedup": False,
            },
        }
        cfg_all = dict(base, output_dir=str(tmp_path / "cur_all"))
        all_counts = run_curation(spark, cfg_all)
        cfg_gate = dict(
            base,
            output_dir=str(tmp_path / "cur_gate"),
            curation=dict(base["curation"], ppl_keep=["head", "middle"]),
        )
        gated_counts = run_curation(spark, cfg_gate)
        # tail tercile dropped: strictly fewer docs than the ungated run
        assert 0 < gated_counts["corpus"] < all_counts["corpus"]
        assert gated_counts["gated"] == all_counts["gated"]

    def test_curate_defaults_only(self, spark, pages_df, tmp_path):
        from easyner_spark.cli import run_curation

        cfg = {
            "input": {"pages_path": self._pages_path(spark, pages_df, tmp_path)},
            "output_dir": str(tmp_path / "cur2"),
            "curation": {"gopher": {"min_words": 3, "min_stop_hits": 0}},
        }
        counts = run_curation(spark, cfg)
        assert counts["corpus"] > 0


def _spy_written(monkeypatch) -> dict:
    """{table name: DataFrame} of every SnapshotTable.overwrite call."""
    from easyner_spark.sinks import checkpoint

    written = {}
    orig = checkpoint.SnapshotTable.overwrite

    def spy(self, df, *args, **kwargs):
        written[self.path.rstrip("/").rsplit("/", 1)[-1]] = df
        return orig(self, df, *args, **kwargs)

    monkeypatch.setattr(checkpoint.SnapshotTable, "overwrite", spy)
    return written


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _html(*paras: str) -> bytes:
    body = "".join(f"<p>{p}</p>" for p in paras)
    return f"<html><body>{body}</body></html>".encode()


class TestCurationRecrawls:
    """run_curation on an html-only crawl with recrawls: the gate is
    computed per crawl row and carried through the recrawl collapse,
    which must select exactly what collapsing first and gating after
    selects."""

    GOOD = "the enzyme binds to the receptor in the cell"
    GOPHER = {"min_words": 5, "min_stop_hits": 1}
    ROWS = [
        # newest crawl fails the gate, an older one passes: url dropped
        ("https://a.org/1", 1, _html(GOOD + " stalemark")),
        ("https://a.org/1", 2, _html("too short")),
        # both pass: only the newest text survives
        ("https://a.org/2", 1, _html(GOOD + " stalemark")),
        ("https://a.org/2", 3, _html(GOOD + " fresh")),
        # newest passes, older fails
        ("https://a.org/3", 1, _html("nope")),
        ("https://a.org/3", 2, _html(GOOD + " again")),
        # equal warc_ts: the larger html wins (latest_crawl's contract),
        # here the one that fails the gate, so the url is dropped
        ("https://b.org/4", 5, _html(GOOD + " tie")),
        ("https://b.org/4", 5, _html("zz failing tie")),
        # equal warc_ts, both pass: the larger html's text is kept
        ("https://b.org/5", 7, _html(GOOD + " aaa")),
        ("https://b.org/5", 7, _html(GOOD + " zzz")),
        # single crawl
        ("https://b.org/6", 4, _html(GOOD + " alone")),
    ]

    @pytest.fixture()
    def crawl_path(self, spark, tmp_path):
        path = str(tmp_path / "crawl.parquet")
        spark.createDataFrame(self.ROWS, "url string, ts long, html binary").select(
            "url", F.timestamp_seconds("ts").alias("warc_ts"), "html"
        ).write.parquet(path)
        return path

    def _run(self, spark, crawl_path, tmp_path, monkeypatch):
        from easyner_spark.cli import run_curation
        from easyner_spark.sinks.checkpoint import SnapshotTable

        written = _spy_written(monkeypatch)
        out = str(tmp_path / "cur")
        run_curation(spark, {
            "input": {"pages_path": crawl_path},
            "output_dir": out,
            "curation": {"gopher": self.GOPHER, "paragraph_dedup": False},
        })
        gated = SnapshotTable(f"{out}/gated", ["url"]).read(spark)
        return {r.url: r.text for r in gated.collect()}, written

    def test_newest_crawl_decides(self, spark, crawl_path, tmp_path, monkeypatch):
        got, _ = self._run(spark, crawl_path, tmp_path, monkeypatch)
        assert set(got) == {
            "https://a.org/2", "https://a.org/3", "https://b.org/5", "https://b.org/6",
        }
        assert not any("stalemark" in t for t in got.values())
        assert got["https://a.org/2"].endswith("fresh")
        assert got["https://b.org/5"].endswith("zzz")

    def test_matches_collapse_then_gate(self, spark, crawl_path, tmp_path, monkeypatch):
        from easyner_spark.operators.boilerplate import extract_text
        from easyner_spark.operators.textstats import gopher_filters
        from easyner_spark.operators.webtext import latest_crawl

        got, _ = self._run(spark, crawl_path, tmp_path, monkeypatch)
        latest = extract_text(latest_crawl(spark.read.parquet(crawl_path)), out_col="text")
        old = gopher_filters(latest, id_col="url", keep_cols=("text",), **self.GOPHER)
        want = {r.url: r.text for r in old.where("gopher_keep").collect()}
        assert got == want

    def test_gated_plan_extracts_once(self, spark, crawl_path, tmp_path, monkeypatch):
        _, written = self._run(spark, crawl_path, tmp_path, monkeypatch)
        assert _optimized(written["gated"]).count("ArrowEvalPython") == 1


class TestKgHtmlExtractOnce:
    def test_sentences_plan_one_udf_lang_filter_below(self, spark, tmp_path, monkeypatch):
        """On html-only pages the splitter stage runs the extractor
        once, and the lang predicate still filters before it."""
        from easyner_spark.cli import run_pipeline

        path = str(tmp_path / "pages.parquet")
        spark.createDataFrame(
            [("u1", _html("The enzyme binds. It works."), "en"),
             ("u2", _html("Der Hund bellt."), "de"),
             ("u3", _html(""), "en")],
            "url string, html binary, lang string",
        ).write.parquet(path)
        written = _spy_written(monkeypatch)
        counts = run_pipeline(spark, {
            "input": {"pages_path": path},
            "output_dir": str(tmp_path / "out"),
            "modules": {"ner": False, "analysis": False, "nel": False,
                        "triples": False, "components": False},
        })
        assert counts["sentences"] == 2
        plan = _optimized(written["sentences"]).splitlines()
        udf = [i for i, line in enumerate(plan) if "ArrowEvalPython" in line]
        lang = [i for i, line in enumerate(plan) if "Filter" in line and "lang" in line]
        assert len(udf) == 1
        assert lang and lang[0] > udf[0]


class TestCorpusShards:
    def test_deterministic_shards_roundtrip(self, spark, tmp_path):
        from easyner_spark.sinks.export import write_corpus_shards

        df = spark.createDataFrame(
            [(f"https://x.com/{i}", f"text {i}") for i in range(200)],
            "url string, text string",
        )
        path = str(tmp_path / "corpus")
        manifest = write_corpus_shards(df, path, n_shards=8).collect()
        assert sum(r["n_docs"] for r in manifest) == 200
        back = spark.read.parquet(path)
        assert back.count() == 200
        # shard is the documented pure function of the id
        bad = back.where(
            F.col("shard") != F.pmod(F.xxhash64("url"), F.lit(8)).cast("int")
        )
        assert bad.count() == 0
        # re-export lands every doc in the same shard
        manifest2 = write_corpus_shards(df, str(tmp_path / "c2"), n_shards=8).collect()
        assert sorted(map(tuple, manifest)) == sorted(map(tuple, manifest2))

    def test_jsonl_mode(self, spark, tmp_path):
        import glob
        import json as _json

        from easyner_spark.sinks.export import write_corpus_shards

        df = spark.createDataFrame(
            [(f"u{i}", "t") for i in range(20)], "url string, text string"
        )
        path = str(tmp_path / "cj")
        write_corpus_shards(df, path, n_shards=2, fmt="json")
        lines = []
        for f in glob.glob(f"{path}/shard=*/part-*"):
            with open(f, encoding="utf-8") as fh:
                lines += [l for l in fh.read().splitlines() if l]
        assert len(lines) == 20 and all("url" in _json.loads(l) for l in lines)

    def test_bad_fmt_raises(self, spark, tmp_path):
        import pytest as _pytest

        from easyner_spark.sinks.export import write_corpus_shards

        df = spark.createDataFrame([("u", "t")], "url string, text string")
        with _pytest.raises(ValueError):
            write_corpus_shards(df, str(tmp_path / "x"), fmt="csv")


class TestCliFuzzyNel:
    def test_fuzzy_nel_keeps_variants_in_graph(self, spark, pages_df, tmp_path):
        from easyner_spark.cli import run_pipeline

        pages_path = str(tmp_path / "pages.parquet")
        pages_df.write.parquet(pages_path)
        base = {"input": {"pages_path": pages_path}}
        exact = run_pipeline(
            spark, {**base, "output_dir": str(tmp_path / "o_exact")}
        )
        fuzzy = run_pipeline(
            spark,
            {**base, "output_dir": str(tmp_path / "o_fuzzy"), "fuzzy_nel": True},
        )
        # fuzzy keeps every mention (unmatched get surface/fuzzy ids)
        # instead of dropping them, so the linked table can only grow
        assert fuzzy["linked"] >= exact["linked"]
        assert fuzzy["nodes"] > 0 and fuzzy["edges"] > 0


class TestQueryMode:
    def test_query_mode_over_materialized_edges(self, spark, pages_df, tmp_path):
        from easyner_spark.cli import run_pipeline, run_query

        pages_path = str(tmp_path / "pages.parquet")
        pages_df.write.parquet(pages_path)
        out_dir = str(tmp_path / "out")
        cfg = {"input": {"pages_path": pages_path}, "output_dir": out_dir}
        run_pipeline(spark, cfg)

        qcfg = {
            "output_dir": out_dir,
            "queries": [
                {
                    "name": "cooc",
                    "patterns": [["?x", "co_occurs_with", "?y"]],
                    "distinct": True,
                },
                {
                    "name": "two_hop",
                    "patterns": [
                        ["?x", "co_occurs_with", "?y"],
                        ["?y", "co_occurs_with", "?z"],
                    ],
                    "distinct": True,
                    "limit": 50,
                },
                {
                    # r5 FILTER plumbing: JSON-shaped [op, operand]
                    # pairs reach match_patterns' filters kwarg
                    "name": "cooc_f",
                    "patterns": [["?x", "co_occurs_with", "?y"]],
                    "distinct": True,
                    "filters": {"x": [[">=", "a"], ["regex", "."]]},
                },
            ],
        }
        counts = run_query(spark, qcfg)
        assert counts["cooc"] > 0
        assert 0 < counts["two_hop"] <= 50
        assert 0 <= counts["cooc_f"] <= counts["cooc"]
        import os

        assert os.path.exists(f"{out_dir}/query_cooc")
        assert os.path.exists(f"{out_dir}/query_two_hop")

    def test_query_mode_group_by(self, spark, pages_df, tmp_path):
        from easyner_spark.cli import run_pipeline, run_query

        pages_path = str(tmp_path / "pages.parquet")
        pages_df.write.parquet(pages_path)
        out_dir = str(tmp_path / "out")
        run_pipeline(
            spark, {"input": {"pages_path": pages_path}, "output_dir": out_dir}
        )
        counts = run_query(
            spark,
            {
                "output_dir": out_dir,
                "queries": [
                    {
                        "name": "per_subj",
                        "patterns": [["?x", "co_occurs_with", "?y"]],
                        "group_by": ["x"],
                        "limit": 10,
                    }
                ],
            },
        )
        assert 0 < counts["per_subj"] <= 10

    def test_standing_queries_in_pipeline(self, spark, pages_df, tmp_path):
        from easyner_spark.cli import run_pipeline
        from easyner_spark.sinks.checkpoint import SnapshotTable

        pages_path = str(tmp_path / "pages.parquet")
        pages_df.write.parquet(pages_path)
        out_dir = str(tmp_path / "out")
        cfg = {
            "input": {"pages_path": pages_path},
            "output_dir": out_dir,
            "standing_queries": [
                {"name": "cooc", "patterns": [["?x", "co_occurs_with", "?y"]]}
            ],
        }
        counts = run_pipeline(spark, cfg)
        assert counts["standing_cooc"] > 0
        mt = SnapshotTable(f"{out_dir}/standing_cooc", ["x", "y"])
        n = mt.read(spark).count()
        assert n == counts["standing_cooc"]
        # re-run: stages skip, the fold finds nothing new
        counts2 = run_pipeline(spark, cfg)
        assert counts2["standing_cooc"] == 0
        assert mt.read(spark).count() == n
