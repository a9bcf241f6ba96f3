"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes every implemented operator from SURVEY.md section 2
as a (spark, sf_dir) -> DataFrame callable over the driver's parquet
tables; `oracle_sql()` gives the DuckDB-equivalent ANSI SQL.

The `documents` table is the pages stand-in (FIXTURES.md F7). Its text
is punctuation-free word soup, so each query first "senticizes" it with
a deterministic substitution (' a ' -> '. ') — expressible identically
in Spark and DuckDB — which gives the sentence operators real multi-
sentence inputs at the oracle gate. Char-offset and case semantics are
covered by the self-oracle fixture tests in tests/ (FIXTURES.md F1/F4).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Dictionary over the documents-table vocabulary: unigrams, bigrams and
# a trigram, exercising the n-gram matching paths (SURVEY section 2.4 T4).
DICT = [
    ("hash", "kw1"),
    ("merge", "kw1"),
    ("spark", "kw1"),
    ("window", "kw1"),
    ("sort table", "kw2"),
    ("row scan", "kw2"),
    ("fast merge", "kw2"),
    ("table value part", "kw3"),
]

# NEL alias lookup over the same dictionary (SURVEY section 2.5 J1):
# one term maps to two IDs (one-to-many), one term is absent ('' path).
ALIAS = [
    ("hash", "KB:01"),
    ("merge", "KB:02"),
    ("merge", "KB:12"),
    ("spark", "KB:03"),
    ("sort table", "KB:04"),
    ("row scan", "KB:04"),
    ("fast merge", "KB:02"),
    ("table value part", "KB:05"),
    # "window" intentionally absent -> ''
]


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages-shaped df with synthetic sentence boundaries."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.regexp_replace("text", " a ", ". ").alias("text"),
        "lang",
    )


def _sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easyner_spark.operators.splitter import split_sentences

    return split_sentences(_pages(spark, sf_dir), lang_filter=None)


def _mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easyner_spark.operators.ner_dict import dict_ner

    return dict_ner(_sentences(spark, sf_dir), DICT)


def q_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _sentences(spark, sf_dir)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        "sentence",
    )


def q_dict_ner(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _mentions(spark, sf_dir)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("begin_tok").cast("long").alias("begin_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        "mention_lc",
        "class",
    )


def q_entity_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easyner_spark.operators.analysis import entity_frequency

    freq = entity_frequency(_mentions(spark, sf_dir), mention_col="mention_lc")
    return freq.select(
        "mention",
        F.col("total_count").cast("long").alias("total_count"),
        F.col("articles_spanned").cast("long").alias("articles_spanned"),
    )


def _alias_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(ALIAS, "term string, ID string")


def q_link_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easyner_spark.operators.nel import link_entities

    out = link_entities(_mentions(spark, sf_dir), _alias_df(spark))
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("begin_tok").cast("long").alias("begin_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        "mention_lc",
        "entity_id",
    )


def q_disambiguate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lesk-style context disambiguation: 'merge' maps to KB:02|KB:12 in
    ALIAS, so the corpus genuinely exercises the ambiguous path; profiles
    are built from the unambiguous terms only."""
    from easyner_spark.operators.nel import disambiguate_mentions

    out = disambiguate_mentions(
        _mentions(spark, sf_dir), _sentences(spark, sf_dir), _alias_df(spark)
    )
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("begin_tok").cast("long").alias("begin_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        "mention_lc",
        "entity_id",
        F.col("n_cands").cast("long").alias("n_cands"),
        F.col("score").cast("long").alias("score"),
    )


def q_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easyner_spark.operators.nel import link_entities, primary_alias
    from easyner_spark.operators.triples import extract_triples

    linked = link_entities(
        _mentions(spark, sf_dir), primary_alias(_alias_df(spark)), keep_unmatched=False
    )
    out = extract_triples(linked)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        "subj_id",
        "pred",
        "obj_id",
    )


def q_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easyner_spark.operators.nel import link_entities, primary_alias
    from easyner_spark.operators.triples import aggregate_edges, extract_triples

    linked = link_entities(
        _mentions(spark, sf_dir), primary_alias(_alias_df(spark)), keep_unmatched=False
    )
    out = aggregate_edges(extract_triples(linked))
    return out.select(
        "subj_id",
        "pred",
        "obj_id",
        F.col("support").cast("long").alias("support"),
        F.col("doc_count").cast("long").alias("doc_count"),
    )


def q_entity_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document topical-entity ranking by position-weighted
    mention counts (lead sentence x3, first 3 sentences x2, body x1)
    — the doc->entity edge weight for KG node construction."""
    from easyner_spark.operators.analysis import entity_salience
    from easyner_spark.operators.nel import link_entities, primary_alias

    linked = link_entities(
        _mentions(spark, sf_dir), primary_alias(_alias_df(spark)), keep_unmatched=False
    )
    out = entity_salience(linked)
    return out.select(
        F.col("url").cast("long").alias("url"),
        "entity_id",
        "n_mentions",
        "first_sent",
        "salience",
        F.col("rank").alias("sal_rank"),
    )


SEARCH_TERMS = ["hash", "sort table"]


def q_search_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easyner_spark.operators.search import search_sentences

    sents = _sentences(spark, sf_dir)
    out = search_sentences(sents, _mentions(spark, sf_dir), SEARCH_TERMS, match_col="mention_lc")
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        "sentence",
    )


def q_search_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/J5 companion: every annotation row of every hit sentence
    (the reference re-emits the full entities/spans lists,
    scripts/search.py:47-53)."""
    from easyner_spark.operators.search import search_mentions

    out = search_mentions(
        _mentions(spark, sf_dir), SEARCH_TERMS, match_col="mention_lc"
    )
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("begin_tok").cast("long").alias("begin_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        "mention_lc",
        "class",
    )


def q_doc_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easyner_spark.sinks.pubtator import sentence_doc_offsets

    out = sentence_doc_offsets(_sentences(spark, sf_dir))
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("doc_offset").cast("long").alias("doc_offset"),
    )


def q_term_freq_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easyner_spark.operators.analysis import term_frequency_per_doc

    out = term_frequency_per_doc(_mentions(spark, sf_dir).withColumn("mention", F.col("mention_lc")))
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        "mention",
        F.col("cnt").cast("long").alias("cnt"),
    )


def q_entity_frequency_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 compat completion: the nested per-batch count map
    (scripts/analysis.py:47-80). batch_id is synthesized as
    doc_id % 7; the map is rendered with to_json (keys in ascending
    batch order) so DuckDB can build the identical string."""
    from easyner_spark.operators.analysis import entity_frequency

    m = _mentions(spark, sf_dir).withColumn(
        "batch_id", F.pmod(F.col("url").cast("long"), F.lit(7))
    )
    freq = entity_frequency(
        m, mention_col="mention_lc", batch_col="batch_id", batch_counts=True
    )
    return freq.select(
        "mention",
        F.col("total_count").cast("long").alias("total_count"),
        F.col("articles_spanned").cast("long").alias("articles_spanned"),
        F.col("batches_spanned").cast("long").alias("batches_spanned"),
        F.to_json("batch_count").alias("batch_count_json"),
        "freq_per_article",
        "freq_per_batch",
    )


def q_resolve_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-dependent sequential rules (reference entity_merger2.py:
    99-146). The oracle expresses the loop as a recursive CTE over a
    survivor bitmask (delete i iff some alive j beats it, i descending)
    — see oracle_sql(); bit-exact parity is additionally pinned by
    tests/test_merger_parity.py."""
    from easyner_spark.operators.merger import resolve_conflicts

    pri = {"kw1": 1, "kw2": 2, "kw3": 3}
    out = resolve_conflicts(_mentions(spark, sf_dir), priority=pri)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("begin_tok").cast("long").alias("begin_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        "mention_lc",
        "class",
    )


def q_span_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 + A5: span-tolerant P/R/F1 with a deterministic perturbed
    gold twin — doc_id%3==0 shifts spans +1 (inside stride -> TP),
    doc_id%10==7 shifts +5 (outside stride -> FP+FN), doc_id%10==3
    drops the gold row (-> FP). The oracle replays the band-match
    EXISTS semantics (each pred counted once) in SQL."""
    from easyner_spark.operators.evaluate import prf, span_match_counts

    m = _mentions(spark, sf_dir).select(
        "url",
        "class",
        F.col("begin_tok").alias("begin"),
        F.col("end_tok").alias("end"),
    )
    d = F.col("url").cast("long")
    shift = (
        F.when(d % 10 == 7, F.lit(5)).when(d % 3 == 0, F.lit(1)).otherwise(F.lit(0))
    )
    gold = (
        m.where(d % 10 != 3)
        .withColumn("begin", F.col("begin") + shift)
        .withColumn("end", F.col("end") + shift)
    )
    out = prf(span_match_counts(m, gold, keys=["url", "class"], stride=1))
    return out.select(
        "class",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        "precision",
        "recall",
        "f1",
    )


def q_merger_v1_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 compat boundary (reference entity_merger.py:20-56): the
    per-sentence {tag: [entities]} / {tag: [[b, e]]} nesting rendered
    as the byte-stable to_json export. Token spans feed begin/end so
    the oracle can rebuild the identical JSON string in SQL."""
    from easyner_spark.operators.merger import merger_v1_export

    m = _mentions(spark, sf_dir).select(
        "url",
        "sent_idx",
        F.col("mention_lc").alias("mention"),
        F.col("begin_tok").alias("begin"),
        F.col("end_tok").alias("end"),
        "class",
    )
    out = merger_v1_export(m)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        "json",
    )


def q_co_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 compat: the reference co-occurrence extractor
    (entity_parser.py:19-55) over a deterministic IOB labeling of the
    document token stream (B on 'hash'/'scan', I on 'merge', else O —
    corpus vocabulary, so entities genuinely occur). Quirk parity (B-after-B concat, trailing-entity drop,
    punctuation chains) is pinned bit-level in pytest; this oracle
    checks the full-corpus values."""
    from easyner_spark.operators.iob import co_occurrence

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.col("doc_id").cast("int").alias("seq_id"),
        F.posexplode(
            F.expr(r"regexp_extract_all(lower(text), r'(?U)\w+|[^\w\s]', 0)")
        ).alias("tok_idx", "token"),
    ).withColumn(
        "label",
        F.when(F.col("token").isin("hash", "scan"), F.lit("B"))
        .when(F.col("token") == "merge", F.lit("I"))
        .otherwise(F.lit("O")),
    )
    out = co_occurrence(toks)
    return out.select(
        F.col("seq_id").cast("long").alias("doc_id"),
        "has_cooccurrence",
        F.to_json("entities").alias("entities_json"),
        "text",
    )


def q_error_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NER error-inspection regions (error_detection.py:8-95) over a
    deterministic gold/pred IOB labeling of the document token stream:
    gold marks hash=B merge=I, pred only hash-at-even-token-index=B —
    corpus vocabulary, so disagreement regions genuinely occur."""
    from easyner_spark.operators.iob import error_regions

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.col("doc_id").cast("int").alias("seq_id"),
        F.posexplode(
            F.expr(r"regexp_extract_all(lower(text), r'(?U)\w+|[^\w\s]', 0)")
        ).alias("tok_idx", "token"),
    ).select(
        "seq_id",
        "tok_idx",
        "token",
        F.when(F.col("token") == "hash", F.lit("B"))
        .when(F.col("token") == "merge", F.lit("I"))
        .otherwise(F.lit("O"))
        .alias("label_true"),
        F.when(
            (F.col("token") == "hash") & (F.col("tok_idx") % 2 == 0), F.lit("B")
        )
        .otherwise(F.lit("O"))
        .alias("label_pred"),
    )
    out = error_regions(toks)
    return out.select(
        F.col("seq_id").cast("long").alias("doc_id"),
        F.col("region_idx").cast("long").alias("region_idx"),
        "word",
        F.to_json("true_tags").alias("true_tags_json"),
        F.to_json("pred_tags").alias("pred_tags_json"),
    )


def q_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the co-occurrence graph (iterative
    large-star/small-star; oracle = recursive-CTE min-label closure)."""
    from easyner_spark.operators.components import connected_components

    edges = q_triples(spark, sf_dir).select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )
    # local_finish_edges=0: the oracle gate pins the DISTRIBUTED
    # fixpoint; the hybrid local finish is pytest-pinned equal to it
    return connected_components(edges, local_finish_edges=0).select(
        "node", "component"
    )


def q_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental component-map maintenance: the triples graph is
    split by sent_idx parity into an OLD graph (even — its component
    map is computed first, standing in for the persisted map of all
    prior crawl epochs) and a NEW edge batch (odd); the operator folds
    the batch into the map WITHOUT the old edge list. The oracle is
    the full-graph closure — the incremental contract is exact
    equality with a full recompute."""
    from easyner_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    t = q_triples(spark, sf_dir)
    old = t.where(F.col("sent_idx") % 2 == 0).select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )
    new = t.where(F.col("sent_idx") % 2 == 1).select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )
    mapping = connected_components(old, local_finish_edges=0)
    return incremental_components(mapping, new, local_finish_edges=0).select(
        "node", "component"
    )


def q_k_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop BFS neighborhood table over the co-occurrence triple
    graph, every node as a source; oracle = bounded recursive CTE with
    a min-dist rollup."""
    from easyner_spark.operators.graph import k_hop

    edges = q_triples(spark, sf_dir).select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )
    return k_hop(edges, k=2).select("source", "node", "dist")


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration (3) PageRank over the distinct directed triple
    graph — GraphFrames-style iterative DataFrame joins with a per-
    iteration round(·, 9) state contract so the unrolled DuckDB CTE
    oracle is bit-stable (see operators/graph.py docstring)."""
    from easyner_spark.operators.graph import pagerank

    edges = q_triples(spark, sf_dir).select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    )
    return pagerank(edges).select("node", "rank")


def _pronoun_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document token stream with pronouns injected (' the ' ->
    ' it ') — corpus vocabulary has no natural pronouns; the
    substitution is deterministic in both engines (literal
    non-overlapping regexp_replace)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.lit(0).cast("long").alias("sent_idx"),
        F.posexplode(
            F.expr(
                "regexp_extract_all(regexp_replace(lower(text),"
                " ' the ', ' it '), r'(?U)\\w+|[^\\w\\s]', 0)"
            )
        ).alias("tok_idx", "tok"),
    ).select(
        "doc_id", "sent_idx",
        F.col("tok_idx").cast("long").alias("tok_idx"), "tok",
    )


def q_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the deterministic pred/gold token
    labelings (error_regions' rater pair) — chance-corrected
    agreement as one double division of exact BIGINTs."""
    from easyner_spark.operators.evaluate import cohens_kappa

    toks = _pronoun_tokens(spark, sf_dir)
    gold = toks.select(
        "doc_id", "sent_idx", "tok_idx",
        F.when(F.col("tok").isin("hash", "scan"), F.lit("B"))
        .otherwise(F.lit("O")).alias("label"),
    )
    pred = toks.select(
        "doc_id", "sent_idx", "tok_idx",
        F.when(
            (F.col("tok") == "hash") & (F.col("tok_idx") % 2 == 0),
            F.lit("B"),
        ).otherwise(F.lit("O")).alias("label"),
    )
    return cohens_kappa(pred, gold).select(
        "n", "agree", "chance_prod_sum", "kappa"
    )


_KWIC_TERMS = ("hash", "scan", "merge")


def q_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance: first occurrence of each query
    term per document (instr-located char offsets), 20-char windows —
    pure substring arithmetic, zero UDF, zero regex."""
    from easyner_spark.operators.search import kwic

    docs = _docs(spark, sf_dir)
    sents = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(0).cast("long").alias("sent_idx"),
        F.col("text").alias("sentence"),
    )
    parts = []
    for t in _KWIC_TERMS:
        pos = F.instr(F.col("sentence"), t)
        parts.append(
            sents.where(pos > 0).select(
                "url",
                "sent_idx",
                (pos - 1).cast("long").alias("begin"),
                (pos - 1 + len(t)).cast("long").alias("end"),
                F.lit(t).alias("mention"),
            )
        )
    ments = parts[0]
    for x in parts[1:]:
        ments = ments.unionByName(x)
    return kwic(ments, sents, window=20)


def _merge_label_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic noisy-label synthesis: four base names cycled by
    doc_id, a numeric qualifier, and a trailing-typo variant every 7th
    doc — guarantees distance-1 pairs inside prefix blocks."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    base = (
        F.when(did % 4 == 0, F.lit("alpha"))
        .when(did % 4 == 1, F.lit("beta"))
        .when(did % 4 == 2, F.lit("gamma"))
        .otherwise(F.lit("delta"))
    )
    label = F.concat(
        base,
        (did % 25).cast("string"),
        F.when(did % 7 == 0, F.lit("x")).otherwise(F.lit("")),
    )
    return d.select(
        F.concat(F.lit("n"), did.cast("string")).alias("id"),
        label.alias("label"),
    )


_MERGE_LABELS_SQL = """
SELECT 'n' || doc_id AS id,
       (CASE WHEN doc_id % 4 = 0 THEN 'alpha'
             WHEN doc_id % 4 = 1 THEN 'beta'
             WHEN doc_id % 4 = 2 THEN 'gamma'
             ELSE 'delta' END)
       || (doc_id % 25)
       || (CASE WHEN doc_id % 7 = 0 THEN 'x' ELSE '' END) AS label
FROM documents
"""


def q_entity_merge_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage merge candidates over noisy entity labels:
    two-key (prefix/suffix + length-bucket) blocking, block-size cap,
    JVM levenshtein verify — the typo-tolerant canonicalization feeder
    name_similarity_edges' char-grams under-score."""
    from easyner_spark.operators.nel import edit_merge_candidates

    return edit_merge_candidates(
        _merge_label_rows(spark, sf_dir), max_dist=2
    ).select("id_a", "id_b", "label_a", "label_b", "dist")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-packing metadata: every document's landing
    position (window id + offset) in the capacity-512 packed token
    stream, computed by the distributed two-pass prefix sum (no
    Exchange SinglePartition; the oracle uses the serial window the
    engine refuses to plan). Exact integers only."""
    from easyner_spark.operators.sampling import pack_sequences
    from easyner_spark.operators.textstats import words_array

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(words_array("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(d, capacity=512)


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles of document length: ONE value-keyed
    aggregate collapses the corpus to its distinct lengths, then the
    running-sum window + rank pick run on that bounded table. q rides
    as integer micro-units, rank via integer ceil-division — every
    cell integer-exact (sketches.exact_quantiles)."""
    from easyner_spark.operators.sketches import exact_quantiles

    return exact_quantiles(_docs(spark, sf_dir), F.length("text"))


CMS_CANDIDATES = ["join", "hash", "row", "batch", "scan", "zzznope"]


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point estimates for a candidate term list over the
    document token stream — O(d*w) sketch state instead of a full
    GROUP BY over the key space; the absent candidate ('zzznope')
    exercises collision-floor behavior. Deterministic md5-seeded
    rows; the oracle rebuilds the identical sketch
    (sketches.cms_oracle_sql)."""
    from easyner_spark.operators.sketches import cms_estimate, cms_sketch
    from easyner_spark.operators.textstats import words_array

    tok = _docs(spark, sf_dir).select(F.explode(words_array("text")).alias("x"))
    sk = cms_sketch(tok, "x")
    cand = spark.createDataFrame([(t,) for t in CMS_CANDIDATES], "term string")
    return cms_estimate(sk, cand)


def q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the entity co-occurrence graph: extraction-noise
    periphery peels away, the dense evidence core survives with its
    within-core degree. Capped-round contract — both engines run at
    most 8 peeling rounds; convergence within the cap is asserted by
    pytest at this scale (graph.k_core docstring)."""
    from easyner_spark.operators.graph import k_core, sentence_pairs

    pairs = sentence_pairs(_mentions(spark, sf_dir))
    und = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return k_core(und, k=2, max_rounds=8)


# ---------------------------------------------------------------------------
# Webtext URL/host operators over the documents table with
# deterministically synthesized urls (input_hint: pages keyed by url).
# The url construction is repeated VERBATIM in the oracle SQL; both
# engines parse with the same ASCII regexes.
# ---------------------------------------------------------------------------


def _synth_url_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages with a skewed deterministic url per doc:
    30% of docs on one hot host, 20% on a second, the rest spread over
    37 tail hosts; every 13th doc http, every 11th carries a port."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    host = (
        F.when(did % 10 < 3, F.lit("hub.example.com"))
        .when(did % 10 < 5, F.lit("blog.example.org"))
        .otherwise(F.concat(F.lit("site"), (did % 37).cast("string"), F.lit(".example.net")))
    )
    scheme = F.when(did % 13 == 0, F.lit("http")).otherwise(F.lit("https"))
    port = F.when(did % 11 == 0, F.lit(":8080")).otherwise(F.lit(""))
    url = F.concat(scheme, F.lit("://"), host, port, F.lit("/p/"), did.cast("string"))
    return d.select("doc_id", url.alias("url"), "text", "lang")


def q_host_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-skew profile: rank/share/cumulative share plus the salt
    factor a host-keyed join would need (target 50 rows/partition at
    this scale so the hot host actually salts)."""
    from easyner_spark.operators.webtext import host_skew_profile

    out = host_skew_profile(_synth_url_pages(spark, sf_dir), target_partition_rows=50)
    return out.select(
        "host",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("host_rank").cast("long").alias("host_rank"),
        "share",
        "cum_share",
        F.col("salt").cast("long").alias("salt"),
    )


def q_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-proportional deterministic sampling (FineWeb-style soft
    quality filter): keep probability n_words/200, integer-exact
    md5_long32 cross-multiplication gate, zero shuffle."""
    from easyner_spark.operators.sampling import quality_weighted_sample
    from easyner_spark.operators.textstats import words_array

    scored = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(words_array("text")).cast("long").alias("n_words"),
    )
    return quality_weighted_sample(
        scored, score_col="n_words", max_score=200, key="doc_id", seed="qs1"
    ).select(F.col("doc_id").alias("id"), "n_words")


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl change tracking: 5 synthetic fetches per url with
    deterministic text flips (did%7<2 appends ' v2'), lag-compare per
    url ordered by unique warc_ts."""
    from easyner_spark.operators.webtext import crawl_delta

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://site"), (did % 100).cast("string"), F.lit(".example.net/p")
    )
    text = F.concat(
        F.lit("page content "),
        (did % 100).cast("string"),
        F.when(did % 7 < 2, F.lit(" v2")).otherwise(F.lit("")),
    )
    pages = d.select(
        url.alias("url"),
        (F.lit(1700000000) + did).cast("long").alias("warc_ts"),
        text.alias("text"),
        "doc_id",
    )
    out = crawl_delta(pages)
    return out.select(
        "url",
        "warc_ts",
        F.col("doc_id").cast("long").alias("doc_id"),
        "change",
        F.col("delta_chars").cast("long").alias("delta_chars"),
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup over documents
    restructured into newline paragraphs, with shared boilerplate
    paragraphs ('subscribe...', 'all rights reserved') injected on
    every 2nd/3rd doc so cross-document collapse actually fires."""
    from easyner_spark.operators.dedup import paragraph_dedup

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    text = F.concat(
        F.regexp_replace("text", " a ", "\n"),
        F.when(did % 2 == 0, F.lit("\nsubscribe to our newsletter")).otherwise(
            F.lit("")
        ),
        F.when(did % 3 == 0, F.lit("\nall rights reserved")).otherwise(F.lit("")),
    )
    out = paragraph_dedup(d.select("doc_id", text.alias("text")))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text_dedup",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


def q_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy NEL second pass (nel.fuzzy_link_surfaces): surface forms
    the exact alias join misses — pluralized and head-clipped variants
    of every alias term — map to the char-gram-closest alias entity
    (bipartite inverted-index join, per-surface argmax window:
    jq desc, ID asc, term asc). The oracle rebuilds the whole chain
    including the tie on 'rapamycin' carrying two KB ids (min ID must
    win deterministically)."""
    from easyner_spark.operators.nel import fuzzy_link_surfaces

    t = _alias_df(spark).select(F.lower("term").alias("term"))
    surfaces = (
        t.select(F.concat("term", F.lit("s")).alias("name"))
        .unionByName(t.select(F.substring("term", 2, 1000).alias("name")))
        .distinct()
    )
    return fuzzy_link_surfaces(surfaces, _alias_df(spark), k=3, threshold=0.4)


def q_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-name canonicalization edges: EXACT char-3-gram
    Jaccard >= 0.5 between corpus surface forms and their pluralized
    variants (inverted-index join, never all-pairs) — the record-
    linkage feeder operators/components merges into canonical nodes.
    Oracle generated by nel.name_similarity_oracle_sql."""
    from easyner_spark.operators.nel import name_similarity_edges

    words = (
        _docs(spark, sf_dir)
        .select(F.explode(F.expr(r"regexp_extract_all(lower(text), '\\w+', 0)")).alias("name"))
        .distinct()
    )
    names = words.unionByName(
        words.select(F.concat(F.col("name"), F.lit("s")).alias("name"))
    ).distinct()
    return name_similarity_edges(names, k=3, threshold=0.5)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context training-window chunker (32-token windows, 8
    overlap, runt tails under 5 tokens dropped unless they're the
    doc's only chunk) — zero shuffle, one scan-fused narrow chain.
    Oracle generated by the operator's own chunk_docs_oracle_sql
    (generate_series stride + 1-based inclusive list_slice)."""
    from easyner_spark.operators.sampling import chunk_docs

    return chunk_docs(_docs(spark, sf_dir), max_tokens=32, overlap=8, min_tail=5)


# Closed 23-entity synthetic KG shared by the kg_degree_stats and
# kg_pattern* queries AND their oracles — one definition per side so
# the Spark/SQL pairs cannot drift.
_KG_EDGES_SQL = """SELECT 'e' || (doc_id % 23) AS a,
    'e' || ((doc_id * 7 + 3) % 23) AS b
  FROM documents
  WHERE (doc_id % 23) != ((doc_id * 7 + 3) % 23)"""

_KG_TRIPLES_SQL = """SELECT DISTINCT 'e' || (doc_id % 23) AS subj,
    CASE WHEN doc_id % 3 = 0 THEN 'inhibits'
         WHEN doc_id % 3 = 1 THEN 'binds'
         ELSE 'activates' END AS pred,
    'e' || ((doc_id * 7 + 3) % 23) AS obj
  FROM documents
  WHERE (doc_id % 23) != ((doc_id * 7 + 3) % 23)"""


def _kg_synth_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) twin of _KG_EDGES_SQL (non-distinct; callers dedup
    as their operator requires)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    return d.select(
        F.concat(F.lit("e"), (did % 23).cast("string")).alias("src"),
        F.concat(F.lit("e"), ((did * 7 + 3) % 23).cast("string")).alias("dst"),
    ).where((did % 23) != ((did * 7 + 3) % 23))


def _kg_synth_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subj, pred, obj) twin of _KG_TRIPLES_SQL (distinct)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    return (
        d.select(
            F.concat(F.lit("e"), (did % 23).cast("string")).alias("subj"),
            F.when(did % 3 == 0, F.lit("inhibits"))
            .when(did % 3 == 1, F.lit("binds"))
            .otherwise(F.lit("activates"))
            .alias("pred"),
            F.concat(F.lit("e"), ((did * 7 + 3) % 23).cast("string")).alias("obj"),
        )
        .where((did % 23) != ((did * 7 + 3) % 23))
        .distinct()
    )


# Richer closed synthetic KG (the "rule KG") behind the KG-facade
# queries: 31-entity vocab, 7 predicates built as residue permutations
# x -> a*x+b (mod 31) so the DISTINCT triple set is the same exact
# algebra at every sf >= 217 docs, with designed structure: employs =
# works_for^-1, city_of = located_in gated on subj residue, near an
# involution, and same_region = near o located_in gated on subj%5. One
# definition per side (the _KG_EDGES_SQL pattern).
_KG_RULES_SQL = """SELECT DISTINCT
  'n' || (CASE WHEN doc_id % 7 = 1 THEN (doc_id * 3 + 2) % 31
               ELSE doc_id % 31 END) AS subj,
  CASE doc_id % 7 WHEN 0 THEN 'works_for' WHEN 1 THEN 'employs'
       WHEN 2 THEN 'located_in' WHEN 3 THEN 'city_of'
       WHEN 4 THEN 'near' WHEN 5 THEN 'partner_of'
       ELSE 'same_region' END AS pred,
  'n' || (CASE doc_id % 7
       WHEN 0 THEN (doc_id * 3 + 2) % 31
       WHEN 1 THEN doc_id % 31
       WHEN 2 THEN (doc_id * 5 + 4) % 31
       WHEN 3 THEN (doc_id * 5 + 4) % 31
       WHEN 4 THEN (31 - doc_id % 31) % 31
       WHEN 5 THEN (doc_id * 7 + 9) % 31
       ELSE (doc_id * 26 + 27) % 31 END) AS obj
  FROM documents
  WHERE NOT (doc_id % 7 = 3 AND (doc_id % 31) % 3 = 0)
    AND NOT (doc_id % 7 = 5 AND (doc_id % 31) % 2 = 1)
    AND NOT (doc_id % 7 = 6 AND (doc_id % 31) % 5 = 0)"""


def _kg_rules_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subj, pred, obj) twin of _KG_RULES_SQL."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    m = did % 7
    x = did % 31
    subj = F.concat(
        F.lit("n"),
        F.when(m == 1, (did * 3 + 2) % 31).otherwise(x).cast("string"),
    )
    pred = (
        F.when(m == 0, F.lit("works_for"))
        .when(m == 1, F.lit("employs"))
        .when(m == 2, F.lit("located_in"))
        .when(m == 3, F.lit("city_of"))
        .when(m == 4, F.lit("near"))
        .when(m == 5, F.lit("partner_of"))
        .otherwise(F.lit("same_region"))
    )
    obj = F.concat(
        F.lit("n"),
        F.when(m == 0, (did * 3 + 2) % 31)
        .when(m == 1, x)
        .when(m == 2, (did * 5 + 4) % 31)
        .when(m == 3, (did * 5 + 4) % 31)
        .when(m == 4, (31 - x) % 31)
        .when(m == 5, (did * 7 + 9) % 31)
        .otherwise((did * 26 + 27) % 31)
        .cast("string"),
    )
    return (
        d.where(
            ~((m == 3) & (x % 3 == 0))
            & ~((m == 5) & (x % 2 == 1))
            & ~((m == 6) & (x % 5 == 0))
        )
        .select(subj.alias("subj"), pred.alias("pred"), obj.alias("obj"))
        .distinct()
    )


# Deterministic node-type table for the 31-entity rule KG: residue
# mod 3 -> person/place/org; 'n7' left untyped to exercise the
# unknown bucket. One definition per side.
_KG_TYPES_SQL = """SELECT 'n' || range AS entity_id,
  CASE range % 3 WHEN 0 THEN 'person' WHEN 1 THEN 'place'
       ELSE 'org' END AS ent_type
  FROM range(0, 31) WHERE range != 7"""


def _kg_rules_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(entity_id, ent_type) twin of _KG_TYPES_SQL."""
    r = spark.range(31).where(F.col("id") != 7)
    return r.select(
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("entity_id"),
        F.when(F.col("id") % 3 == 0, F.lit("person"))
        .when(F.col("id") % 3 == 1, F.lit("place"))
        .otherwise(F.lit("org"))
        .alias("ent_type"),
    )


# Shared KMV fixture: 5 hosts with overlapping deterministic token
# vocabularies (residues mod 211). One definition per side.
_KMV_SRC_SQL = """SELECT
  CASE WHEN doc_id % 10 < 3 THEN 'hub' WHEN doc_id % 10 < 5 THEN 'blog'
       ELSE 'site' || (doc_id % 3) END AS host,
  't' || (doc_id % 211) AS tok
  FROM documents"""


def _kmv_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, tok) twin of _KMV_SRC_SQL."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    host = (
        F.when(did % 10 < 3, F.lit("hub"))
        .when(did % 10 < 5, F.lit("blog"))
        .otherwise(F.concat(F.lit("site"), (did % 3).cast("string")))
    )
    return d.select(
        host.alias("host"),
        F.concat(F.lit("t"), (did % 211).cast("string")).alias("tok"),
    )


def q_host_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host KMV bottom-k distinct sketch (k=64) of the token
    column: exact counts below k, order-statistic inversion above —
    deterministic 48-bit md5 hashes, mapInPandas map-side prune, one
    bounded shuffle."""
    from easyner_spark.operators.sketches import kmv_sketch

    return kmv_sketch(_kmv_src(spark, sf_dir), "tok", ["host"], k=64).drop(
        "sketch"
    )


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise union / intersection / Jaccard estimates between the
    5 host token sets computed from the KMV sketches ALONE (no data
    rescan) — all BIGINT floor arithmetic, oracle-identical."""
    from easyner_spark.operators.sketches import kmv_set_ops, kmv_sketch

    sk = kmv_sketch(_kmv_src(spark, sf_dir), "tok", ["host"], k=64)
    return kmv_set_ops(sk, "host", k=64)


def q_entity_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity cards over the designed rule KG: per entity the top-3
    facts ranked by predicate rarity (ascending global edge count,
    deterministic tie-break) — the serving projection of the node/edge
    tables."""
    from easyner_spark.operators.triples import entity_summaries

    return entity_summaries(_kg_rules_triples(spark, sf_dir), k=3)


def q_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two deterministic epoch halves of
    the corpus (even vs odd doc_id) over the text-length histogram —
    exact micro-unit shares and signed deltas; sum(abs_delta)/2 is the
    total-variation distance, the crawl-shift tripwire."""
    from easyner_spark.operators.sketches import (
        histogram_drift,
        histogram_fixed_bins,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = d.where(F.col("doc_id") % 2 == 0).select(
        F.length("text").alias("x")
    )
    b = d.where(F.col("doc_id") % 2 == 1).select(
        (F.length("text") + (F.col("doc_id") % 90)).alias("x")
    )
    return histogram_drift(
        histogram_fixed_bins(a, "x", bin_width=100, n_bins=12),
        histogram_fixed_bins(b, "x", bin_width=100, n_bins=12),
    )


def _length_drift_oracle() -> str:
    """q_length_drift oracle: two histogram twins through the drift
    twin."""
    from easyner_spark.operators.sketches import (
        histogram_drift_oracle_sql,
        histogram_oracle_sql,
    )

    ha = histogram_oracle_sql(
        "length(text)",
        100,
        12,
        source="(SELECT * FROM documents WHERE doc_id % 2 = 0) AS da",
    )
    hb = histogram_oracle_sql(
        "length(text) + (doc_id % 90)",
        100,
        12,
        source="(SELECT * FROM documents WHERE doc_id % 2 = 1) AS db",
    )
    return histogram_drift_oracle_sql(ha, hb)


# N-Triples fixture: ids that exercise IRI percent-encoding (space,
# angle brackets, pipe, quote). One definition per side.
_NT_SRC_SQL = """SELECT
  'e' || (doc_id % 17)
      || CASE WHEN doc_id % 4 = 0 THEN ' sp' ELSE '' END AS subj,
  CASE WHEN doc_id % 2 = 0 THEN 'rel<a>' ELSE 'rel|b' END AS pred,
  'o"' || (doc_id % 13) AS obj
  FROM documents"""


def q_kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF N-Triples serialization of an edge table with
    spec-correct IRI percent-encoding — one codegen'd projection,
    zero shuffle; ids deliberately carry space/angle/pipe/quote to
    exercise every escape in the value hash."""
    from easyner_spark.sinks.rdf import to_ntriples

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    t = d.select(
        F.concat(
            F.lit("e"),
            (did % 17).cast("string"),
            F.when(did % 4 == 0, F.lit(" sp")).otherwise(F.lit("")),
        ).alias("subj"),
        F.when(did % 2 == 0, F.lit("rel<a>"))
        .otherwise(F.lit("rel|b"))
        .alias("pred"),
        F.concat(F.lit('o"'), (did % 13).cast("string")).alias("obj"),
    )
    return to_ntriples(t)


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over two deterministic
    6-bit dimensions of doc_id — the layout key behind
    sinks/layout.write_clustered's multi-dimensional file pruning;
    pure codegen'd bit math shared verbatim with the oracle."""
    from easyner_spark.sinks.layout import zorder_key

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        (F.col("doc_id") % 64).alias("x"),
        ((F.col("doc_id") * 7) % 64).alias("y"),
    ).select("doc_id", "x", "y", zorder_key(["x", "y"], bits=6).alias("zkey"))


def q_kg_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG health monitoring: exact quantiles of the node total-degree
    distribution over the closed 23-entity graph — the degree table is
    bounded (|nodes|), exactly the discrete-metric contract
    sketches.exact_quantiles documents."""
    from easyner_spark.operators.sketches import exact_quantiles

    edges = _kg_synth_edges(spark, sf_dir).distinct()
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return exact_quantiles(deg, "deg")


# Constraint-bearing synthetic KG for q_kg_violations: objects cycle
# mod 11 while subjects cycle mod 23, so 'capital_of' subjects
# accumulate multiple objects (functional violations) and 'located_in'
# objects accumulate multiple subjects (inverse-functional violations).
_KG_FUNC_SQL = """SELECT DISTINCT 'e' || (doc_id % 23) AS subj_id,
    CASE WHEN doc_id % 2 = 0 THEN 'capital_of' ELSE 'located_in' END AS pred,
    'c' || (doc_id % 11) AS obj_id
  FROM documents"""

_KG_CONSTRAINTS = [
    ("capital_of", "functional"),
    ("located_in", "inverse_functional"),
]


def q_kg_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-constraint contradiction table (OWL functional /
    inverse-functional property QA) over the engineered synthetic KG —
    the review gate between extracted edges and the canonical store.
    One composite-key shuffle per kind, no collect_set (conflicting
    sets can be hub-sized)."""
    from easyner_spark.operators.triples import functional_violations

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    edges = d.select(
        F.concat(F.lit("e"), (did % 23).cast("string")).alias("subj_id"),
        F.when(did % 2 == 0, F.lit("capital_of"))
        .otherwise(F.lit("located_in"))
        .alias("pred"),
        F.concat(F.lit("c"), (did % 11).cast("string")).alias("obj_id"),
    ).distinct()
    return functional_violations(edges, _KG_CONSTRAINTS)


# BGP query shared by q_kg_pattern and its oracle (one definition per
# side): ?x inhibits ?y, ?y binds ?z, ?x activates ?y — a chain join
# plus a second predicate constraint on an already-bound pair.
_KG_PATTERNS = [
    ("?x", "inhibits", "?y"),
    ("?y", "binds", "?z"),
    ("?x", "activates", "?y"),
]


def q_kg_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive triple-pattern (SPARQL-BGP-lite) query over the
    closed 23-entity KG: two entity-keyed equi-joins planned greedy
    most-bound-first by triples.match_patterns; the oracle verifies
    with the naive cross-product formulation (conjunctive queries are
    join-order independent under bag semantics, so the oracle checks
    the RESULT without replicating the plan). Runs through the
    cost-based path: bgp_stats' per-predicate (n_edges, n_subj,
    n_obj) System-R estimates replace the syntactic literal-count
    heuristic for the join order."""
    from easyner_spark.operators.triples import bgp_stats, match_patterns

    t = _kg_synth_triples(spark, sf_dir)
    return match_patterns(
        t,
        _KG_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        stats=bgp_stats(t, subj="subj", pred="pred", obj="obj"),
    )

_KG_OPT_PATTERNS = [("?x", "inhibits", "?y")]
_KG_OPT_GROUPS = [
    [("?y", "binds", "?z")],
    [("?w", "activates", "?x")],
]


def q_kg_pattern_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL over the closed KG: required ?x inhibits ?y
    with two optional groups (?y binds ?z; ?w activates ?x) — LEFT
    JOIN bag semantics, unmatched bindings keep NULLs; the oracle
    runs the same LEFT JOIN formulation naively."""
    from easyner_spark.operators.triples import match_patterns

    return match_patterns(
        _kg_synth_triples(spark, sf_dir),
        _KG_OPT_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        optionals=_KG_OPT_GROUPS,
    )


_KG_MINUS_PATTERNS = [("?x", "located_in", "?y")]
_KG_MINUS_GROUPS = [[("?y", "city_of", "?z")]]


def q_kg_pattern_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS over the rule KG: located_in pairs whose OBJECT is
    not itself a declared city (city_of's designed residue gaps make
    the exclusion split 31 -> 11 rows) — left anti-join on the shared
    variable, NOT EXISTS on the oracle side."""
    from easyner_spark.operators.triples import match_patterns

    return match_patterns(
        _kg_rules_triples(spark, sf_dir),
        _KG_MINUS_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        minus=_KG_MINUS_GROUPS,
    )


_KG_VALUES_BINDINGS = {"x": ("n1", "n2", "n3", "n4", "n5")}


def q_kg_pattern_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES over the rule KG: the located_in pattern
    restricted to five explicit subjects (the parameterized-query
    surface; isin predicates push to the scan)."""
    from easyner_spark.operators.triples import match_patterns

    return match_patterns(
        _kg_rules_triples(spark, sf_dir),
        [("?x", "located_in", "?y")],
        subj="subj",
        pred="pred",
        obj="obj",
        bindings=_KG_VALUES_BINDINGS,
    )


_KG_FILTER_PATTERNS = [
    ("?x", "located_in", "?y"),
    ("?y", "near", "?z"),
]
_KG_FILTERS = {
    "x": [(">=", "n1"), ("<", "n8")],   # binary string range
    "y": [("contains", "2")],
    "z": [("regex", "^n[0-9]+$"), ("!=", "n15")],
}


def q_kg_pattern_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER over the rule KG (r5): the located_in/near chain
    with per-variable scalar predicates — a binary-collation string
    range on ?x, substring containment on ?y, regex + inequality on
    ?z. match_patterns applies each predicate INSIDE every pattern
    frame that binds the variable (scan-level, before the joins —
    PushedFilters on a parquet KG), so the filters cut seed
    cardinality rather than trimming the joined result; the oracle
    emits the same predicates as WHERE conditions of the naive
    formulation."""
    from easyner_spark.operators.triples import match_patterns

    return match_patterns(
        _kg_rules_triples(spark, sf_dir),
        _KG_FILTER_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        filters=_KG_FILTERS,
    )


def _kg_pattern_filter_oracle() -> str:
    """q_kg_pattern_filter oracle: naive formulation with the SAME
    filter dict emitted as WHERE conditions."""
    from easyner_spark.operators.triples import match_patterns_oracle_sql

    return match_patterns_oracle_sql(
        _KG_RULES_SQL,
        _KG_FILTER_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        filters=_KG_FILTERS,
    )


_KG_AGG_PATTERNS = [("?x", "located_in", "?y")]
_KG_AGG_GROUP_BY = ["y"]
_KG_AGG_AGGS = {
    "n": ("count", "*"),
    "n_subj": ("count_distinct", "x"),
    "first_subj": ("min", "x"),
    "last_subj": ("max", "x"),
}


def q_kg_pattern_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL aggregation over the rule KG (r5): the located_in
    pattern rolled up per region — COUNT(*), COUNT(DISTINCT ?x),
    MIN/MAX(?x) GROUP BY ?y, applied over the solution bag after the
    full pattern algebra (the SELECT-COUNT shape CLI query mode
    special-cased is now native to match_patterns). One keyed
    shuffle; partial aggs absorb hub regions."""
    from easyner_spark.operators.triples import match_patterns

    return match_patterns(
        _kg_rules_triples(spark, sf_dir),
        _KG_AGG_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        group_by=_KG_AGG_GROUP_BY,
        aggregates=_KG_AGG_AGGS,
    )


def _kg_pattern_agg_oracle() -> str:
    """q_kg_pattern_agg oracle: outer GROUP BY over the naive
    formulation, from the SAME group_by/aggregates dicts."""
    from easyner_spark.operators.triples import match_patterns_oracle_sql

    return match_patterns_oracle_sql(
        _KG_RULES_SQL,
        _KG_AGG_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        group_by=_KG_AGG_GROUP_BY,
        aggregates=_KG_AGG_AGGS,
    )


def q_kg_pattern_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ORDER BY / LIMIT over the rule KG (r5): the located_in
    rollup ranked by count descending, top 10 — TakeOrderedAndProject
    (per-partition top-k + one tiny merge), never a global sort; the
    sort is made total (remaining columns ascending) on BOTH engines
    with explicit NULLS placement, so the surviving-k set is
    deterministic and oracle-checkable."""
    from easyner_spark.operators.triples import match_patterns

    return match_patterns(
        _kg_rules_triples(spark, sf_dir),
        _KG_AGG_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        group_by=_KG_AGG_GROUP_BY,
        aggregates={"n": ("count", "*")},
        order_by=[("n", "desc")],
        limit=10,
    )


def _kg_pattern_topk_oracle() -> str:
    """q_kg_pattern_topk oracle: ORDER BY ... LIMIT over the naive
    GROUP BY formulation, same total-order tie-break."""
    from easyner_spark.operators.triples import match_patterns_oracle_sql

    return match_patterns_oracle_sql(
        _KG_RULES_SQL,
        _KG_AGG_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        group_by=_KG_AGG_GROUP_BY,
        aggregates={"n": ("count", "*")},
        order_by=[("n", "desc")],
        limit=10,
    )


_KG_UNION_ALTS = [[("?x", "city_of", "?y")]]


def q_kg_pattern_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION over the rule KG: located_in pairs OR city_of
    pairs as ONE query (bag union of alternate required groups; the
    oracle runs the same UNION ALL formulation)."""
    from easyner_spark.operators.triples import match_patterns

    return match_patterns(
        _kg_rules_triples(spark, sf_dir),
        [("?x", "located_in", "?y")],
        subj="subj",
        pred="pred",
        obj="obj",
        unions=_KG_UNION_ALTS,
    )


def _kg_pattern_union_oracle() -> str:
    """q_kg_pattern_union oracle: UNION ALL formulation from the SAME
    alternates."""
    from easyner_spark.operators.triples import match_patterns_oracle_sql

    return match_patterns_oracle_sql(
        _KG_RULES_SQL,
        [("?x", "located_in", "?y")],
        subj="subj",
        pred="pred",
        obj="obj",
        unions=_KG_UNION_ALTS,
    )


_KG_PATH_PATTERNS = [
    ("?x", "works_for", "?e"),
    ("?e", "located_in+", "?y"),
]


def q_kg_property_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path over the rule KG: ?x works_for ?e,
    ?e located_in+ ?y — the employer's whole location ANCESTRY via
    the 10-hop-bounded transitive closure (BFS pair expansion with
    first-arrival pruning; recursive-CTE twin on the oracle side)."""
    from easyner_spark.operators.triples import match_patterns

    return match_patterns(
        _kg_rules_triples(spark, sf_dir),
        _KG_PATH_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
    )


def q_acronyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acronym-definition mining over injected definitions: 12
    deterministic 3-word org names with matching acronyms (initials
    spell it, leading 'The' exercises the Schwartz-Hearst suffix
    trim) plus a false parenthetical aside every 5th doc (initials
    mismatch, rejected)."""
    from easyner_spark.operators.nel import acronym_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    a = F.element_at(
        F.array(F.lit("Global"), F.lit("United"), F.lit("Open"),
                F.lit("Federal")),
        (did % 4 + 1).cast("int"),
    )
    b = F.element_at(
        F.array(F.lit("Web"), F.lit("Health"), F.lit("Data")),
        (did % 3 + 1).cast("int"),
    )
    acr = F.upper(
        F.concat(F.substring(a, 1, 1), F.substring(b, 1, 1), F.lit("C"))
    )
    text = F.concat(
        F.col("text"),
        F.lit(" The "),
        a, F.lit(" "), b, F.lit(" Council ("), acr, F.lit(") met."),
        F.when(
            did % 5 == 0, F.lit(" We read the new Policy (ZZX) today."),
        ).otherwise(F.lit("")),
    )
    return acronym_pairs(d.select("doc_id", text.alias("text")))


def q_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KG's interop export: the real extraction chain's distinct
    edges serialized as W3C N-Triples lines (byte-wise percent-encoded
    IRIs) — what a triple store loads."""
    from easyner_spark.operators.nel import link_entities, primary_alias
    from easyner_spark.operators.triples import extract_triples
    from easyner_spark.sinks.export import to_ntriples

    linked = link_entities(
        _mentions(spark, sf_dir), primary_alias(_alias_df(spark)),
        keep_unmatched=False,
    )
    edges = (
        extract_triples(linked)
        .select("subj_id", "pred", "obj_id")
        .distinct()
    )
    return to_ntriples(edges)


def q_entity_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preferred labels over the real canonical-mention stream with a
    deterministic md5-bucket component map (the co-occurrence closure
    over the tiny synthetic dictionary merges EVERYTHING into one
    component — value-matched but a 1-row check; the bucket map keeps
    multiple multi-id entities so the join, argmax, tie-break, and
    totals all carry signal)."""
    from easyner_spark.operators.nel import (
        entity_labels,
        link_entities,
        primary_alias,
    )

    linked = link_entities(
        _mentions(spark, sf_dir), primary_alias(_alias_df(spark)),
        keep_unmatched=False,
    )
    comp = (
        linked.select(F.col("entity_id").alias("node"))
        .distinct()
        .select(
            "node",
            F.concat(F.lit("g"), F.substring(F.md5("node"), 1, 1)).alias(
                "component"
            ),
        )
    )
    return entity_labels(linked, comp)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning over a synthetic ledger: mostly
    1-10 KB files with every 19th ~120 KB (oversized vs the 100 KB
    target — lands whole in one group, groups stay contiguous in path
    order). Reuses pack_sequences' distributed prefix sum."""
    from easyner_spark.sinks.checkpoint import compaction_plan

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    files = d.select(
        F.concat(F.lit("part-"), did.cast("string"), F.lit(".parquet")).alias(
            "path"
        ),
        F.when(did % 19 == 0, F.lit(120_000))
        .otherwise(1000 + (did * 37) % 9000)
        .cast("long")
        .alias("size_bytes"),
    )
    # NB: the prefix-sum range cache stays pinned until the driver
    # materializes the result (releasing it here would re-sample range
    # bounds on recompute — sampling.py docstring); q_pack_sequences
    # pins its cache for the session the same way.
    return compaction_plan(files, target_bytes=100_000)


def q_lang_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact length quantiles — the distributed
    (partitioned-window) grouped variant of length_quantiles; feeds
    the adaptive per-stratum quality gate (grouped_quantile_filter)."""
    from easyner_spark.operators.sketches import grouped_quantiles

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return grouped_quantiles(d, "lang", F.length("text"))


def q_ner_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distant-supervision NER training examples: 3-token context
    windows around every dictionary mention, from the same token
    stream dict_ner matched on."""
    from easyner_spark.operators.ner_dict import ner_examples

    out = ner_examples(_mentions(spark, sf_dir), _sentences(spark, sf_dir))
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("begin_tok").cast("long").alias("begin_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        "label",
        "left_ctx",
        "mention_txt",
        "right_ctx",
    )


def q_crawl_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-epoch fetch-budget apportionment across hosts by page
    count (Hamilton largest-remainder, exact integers): quotas sum to
    the 10000-fetch budget exactly; the skewed hub host draws its
    proportional share."""
    from easyner_spark.operators.sampling import apportion_budget

    p = _synth_url_pages(spark, sf_dir)
    from easyner_spark.operators.webtext import _host_col

    wts = (
        p.select(_host_col(F.col("url")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
    return apportion_budget(wts, budget=10_000)


def q_polite_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-capped fetch allocation over the skewed hosts: the
    hub host (30% of pages) declares Crawl-delay 2s, so its Hamilton
    share clips to 1800 fetches/hour and the surplus shows up in
    `clipped` (next epoch's carry); every 7th tail host declares 30s."""
    from easyner_spark.operators.sampling import polite_quota
    from easyner_spark.operators.webtext import _host_col

    p = _synth_url_pages(spark, sf_dir)
    wts = (
        p.select(_host_col(F.col("url")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
    delays = spark.createDataFrame(
        [("hub.example.com", 2)]
        + [(f"site{i}.example.net", 30) for i in range(0, 37, 7)],
        "host string, crawl_delay_s long",
    )
    return polite_quota(wts, delays, budget=10_000, epoch_seconds=3600)


def q_kg_node_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized KG node table (north rule: 'deduplicated
    node/edge tables'): per canonical entity — its cross-document
    component, mention/doc support, crawl-epoch span (doc_id % 5),
    and co-occurrence degree. Mention stats pre-agg on (entity, doc)
    so the doc count is Expand-free; degree over distinct symmetric
    pairs; components = the same distributed fixpoint q_components
    pins. Entities never co-occurring keep degree 0 and component =
    their own id."""
    from easyner_spark.operators.components import connected_components
    from easyner_spark.operators.nel import link_entities, primary_alias

    linked = link_entities(
        _mentions(spark, sf_dir), primary_alias(_alias_df(spark)),
        keep_unmatched=False,
    )
    m = linked.select(
        "entity_id", F.col("url").cast("long").alias("doc_id")
    )
    gd = (
        m.repartition("entity_id")
        .groupBy("entity_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pe = gd.groupBy("entity_id").agg(
        F.sum("c").cast("long").alias("n_mentions"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min(F.col("doc_id") % 5).cast("long").alias("first_epoch"),
        F.max(F.col("doc_id") % 5).cast("long").alias("last_epoch"),
    )
    t = q_triples(spark, sf_dir)
    nb = (
        t.select(F.col("subj_id").alias("e"), F.col("obj_id").alias("n"))
        .unionByName(
            t.select(F.col("obj_id").alias("e"), F.col("subj_id").alias("n"))
        )
        .distinct()
    )
    dg = nb.groupBy("e").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    comp = connected_components(
        t.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")),
        local_finish_edges=0,
    )
    return (
        pe.join(comp, pe["entity_id"] == comp["node"], "left")
        .join(dg, pe["entity_id"] == dg["e"], "left")
        .select(
            "entity_id",
            F.coalesce(F.col("component"), F.col("entity_id")).alias(
                "component"
            ),
            "n_mentions",
            "n_docs",
            "first_epoch",
            "last_epoch",
            F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"),
        )
    )


def q_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified eval-set selection: exactly 200 documents,
    apportioned across languages proportionally (Hamilton quotas),
    each stratum's rows chosen by smallest md5(doc_id) rank —
    deterministic, seed-free, sums exactly (mixture_sample's ppm gate
    is only right in expectation)."""
    from easyner_spark.operators.sampling import stratified_sample_exact

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    return stratified_sample_exact(d, group_col="lang", total=200)


def q_entity_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal burst detection over the NER mentions with epoch =
    doc_id % 5 (five synthetic crawl windows): is_burst is the pure-
    BIGINT cross-multiplied gate max*E > 2*total, burst_epoch the
    count-argmax epoch (smallest on ties)."""
    from easyner_spark.operators.analysis import entity_bursts

    m = _mentions(spark, sf_dir).select(
        "mention_lc", (F.col("url").cast("long") % 5).alias("epoch")
    )
    return entity_bursts(m, entity_col="mention_lc", epoch_col="epoch")


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style mixture resampling to fixed per-language keep
    rates (ppm): exact 32-bit md5 gate h32 * 1e6 < ppm * 2^32, pure
    BIGINT on both engines — no float thresholds. Zero shuffle."""
    from easyner_spark.operators.sampling import mixture_sample

    rates = {"en": 750_000, "de": 500_000, "fr": 250_000}
    return mixture_sample(
        _synth_url_pages(spark, sf_dir), rates, group_col="lang", key="url"
    ).select("doc_id", "url", "lang")


def _temp_mixture_rates() -> dict:
    """Shared (Spark + oracle) temperature-mixture rates: designed
    per-language corpus counts through temperature_targets(alpha=0.3)
    then mixture_rates — one Python source of truth, embedded as ppm
    literals on both sides (the q_mixture_sample pattern; the float
    pow happens ONCE, driver-side, never per row or per engine)."""
    from easyner_spark.operators.sampling import (
        mixture_rates,
        temperature_targets,
    )

    counts = {"en": 1_000_000, "de": 100_000, "fr": 10_000}
    return mixture_rates(counts, temperature_targets(counts, alpha=0.3))


def q_temp_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.3, the XLM-R rule) mixture
    resampling: designed head/tail language counts flattened into
    downsample-only ppm rates driver-side, rows gated by the exact
    BIGINT md5 threshold — head language downsampled hard, tail kept
    whole."""
    from easyner_spark.operators.sampling import mixture_sample

    return mixture_sample(
        _synth_url_pages(spark, sf_dir),
        _temp_mixture_rates(),
        group_col="lang",
        key="url",
    ).select("doc_id", "url", "lang")


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-gated 30% sample keyed on url (seed 'r3') —
    reproducible split selection, zero shuffle."""
    from easyner_spark.operators.sampling import deterministic_sample

    pages = _synth_url_pages(spark, sf_dir)
    out = deterministic_sample(pages, rate=0.3, key="url", seed="r3")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "url")


def _quality_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_synth_url_pages + deterministic quality and token-count
    columns: quality = ((doc_id*37) % 101) / 4 — the dyadic /4 keeps
    the DOUBLE bit-identical across engines; n_tokens is pure integer
    arithmetic. Host extracted for capping."""
    from easyner_spark.operators.webtext import url_parts

    did = F.col("doc_id")
    return url_parts(_synth_url_pages(spark, sf_dir)).select(
        "doc_id",
        "url",
        "host",
        (((did * 37) % 101).cast("double") / F.lit(4.0)).alias("quality"),
        (F.lit(50) + did % 200).cast("long").alias("n_tokens"),
    )


def q_per_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style domain diversity cap: best 5 pages per host by quality
    (url tie-break) — one host-keyed window."""
    from easyner_spark.operators.sampling import per_host_cap

    out = per_host_cap(
        _quality_pages(spark, sf_dir), cap=5, order_col="quality",
        id_col="url", keep_rank=True,
    )
    return out.select(
        "host", "url", "quality",
        F.col("host_rank").cast("long").alias("host_rank"),
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered token-budget corpus cut: the best documents
    whose running token sum stays within 30k tokens."""
    from easyner_spark.operators.sampling import token_budget_select

    out = token_budget_select(
        _quality_pages(spark, sf_dir), budget=30_000,
        order_col="quality", tokens_col="n_tokens", id_col="doc_id",
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "quality",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def q_latest_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of crawl-snapshot selection: 5 synthetic recrawls per url
    (doc_id % 100), deterministic warc_ts with deliberate ties so the
    struct-max tie-break is exercised; as_of cutoff drops the most
    recent fetches of some urls."""
    from easyner_spark.operators.webtext import latest_crawl

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    host = (
        F.when(did % 10 < 3, F.lit("hub.example.com"))
        .otherwise(F.concat(F.lit("site"), (did % 37).cast("string"), F.lit(".example.net")))
    )
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), (did % 100).cast("string"))
    ts = (F.lit(1700000000) + (did % 17) * 1000 + did % 7).cast("long")
    pages = d.select(url.alias("url"), ts.alias("warc_ts"), "doc_id")
    out = latest_crawl(pages, as_of=1700013000)
    return out.select("url", "warc_ts", F.col("doc_id").cast("long").alias("doc_id"))


def q_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate over documents restructured into
    multi-line web-ish text (bullets, ellipsis lines, hashtag spam,
    duplicated blocks injected deterministically by doc_id so every
    rule fires on a known subset)."""
    from easyner_spark.operators.textstats import gopher_filters

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did, nl = F.col("doc_id"), F.lit("\n")
    t1 = F.when(
        did % 5 == 0,
        F.concat(F.lit("- "), F.regexp_replace("text", " a ", "\n- ")),
    ).otherwise(F.regexp_replace("text", " a ", "\n"))
    t2 = F.when(did % 9 == 0, F.replace(t1, nl, F.lit("...\n"))).otherwise(t1)
    t3 = F.when(did % 3 == 0, F.concat(t2, F.lit(" ..."))).otherwise(t2)
    t4 = F.when(
        did % 7 == 0, F.concat(t3, F.lit("\nsee #a #b #c #d #e #f #g"))
    ).otherwise(t3)
    t5 = F.when(did % 11 == 0, F.concat(t4, nl, t4)).otherwise(t4)
    docs = d.select("doc_id", t5.alias("text"))
    out = gopher_filters(docs, min_words=30, max_words=100)
    return out.select(
        "doc_id",
        "n_words",
        "n_lines",
        "mean_word_len",
        "symbol_word_ratio",
        "bullet_line_ratio",
        "ellipsis_line_ratio",
        "alpha_word_ratio",
        "dup_line_frac",
        "word_count_ok",
        "mean_word_len_ok",
        "symbol_ratio_ok",
        "bullet_ok",
        "ellipsis_ok",
        "alpha_ok",
        "stopword_ok",
        "dup_line_ok",
        "gopher_keep",
    )


# ---------------------------------------------------------------------------
# Training-data-pipeline operators (dedup / text analysis) over the raw
# documents and events tables.
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministically injected PII
    (emails on doc_id%3==0, an IPv4 + phone tail on doc_id%5==0) so
    every category and the sequential-redaction order are exercised.
    The oracle replays the same injection and the same three-stage
    regexp pipeline in DuckDB (explicit 'g' flag — DuckDB replaces
    first-match by default while Spark replaces all)."""
    from easyner_spark.operators.textstats import pii_redact

    d = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" mail u"), sid, F.lit("@ex-a.org ok")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" ip 10."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".0.1 tel +46 70-123 45"),
                    (F.col("doc_id") % 10).cast("string"),
                    F.lit("8"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_redact(injected)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions over the events table via the built-in
    session_window aggregation; the oracle rebuilds sessions with the
    lag/gap-island formulation (new session when the micros gap is
    STRICTLY > 30 min — Spark merges adjacent windows, so an event at
    exactly prev + gap stays in the session; pinned by pytest), so the
    two independent formulations must agree on every boundary."""
    from easyner_spark.operators.events import sessionize

    return sessionize(_events(spark, sf_dir))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS OF join: every 'view' event matched to the user's most recent
    'click' at or before it (union-tag-window, one shuffle). The
    oracle is a LATERAL top-1 per view row with the same (ts desc,
    event_id desc) tie rule."""
    from easyner_spark.operators.events import asof_join

    ev = _events(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    from easyner_spark.operators.events import ts_micros

    out = asof_join(views, clicks, key="user_id", ts_col="ts")
    return out.select(
        "event_id",
        "user_id",
        ts_micros("ts").alias("ts_us"),
        F.col("event_id_right").alias("click_event_id"),
        ts_micros("ts_right").alias("click_ts_us"),
    )


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event rollup incl. a JSON field summed out of props
    (from_json JVM-side). Integer cents keep double sums exact."""
    from easyner_spark.operators.events import event_rollup

    return event_rollup(_events(spark, sf_dir))


def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape quality filter: unigram LM trained on the corpus
    itself (bounded vocab aggregate), every document scored by
    per-token cross-entropy. Cross-row sums are exact BIGINT µ-units
    (per-word floor(ln(p)*1e6)), floats only in per-row finals —
    oracle generated by the operator's own unigram_lm_oracle_sql."""
    from easyner_spark.operators.scoring import unigram_lm_score

    return unigram_lm_score(_docs(spark, sf_dir), min_count=2)


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM conditional cross-entropy (the KenLM/
    CCNet shape one order down): bounded bigram+unigram count tables,
    per-transition µ-unit quantization before the exact per-doc sum.
    Oracle generated by the operator's own bigram_lm_oracle_sql."""
    from easyner_spark.operators.scoring import bigram_lm_score

    return bigram_lm_score(_docs(spark, sf_dir), min_count=2)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear quality classifier (fastText shape):
    token -> md5 bucket -> deterministic integer weight, doc margin =
    exact BIGINT fold, prob = sigmoid. ZERO shuffles — the entire
    scorer is one scan-fused whole-stage-codegen projection."""
    from easyner_spark.operators.scoring import hashed_linear_score

    return hashed_linear_score(_docs(spark, sf_dir))


def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic cardinality sketch (linear counting over md5
    buckets): O(m) aggregate state, bit-identical estimate on every
    engine/run — the cross-engine-checkable alternative to HLL++ for
    corpus monitoring. Oracle from the operator's own generator."""
    from easyner_spark.operators.sketches import linear_count_distinct

    return linear_count_distinct(_docs(spark, sf_dir), "text")


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width document-length histogram (100-char bins, tail bin
    absorbs): one partial-agg aggregate over at most 20 keys."""
    from easyner_spark.operators.sketches import histogram_fixed_bins

    return histogram_fixed_bins(_docs(spark, sf_dir), F.length("text"), 100, 20)


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity terciles under the
    corpus's own add-one unigram LM; all-integer ce_nano metric,
    bounded milli-nat threshold bins, type-1 exact quantiles."""
    from easyner_spark.operators.scoring import ppl_buckets

    return ppl_buckets(_docs(spark, sf_dir), min_count=2).select(
        F.col("id").cast("long").alias("id"),
        "n_tokens",
        "ce_nano",
        "bucket",
    )


def q_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter EM record linkage over consecutive-doc candidate
    pairs with three agreement fields (lang, 50-word length bucket,
    first token) — pattern-level EM on a <= 8-row table, 5 iterations,
    round(9)+clamp state."""
    from easyner_spark.operators.nel import fs_em_linkage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from easyner_spark.operators.textstats import words_array

    feat = docs.select(
        F.col("doc_id").alias("id"),
        "lang",
        F.size(words_array("text")).cast("long").alias("nw"),
        F.get(words_array("text"), 0).alias("fw"),
    )
    a = feat.select(*[F.col(c).alias(f"{c}_a") for c in feat.columns])
    b = feat.select(*[F.col(c).alias(f"{c}_b") for c in feat.columns])
    pairs = (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            F.col("id_a"),
            F.col("id_b"),
            F.col("lang_a").eqNullSafe(F.col("lang_b")).alias("ag_lang"),
            F.expr("(nw_a div 50)")
            .eqNullSafe(F.expr("(nw_b div 50)"))
            .alias("ag_len"),
            F.col("fw_a").eqNullSafe(F.col("fw_b")).alias("ag_first"),
        )
    )
    out = fs_em_linkage(pairs, ("ag_lang", "ag_len", "ag_first"), iters=5)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "match_prob",
        "is_match",
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easyner_spark.operators.dedup import exact_dedup

    d = _docs(spark, sf_dir)
    dup = d.select((F.col("doc_id") + 500000).alias("doc_id"), "text")
    return exact_dedup(d.unionByName(dup)).select(
        "doc_id", "content_hash", "canonical_id", "is_dup"
    )


def q_boilerplate_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADVERSARIAL (non-identity) extraction oracle (VERDICT r2 #7).

    Each document's text is wrapped in HTML where correct extraction
    must CHANGE the input — a trivial "return the input" extractor
    cannot pass:

      - a kept ``<h1>Doc {id}</h1>`` headline block the extractor must
        EMIT (absent from documents.text);
      - nested boilerplate INSIDE the kept ``<p>`` block: a mid-
        paragraph ``<script>`` and a trailing ``<aside>`` rail that
        must be REMOVED without splitting the block, plus a ``PRE-``
        prefix so the kept block is not bytewise equal to the input;
      - the usual dropped envelope (head/style, nav, a link-dense
        related-links div, footer).

    Expected output (computed independently by the DuckDB oracle):
    ``'Doc ' || doc_id || '\\n' || 'PRE-' || text``."""
    from easyner_spark.operators.boilerplate import extract_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>t</title><style>p{}</style></head>"
                      "<body><nav>home | about | subscribe</nav>"
                      "<h1>Doc "),
                F.col("doc_id").cast("string"),
                F.lit("</h1><p>PRE-<script>var x=1;</script>"),
                F.col("text"),
                F.lit("<aside>share | print</aside></p>"
                      "<div><a href='/1'>rel one</a> <a href='/2'>rel two</a></div>"
                      "<footer>(c) crawl</footer></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    out = extract_text(pages)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("extracted").alias("text"),
    )


def q_pubmed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADVERSARIAL (non-identity) S2-parser oracle (VERDICT r2 #7).

    Each document's text becomes the FIRST of three labeled
    AbstractText sections in a PubMed baseline envelope; the real
    parser (sources/pubmed.py, reference scripts/pubmed_bulk.py:
    108-139) must:

      - join non-empty sections with a single space, SKIPPING the
        empty ``Label="METHODS"`` section;
      - NOT inject the Label attributes into the text;
      - flatten inline markup (``Conc<i>lusion</i>`` -> Conclusion,
        stringify_children semantics);
      - round-trip XML-escaped metachars in the document text.

    Expected output (computed independently by the DuckDB oracle):
    ``text || ' Conclusion S-' || doc_id`` — identity cannot pass."""
    import pandas as pd

    from easyner_spark.sources.pubmed import PUBMED_SCHEMA, parse_pubmed_xml_bytes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    xml = docs.select(
        F.encode(
            F.concat(
                F.lit(
                    "<PubmedArticleSet><PubmedArticle><MedlineCitation><PMID>"
                ),
                F.col("doc_id").cast("string"),
                F.lit(
                    "</PMID><Article><Journal><JournalIssue><PubDate>"
                    "<Year>2024</Year></PubDate></JournalIssue></Journal>"
                    "<ArticleTitle>t</ArticleTitle><Abstract>"
                    '<AbstractText Label="BACKGROUND" NlmCategory="BACKGROUND">'
                ),
                F.replace(
                    F.replace(
                        F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
                        F.lit("<"),
                        F.lit("&lt;"),
                    ),
                    F.lit(">"),
                    F.lit("&gt;"),
                ),
                F.lit(
                    "</AbstractText>"
                    '<AbstractText Label="METHODS"></AbstractText>'
                    '<AbstractText Label="CONCLUSIONS">Conc<i>lusion</i> S-'
                ),
                F.col("doc_id").cast("string"),
                F.lit(
                    "</AbstractText></Abstract></Article>"
                    "</MedlineCitation></PubmedArticle></PubmedArticleSet>"
                ),
            ),
            "UTF-8",
        ).alias("blob")
    )

    def gen(batches):
        cols = [
            "pmid", "title", "abstract", "mesh_terms",
            "pubdate", "chemical_list", "file_num",
        ]
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                rows.extend(parse_pubmed_xml_bytes(bytes(blob), 0))
            yield pd.DataFrame(rows, columns=cols)

    parsed = xml.mapInPandas(gen, PUBMED_SCHEMA)
    return parsed.select(
        F.col("pmid").cast("long").alias("doc_id"),
        F.col("abstract").alias("text"),
    )


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADVERSARIAL WARC-ingestion oracle (sources/warc.py — the
    Common-Crawl-style front of the pages table; loader shape mirrors
    sources/pubmed.py / reference scripts/pubmed_bulk.py:108-139).

    Each document becomes a three-record WARC/1.0 segment built in
    pure SQL expressions — warcinfo + request + response — and the
    real parser must:

      - skip the warcinfo and request records (WARC-Type gate), while
        still honoring THEIR Content-Length headers exactly (the
        request record's length varies with the url, so any boundary
        drift corrupts the response record that follows);
      - cut the response record by Content-Length, NOT by scanning
        for blank lines: the html body embeds a ``\\r\\n\\r\\nWARC/1.0``
        decoy that defeats delimiter-scanning parsers;
      - count OCTETS, not characters (the body carries a multi-byte
        'é'), read the status from the HTTP status line (doc_id%7==0
        pages are 404) and the mime from Content-Type before ';'.

    Expected output computed independently by the DuckDB oracle in
    closed form — identity cannot pass."""
    import pandas as pd

    from easyner_spark.sources.warc import WARC_SCHEMA, parse_warc_bytes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = docs.select(
        F.col("doc_id"),
        F.concat(F.lit("https://example.com/d/"), F.col("doc_id").cast("string")).alias("u"),
        F.concat(
            F.lit("2024-01-01T00:00:"),
            F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
            F.lit("Z"),
        ).alias("dt"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(404)).otherwise(F.lit(200)).alias("st"),
        F.concat(
            F.lit("<html><body>\r\n\r\nWARC/1.0 decoy\r\n<p>é "),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("body"),
    )

    def rec(wtype: str, uri, payload, ctype: str):
        return F.concat(
            F.lit(f"WARC/1.0\r\nWARC-Type: {wtype}\r\nWARC-Target-URI: "),
            uri,
            F.lit("\r\nWARC-Date: "),
            F.col("dt"),
            F.lit(f"\r\nContent-Type: {ctype}\r\nContent-Length: "),
            F.octet_length(payload).cast("string"),
            F.lit("\r\n\r\n"),
            payload,
            F.lit("\r\n\r\n"),
        )

    http = F.concat(
        F.lit("HTTP/1.1 "),
        F.col("st").cast("string"),
        F.lit(" OK\r\nContent-Type: text/html; charset=UTF-8\r\nContent-Length: "),
        F.octet_length("body").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("body"),
    )
    reqp = F.concat(F.lit("GET "), F.col("u"), F.lit(" HTTP/1.1\r\nHost: x\r\n\r\n"))
    blob = F.concat(
        rec("warcinfo", F.lit("urn:info"), F.lit("software: test\r\n"), "application/warc-fields"),
        rec("request", F.col("u"), reqp, "application/http; msgtype=request"),
        rec("response", F.col("u"), http, "application/http; msgtype=response"),
    )
    seg = d.select(F.encode(blob, "UTF-8").alias("blob"))

    def gen(batches):
        cols = ["url", "warc_date", "status", "mime", "html"]
        for pdf in batches:
            rows = []
            for b in pdf["blob"]:
                rows.extend(parse_warc_bytes(bytes(b)))
            yield pd.DataFrame(rows, columns=cols)

    parsed = seg.mapInPandas(gen, WARC_SCHEMA)
    return parsed.select(
        F.regexp_extract("url", r"d/(\d+)", 1).cast("long").alias("doc_id"),
        "url",
        "warc_date",
        "status",
        "mime",
        F.decode(F.col("html"), "UTF-8").alias("body_text"),
    )


def q_craft_iob2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAFT pubannotator -> IOB2 converter (sources/craft.py; reference
    supplementary/experiment_scripts/CRAFT_preprocessing_spacy.py:20-84)
    over a closed-form adversarial corpus: per document the text is
    ``T{id} binds protein X34 in vivo , strongly .`` and the denotation
    list (in file order) exercises every converter quirk —

      d1 mid-token span inside 'protein'  -> expands to the whole token (B);
      d2 obj='_FRAGMENT'                  -> dropped;
      d3 span over 'protein'+'X34'        -> expanded start < pointer, SKIPPED;
      d4 span inside 'X34'                -> accepted after the skip (B);
      d5 'in vivo'                        -> multi-token B/I;
      d6 early span, late file position   -> out-of-order pointer skip;
      d7 'strongly .'                     -> trailing B/I across punctuation.

    Expected labels per doc: O O B B B I O B I — the oracle emits them
    in closed form (all spans are offsets relative to len('T'||id), so
    the oracle needs no char arithmetic)."""
    from easyner_spark.sources.craft import craft_to_iob2

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    L = F.length(F.concat(F.lit("T"), F.col("doc_id").cast("string")))

    def den(i: int, obj: str, b: int, e: int):
        return F.struct(
            F.lit(f"d{i}").alias("id"),
            F.lit(obj).alias("obj"),
            F.struct(
                (L + F.lit(b)).cast("long").alias("begin"),
                (L + F.lit(e)).cast("long").alias("end"),
            ).alias("span"),
        )

    pa = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("T"),
            F.col("doc_id").cast("string"),
            F.lit(" binds protein X34 in vivo , strongly ."),
        ).alias("text"),
        F.array(
            den(1, "PR", 8, 10),
            den(2, "_FRAGMENT", 1, 6),
            den(3, "CHEM", 9, 18),
            den(4, "GENE", 15, 17),
            den(5, "CELL", 19, 26),
            den(6, "OOO", 1, 5),
            den(7, "ADJ", 29, 39),
        ).alias("denotations"),
    )
    out = craft_to_iob2(pa)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tok_idx").cast("long").alias("tok_idx"),
        "token",
        "label",
    )


def q_flair_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flair 3-column prediction-file reader (operators/iob.
    parse_flair_lines; reference supplementary/experiment_scripts/
    Flair_prediction_evaluation.py:10-12) driven end-to-end through a
    REAL file: one 3-token sentence per document (sorted doc_id order,
    blank-line boundaries), written to /tmp (driver-side fixture
    generation — the collect is the fixture, not the operator), parsed
    back through the single-partition line reader. The oracle rebuilds
    (seq_id, tok_idx, token, label_true, label_pred) in closed form:
    seq_id = dense doc rank, tokens w{id}{a,b,c}, fixed gold/pred
    labels including a disagreement pair."""
    import os

    from easyner_spark.operators.iob import parse_flair_lines

    ids = [
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .orderBy("doc_id")
        .collect()
    ]
    rows = [("a", "B-GENE", "B-GENE"), ("b", "I-GENE", "O"), ("c", "O", "B-CHEM")]
    lines = []
    for d in ids:
        lines.extend(f"w{d}{suf} {lt} {lp}" for suf, lt, lp in rows)
        lines.append("")
    path = f"/tmp/easyner_flair_parse_{len(ids)}_{ids[0]}_{ids[-1]}.txt"
    if not os.path.exists(path):
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.replace(tmp, path)
    out = parse_flair_lines(spark, path)
    return out.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        F.col("tok_idx").cast("long").alias("tok_idx"),
        "token",
        "label_true",
        "label_pred",
    )


def _kg_rules_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (src, dst) directed edge set of the designed rule KG
    (no self loops) — the shared graph under the path-query fixtures."""
    t = _kg_rules_triples(spark, sf_dir)
    return (
        t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def q_kg_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark BFS distances (GraphFrames shortestPaths contract)
    over the rule-KG edge set: every node's directed hop distance to
    landmarks n0/n5 within 3 hops — reverse frontier expansion, first
    arrival is minimal, hop counts exact BIGINT."""
    from easyner_spark.operators.graph import shortest_paths

    return shortest_paths(
        _kg_rules_edges(spark, sf_dir), ("n0", "n5"), k=3
    )


def q_kg_paths_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded simple-path enumeration ("how is X connected to Y"):
    every <=3-hop cycle-free directed path from n1/n2 into n0/n3 over
    the rule KG, the full hop sequence spelled out as 'a>b>c' — the
    provenance view a KG consumer shows next to an inferred edge."""
    from easyner_spark.operators.graph import kg_paths

    return kg_paths(
        _kg_rules_edges(spark, sf_dir),
        sources=("n1", "n2"),
        targets=("n0", "n3"),
        max_len=3,
    )


def q_kg_schema_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-level quotient of the rule KG (person/place/org residue
    types, n7 untyped -> 'unknown'): every (subj_type, pred, obj_type)
    cell with exact edge and distinct-participant counts — the schema
    summary and BGP-planner statistics table."""
    from easyner_spark.operators.triples import schema_graph

    return schema_graph(
        _kg_rules_triples(spark, sf_dir), _kg_rules_types(spark, sf_dir)
    )


def q_kg_metapath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """works_for>located_in metapath composition over the rule KG:
    "entity connected to place via an employer", with the exact count
    of distinct intermediate instantiations as edge weight."""
    from easyner_spark.operators.triples import metapath_join

    return metapath_join(
        _kg_rules_triples(spark, sf_dir), ("works_for", "located_in")
    )


_KG_AFFIL_SQL = """WITH affil_p AS (
  SELECT DISTINCT doc_id % 40 AS x FROM documents
)
SELECT 'p' || x AS subj, 'works_for' AS pred, 'c' || (x % 7) AS obj
  FROM affil_p
UNION ALL
SELECT 'c' || (x % 7), 'employs', 'p' || x FROM affil_p
UNION ALL
SELECT 'p' || x, 'works_for', 'c' || ((x + 3) % 7) FROM affil_p
  WHERE x % 5 = 0
UNION ALL
SELECT 'c' || ((x + 3) % 7), 'employs', 'p' || x FROM affil_p
  WHERE x % 5 = 0"""


def _kg_affil_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subj, pred, obj) twin of _KG_AFFIL_SQL."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = d.select((F.col("doc_id") % 40).alias("x")).distinct()
    px = F.concat(F.lit("p"), F.col("x").cast("string"))
    c1 = F.concat(F.lit("c"), (F.col("x") % 7).cast("string"))
    c2 = F.concat(F.lit("c"), ((F.col("x") + 3) % 7).cast("string"))
    moon = p.where(F.col("x") % 5 == 0)
    return (
        p.select(px.alias("subj"), F.lit("works_for").alias("pred"), c1.alias("obj"))
        .unionByName(
            p.select(c1.alias("subj"), F.lit("employs").alias("pred"), px.alias("obj"))
        )
        .unionByName(
            moon.select(
                px.alias("subj"), F.lit("works_for").alias("pred"), c2.alias("obj")
            )
        )
        .unionByName(
            moon.select(
                c2.alias("subj"), F.lit("employs").alias("pred"), px.alias("obj")
            )
        )
    )


def q_kg_pathsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PathSim peer similarity under the symmetric works_for>employs
    metapath over the affiliation KG (employs is works_for's exact
    inverse; unequal company sizes + double affiliations make the
    normalization bite) — micro-unit floors, each unordered pair once."""
    from easyner_spark.operators.triples import metapath_pathsim

    return metapath_pathsim(
        _kg_affil_triples(spark, sf_dir), ("works_for", "employs")
    )


def q_kg_ego(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop ego subgraph around n0/n5 over the rule KG: the induced
    edge set whose endpoints both lie within 2 undirected hops of a
    seed — one BFS + two broadcast semi-joins."""
    from easyner_spark.operators.graph import ego_subgraph

    return ego_subgraph(_kg_rules_edges(spark, sf_dir), ("n0", "n5"), k=2)


def _kg_ego_oracle() -> str:
    """q_kg_ego oracle: rule-KG edges through the operator's
    recursive-BFS twin."""
    from easyner_spark.operators.graph import ego_subgraph_oracle_sql

    prefix = f"""WITH RECURSIVE kgrE AS ({_KG_RULES_SQL}),
egoE AS (SELECT DISTINCT subj AS a, obj AS b FROM kgrE WHERE subj <> obj)"""
    return ego_subgraph_oracle_sql(prefix, ("n0", "n5"), k=2)


def q_kg_core_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core-number decomposition (k_max=3) of the rule KG's
    undirected projection — nested peels, each on the previous core's
    reduced edge set; the graph-ML coreness tier feature."""
    from easyner_spark.operators.graph import core_numbers

    return core_numbers(_kg_rules_edges(spark, sf_dir), k_max=3)


def _kg_core_numbers_oracle() -> str:
    """q_kg_core_numbers oracle: stacked unrolled peels over the
    canonical undirected rule-KG pairs."""
    from easyner_spark.operators.graph import core_numbers_oracle_sql

    prefix = f"""WITH kgrE AS ({_KG_RULES_SQL}),
cnE AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
        FROM kgrE WHERE subj <> obj)"""
    return core_numbers_oracle_sql(prefix, k_max=3)


_KG_WHEN_PATTERNS = [("?x", "p", "?y"), ("?y", "q", "?z")]

# Epoch-stamped chain fixture: 6 entities on a shifted cycle, three
# predicates by doc residue, epochs 0-3 — p's objects and q's
# subjects overlap so the chain binds. One definition per side.
_KG_WHEN_SQL = """SELECT 'e' || (doc_id % 6) AS subj,
  CASE doc_id % 3 WHEN 0 THEN 'p' WHEN 1 THEN 'q' ELSE 'r' END AS pred,
  'e' || ((doc_id + 1) % 6) AS obj,
  doc_id % 4 AS epoch
  FROM documents"""


def _kg_when_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subj, pred, obj, epoch) twin of _KG_WHEN_SQL."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    return d.select(
        F.concat(F.lit("e"), (did % 6).cast("string")).alias("subj"),
        F.when(did % 3 == 0, F.lit("p"))
        .when(did % 3 == 1, F.lit("q"))
        .otherwise(F.lit("r"))
        .alias("pred"),
        F.concat(F.lit("e"), ((did + 1) % 6).cast("string")).alias("obj"),
        (did % 4).alias("epoch"),
    )


def q_kg_standing_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing-query matching over the epoch-stamped triple stream:
    bindings of the p/q chain plus the first epoch at which the WHOLE
    binding held (greatest of per-triple first assertions, min over
    join witnesses) — `first_epoch = e` IS the per-epoch delta feed
    an incremental KG alerts on."""
    from easyner_spark.operators.triples import match_patterns_when

    return match_patterns_when(
        _kg_when_triples(spark, sf_dir),
        _KG_WHEN_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
    )


def _kg_standing_query_oracle() -> str:
    """q_kg_standing_query oracle: the epoch-stamped synthesis through
    the operator's rolled-min + greatest twin."""
    from easyner_spark.operators.triples import (
        match_patterns_when_oracle_sql,
    )

    return match_patterns_when_oracle_sql(
        _KG_WHEN_SQL, _KG_WHEN_PATTERNS, subj="subj", pred="pred", obj="obj"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages -> sentences -> dictionary NER -> ranked entity
    frequency top-50 (the reference pipeline's main output,
    reference README.md:71; scripts/analysis.py:40-80)."""
    from easyner_spark.operators.analysis import entity_frequency, top_n

    sf_dir = "/root/testdata/sf0.001"
    freq = entity_frequency(_mentions(spark, sf_dir), mention_col="mention_lc")
    return top_n(freq, 50)


# The external driver value-checks the FIRST 50 registry entries (in
# dict order) against the DuckDB oracles; the full registry runs locally
# via tools/check_oracle.py. Lead the registry with this round's touched
# operators and the riskiest recent additions so the driver's window
# covers them (VERDICT r3 #4); everything else keeps its historical
# order behind them. queries() and oracle_sql() reorder identically,
# so the 1:1 key contract is unaffected.
_DRIVER_WINDOW_FIRST = [
    # --- round 5 window: the new FILTER query, then the oldest
    # never-driver-verified registry queries (VERDICT r4 #1 —
    # close the external ledger; the driver checks the FIRST 50) ---
    "kg_pattern_filter", "kg_pattern_agg", "kg_pattern_topk",
    "kappa", "kg_kcore", "heavy_hitters",
    "pack_sequences", "length_quantiles", "entity_bursts",
    "kg_degree_stats", "kg_pattern", "kg_violations",
    # --- remaining never-driver-verified (orders the tail so any
    # wider driver window keeps covering unchecked queries first) ---
    "acronyms", "ntriples", "entity_labels",
    "compaction_plan", "lang_quantiles", "ner_examples",
    "eval_split", "kg_node_profile",
    "latest_crawl", "quality_sample", "crawl_delta", "name_match",
    "fuzzy_link", "chunk_docs", "mixture_sample",
    "deterministic_sample", "per_host_cap",
    "gopher_filters", "pii_redact",
    "distinct_count", "length_histogram", "sessionize", "asof_join",
    "event_rollup",
    "warc_extract", "craft_iob2", "flair_parse",
]


def _prioritize(d: dict) -> dict:
    out = {k: d[k] for k in _DRIVER_WINDOW_FIRST if k in d}
    out.update({k: v for k, v in d.items() if k not in out})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _prioritize({
        "split_sentences": q_split_sentences,
        "dict_ner": q_dict_ner,
        "entity_frequency": q_entity_frequency,
        "entity_frequency_batched": q_entity_frequency_batched,
        "link_entities": q_link_entities,
        "disambiguate": q_disambiguate,
        "triples": q_triples,
        "edges": q_edges,
        "entity_salience": q_entity_salience,
        "search_sentences": q_search_sentences,
        "search_mentions": q_search_mentions,
        "doc_offsets": q_doc_offsets,
        "term_freq_per_doc": q_term_freq_per_doc,
        "resolve_conflicts": q_resolve_conflicts,
        "span_eval": q_span_eval,
        "merger_v1_nested": q_merger_v1_nested,
        "co_occurrence": q_co_occurrence,
        "error_regions": q_error_regions,
        "components": q_components,
        "incremental_components": q_incremental_components,
        "k_hop": q_k_hop,
        "kg_pagerank": q_kg_pagerank,
        "entity_merge_cands": q_entity_merge_cands,
        "kwic": q_kwic,
        "kappa": q_kappa,
        "kg_kcore": q_kg_kcore,
        "heavy_hitters": q_heavy_hitters,
        "pack_sequences": q_pack_sequences,
        "length_quantiles": q_length_quantiles,
        "host_skew": q_host_skew,
        "entity_bursts": q_entity_bursts,
        "kg_shortest_paths": q_kg_shortest_paths,
        "kg_paths": q_kg_paths_2hop,
        "kg_schema_graph": q_kg_schema_graph,
        "kg_metapath": q_kg_metapath,
        "kg_pathsim": q_kg_pathsim,
        "kg_align": q_kg_align,
        "temp_mixture": q_temp_mixture,
        "kg_pattern_optional": q_kg_pattern_optional,
        "kg_property_path": q_kg_property_path,
        "kg_pattern_minus": q_kg_pattern_minus,
        "kg_pattern_values": q_kg_pattern_values,
        "kg_pattern_filter": q_kg_pattern_filter,
        "kg_pattern_agg": q_kg_pattern_agg,
        "kg_pattern_topk": q_kg_pattern_topk,
        "kg_pattern_union": q_kg_pattern_union,
        "kg_ego": q_kg_ego,
        "kg_core_numbers": q_kg_core_numbers,
        "kg_standing_query": q_kg_standing_query,
        "host_kmv": q_host_kmv,
        "kmv_set_ops": q_kmv_set_ops,
        "zorder_keys": q_zorder_keys,
        "entity_cards": q_entity_cards,
        "kg_ntriples": q_kg_ntriples,
        "length_drift": q_length_drift,
        "kg_degree_stats": q_kg_degree_stats,
        "kg_pattern": q_kg_pattern,
        "kg_violations": q_kg_violations,
        "acronyms": q_acronyms,
        "ntriples": q_ntriples,
        "entity_labels": q_entity_labels,
        "compaction_plan": q_compaction_plan,
        "lang_quantiles": q_lang_quantiles,
        "ner_examples": q_ner_examples,
        "crawl_quota": q_crawl_quota,
        "eval_split": q_eval_split,
        "polite_quota": q_polite_quota,
        "kg_node_profile": q_kg_node_profile,
        "latest_crawl": q_latest_crawl,
        "quality_sample": q_quality_sample,
        "crawl_delta": q_crawl_delta,
        "paragraph_dedup": q_paragraph_dedup,
        "name_match": q_name_match,
        "fuzzy_link": q_fuzzy_link,
        "chunk_docs": q_chunk_docs,
        "mixture_sample": q_mixture_sample,
        "deterministic_sample": q_deterministic_sample,
        "per_host_cap": q_per_host_cap,
        "token_budget": q_token_budget,
        "gopher_filters": q_gopher_filters,
        "pii_redact": q_pii_redact,
        "ppl_buckets": q_ppl_buckets,
        "fs_linkage": q_fs_linkage,
        "distinct_count": q_distinct_count,
        "length_histogram": q_length_histogram,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "event_rollup": q_event_rollup,
        "unigram_lm": q_unigram_lm,
        "bigram_lm": q_bigram_lm,
        "quality_classifier": q_quality_classifier,
        "exact_dedup": q_exact_dedup,
        "boilerplate_extract": q_boilerplate_extract,
        "pubmed_extract": q_pubmed_extract,
        "warc_extract": q_warc_extract,
        "craft_iob2": q_craft_iob2,
        "flair_parse": q_flair_parse,
    })


# ---------------------------------------------------------------------------
# DuckDB oracles. Shared CTE prelude mirroring the Spark pipeline:
# senticize -> normalize -> sentence split (sentinel chr(30) trick; RE2
# has no lookbehind) -> tokenize -> n-gram leads -> dictionary join.
# ---------------------------------------------------------------------------

_DICT_VALUES = ", ".join(f"('{t}', '{c}')" for t, c in DICT)
_ALIAS_VALUES = ", ".join(f"('{t}', '{i}')" for t, i in ALIAS)

_PRELUDE = r"""
WITH sent0 AS (
  SELECT doc_id,
         list_filter(
           string_split(
             regexp_replace(
               trim(regexp_replace(regexp_replace(text, ' a ', '. ', 'g'), '\n+', ' ', 'g')),
               '([.!?])\s+', '\1' || chr(30), 'g'),
             chr(30)),
           s -> length(s) > 0) AS sents
  FROM documents
),
sentences AS (
  SELECT doc_id,
         generate_subscripts(sents, 1) - 1 AS sent_idx,
         unnest(sents) AS sentence
  FROM sent0
),
toks AS (
  SELECT doc_id, sent_idx,
         generate_subscripts(regexp_extract_all(sentence, '\w+|[^\w\s]'), 1) - 1 AS tok_idx,
         unnest(regexp_extract_all(sentence, '\w+|[^\w\s]')) AS tok
  FROM sentences
),
leads AS (
  SELECT doc_id, sent_idx, tok_idx, tok AS t0,
         lead(tok, 1) OVER w AS t1,
         lead(tok, 2) OVER w AS t2
  FROM toks
  WINDOW w AS (PARTITION BY doc_id, sent_idx ORDER BY tok_idx)
),
grams AS (
  SELECT doc_id, sent_idx, tok_idx AS begin_tok, tok_idx + 1 AS end_tok, t0 AS gram FROM leads
  UNION ALL
  SELECT doc_id, sent_idx, tok_idx, tok_idx + 2, t0 || ' ' || t1 FROM leads WHERE t1 IS NOT NULL
  UNION ALL
  SELECT doc_id, sent_idx, tok_idx, tok_idx + 3, t0 || ' ' || t1 || ' ' || t2 FROM leads WHERE t2 IS NOT NULL
),
dict(term, class) AS (VALUES __DICT__),
mentions AS (
  SELECT g.doc_id, g.sent_idx, g.begin_tok, g.end_tok, g.gram AS mention_lc, d.class
  FROM grams g JOIN dict d ON g.gram = d.term
),
alias(term, id) AS (VALUES __ALIAS__),
linked AS (
  SELECT m.doc_id, m.sent_idx, m.begin_tok, m.end_tok, pa.id AS entity_id
  FROM mentions m
  JOIN (SELECT term, min(id) AS id FROM alias GROUP BY term) pa
    ON m.mention_lc = pa.term
),
firsts AS (
  SELECT doc_id, sent_idx, entity_id, begin_tok, end_tok,
         row_number() OVER (PARTITION BY doc_id, sent_idx, entity_id
                            ORDER BY begin_tok, end_tok) AS rn
  FROM linked
),
ranked AS (
  SELECT doc_id, sent_idx, entity_id,
         row_number() OVER (PARTITION BY doc_id, sent_idx
                            ORDER BY begin_tok, end_tok, entity_id) AS ord
  FROM firsts WHERE rn = 1
),
triples AS (
  SELECT a.doc_id, a.sent_idx, a.entity_id AS subj_id,
         'co_occurs_with' AS pred, b.entity_id AS obj_id
  FROM ranked a
  JOIN ranked b ON a.doc_id = b.doc_id AND a.sent_idx = b.sent_idx AND a.ord < b.ord
)
""".replace("__DICT__", _DICT_VALUES).replace("__ALIAS__", _ALIAS_VALUES)


# ---------------------------------------------------------------------------
# Oracle SQL for the training-data operators. Generated programmatically
# so the hash constants and marker lists are shared verbatim with the
# Spark implementations (easyner_spark.operators.{textstats,dedup}).
# Float determinism: every double is produced by the same IEEE op
# sequence in both engines (int/int divisions, literal-weight blends) —
# verified bitwise in tests.
# ---------------------------------------------------------------------------


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _cooc_pairs_cte() -> str:
    """_PRELUDE extended with pr(a, b): the canonical distinct entity
    co-occurrence pairs the kg_kcore oracle peels."""
    return _PRELUDE + """
, occ AS (SELECT DISTINCT doc_id, sent_idx, mention_lc AS term FROM mentions),
pr AS (
  SELECT DISTINCT x.term AS a, y.term AS b
  FROM occ x JOIN occ y
    ON x.doc_id = y.doc_id AND x.sent_idx = y.sent_idx AND x.term < y.term
)"""


def _kcore_oracle() -> str:
    from easyner_spark.operators.graph import k_core_oracle_sql

    return k_core_oracle_sql(_cooc_pairs_cte(), k=2, max_rounds=8)


def _pack_oracle() -> str:
    from easyner_spark.operators.sampling import pack_sequences_oracle_sql

    return pack_sequences_oracle_sql(
        512, tokens_expr="len(regexp_extract_all(lower(text), '\\w+'))"
    )


def _cms_oracle() -> str:
    from easyner_spark.operators.sketches import cms_oracle_sql

    stream = """
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS x FROM documents
)"""
    cand = " UNION ALL ".join(
        f"SELECT '{t}' AS term" for t in CMS_CANDIDATES
    )
    return cms_oracle_sql(stream, cand)


# Deterministic skewed url synthesis shared (verbatim) by the webtext
# oracle queries — the SQL twin of __spark_entry__._synth_url_pages.
_URL_HOST_CASE = """CASE WHEN doc_id % 10 < 3 THEN 'hub.example.com'
         WHEN doc_id % 10 < 5 THEN 'blog.example.org'
         ELSE 'site' || (doc_id % 37) || '.example.net' END"""

_URL_PAGES_CTE = f"""
WITH p AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 13 = 0 THEN 'http' ELSE 'https' END)
         || '://' || {_URL_HOST_CASE}
         || (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
         || '/p/' || doc_id AS url,
         text, lang
  FROM documents
),
h AS (
  SELECT *, regexp_replace(
              lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
              ':\\d+$', '') AS host
  FROM p
)
"""


def _kg_violations_oracle() -> str:
    """q_kg_violations oracle: same constraints list over the shared
    engineered edge synthesis."""
    from easyner_spark.operators.triples import (
        functional_violations_oracle_sql,
    )

    return functional_violations_oracle_sql(
        f"WITH e AS ({_KG_FUNC_SQL})", _KG_CONSTRAINTS
    )


def _ntriples_oracle() -> str:
    """q_ntriples oracle: the prelude's distinct edge set through the
    serializer's module-local twin (prelude nested as a FROM subquery
    — the plain-WITH nesting DuckDB accepts)."""
    from easyner_spark.sinks.export import to_ntriples_oracle_sql

    edges_sql = (
        "SELECT * FROM ("
        + _PRELUDE
        + " SELECT DISTINCT subj_id, pred, obj_id FROM triples)"
    )
    return to_ntriples_oracle_sql(edges_sql)


def _acronyms_oracle() -> str:
    """q_acronyms oracle: the same injected-definitions synthesis
    through the operator's module-local twin."""
    from easyner_spark.operators.nel import acronym_pairs_oracle_sql

    docs_sql = """
SELECT doc_id AS id,
  text || ' The '
  || (CASE (doc_id % 4) WHEN 0 THEN 'Global' WHEN 1 THEN 'United'
       WHEN 2 THEN 'Open' ELSE 'Federal' END)
  || ' '
  || (CASE (doc_id % 3) WHEN 0 THEN 'Web' WHEN 1 THEN 'Health'
       ELSE 'Data' END)
  || ' Council ('
  || upper(
       (CASE (doc_id % 4) WHEN 0 THEN 'g' WHEN 1 THEN 'u'
         WHEN 2 THEN 'o' ELSE 'f' END)
       || (CASE (doc_id % 3) WHEN 0 THEN 'w' WHEN 1 THEN 'h'
            ELSE 'd' END)
       || 'c')
  || ') met.'
  || (CASE WHEN doc_id % 5 = 0
      THEN ' We read the new Policy (ZZX) today.' ELSE '' END) AS text
FROM documents
"""
    return acronym_pairs_oracle_sql(docs_sql)


def _kg_pattern_oracle() -> str:
    """q_kg_pattern oracle: the naive conjunctive SQL generated from
    the SAME pattern list the Spark side plans greedily."""
    from easyner_spark.operators.triples import match_patterns_oracle_sql

    return match_patterns_oracle_sql(
        _KG_TRIPLES_SQL, _KG_PATTERNS, subj="subj", pred="pred", obj="obj"
    )


def _kg_pattern_optional_oracle() -> str:
    """q_kg_pattern_optional oracle: the LEFT JOIN formulation from
    the SAME required patterns + optional groups."""
    from easyner_spark.operators.triples import match_patterns_oracle_sql

    return match_patterns_oracle_sql(
        _KG_TRIPLES_SQL,
        _KG_OPT_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        optionals=_KG_OPT_GROUPS,
    )


def _kg_pattern_minus_oracle() -> str:
    """q_kg_pattern_minus oracle: NOT EXISTS formulation from the
    SAME required patterns + MINUS groups."""
    from easyner_spark.operators.triples import match_patterns_oracle_sql

    return match_patterns_oracle_sql(
        _KG_RULES_SQL,
        _KG_MINUS_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
        minus=_KG_MINUS_GROUPS,
    )


def _kg_pattern_values_oracle() -> str:
    """q_kg_pattern_values oracle: IN-list formulation from the SAME
    bindings dict."""
    from easyner_spark.operators.triples import match_patterns_oracle_sql

    return match_patterns_oracle_sql(
        _KG_RULES_SQL,
        [("?x", "located_in", "?y")],
        subj="subj",
        pred="pred",
        obj="obj",
        bindings=_KG_VALUES_BINDINGS,
    )


def _kg_property_path_oracle() -> str:
    """q_kg_property_path oracle: the rule-KG synthesis through the
    twin's recursive closure formulation."""
    from easyner_spark.operators.triples import match_patterns_oracle_sql

    return match_patterns_oracle_sql(
        _KG_RULES_SQL,
        _KG_PATH_PATTERNS,
        subj="subj",
        pred="pred",
        obj="obj",
    )


def _polite_quota_oracle() -> str:
    """q_polite_quota oracle: host page counts + literal delay rows
    fed to the operator's module-local twin."""
    from easyner_spark.operators.sampling import polite_quota_oracle_sql

    weights_sql = (
        _URL_PAGES_CTE
        + "SELECT host AS key, count(*)::BIGINT AS w FROM h GROUP BY host"
    )
    vals = ", ".join(
        ["('hub.example.com', 2)"]
        + [f"('site{i}.example.net', 30)" for i in range(0, 37, 7)]
    )
    delays_sql = (
        f"SELECT * FROM (VALUES {vals}) AS t(key, delay_s)"
    )
    return polite_quota_oracle_sql(
        weights_sql, delays_sql, budget=10_000, epoch_seconds=3600
    )


def _eval_split_oracle() -> str:
    """q_eval_split oracle: narrow documents projection fed to the
    operator's module-local twin."""
    from easyner_spark.operators.sampling import stratified_sample_oracle_sql

    return stratified_sample_oracle_sql(
        "SELECT doc_id, lang FROM documents", total=200
    )


def _crawl_quota_oracle() -> str:
    """q_crawl_quota oracle: per-host page counts from the skewed url
    synthesis fed to the operator's module-local twin."""
    from easyner_spark.operators.sampling import apportion_budget_oracle_sql

    weights_sql = (
        _URL_PAGES_CTE
        + "SELECT host AS key, count(*)::BIGINT AS w FROM h GROUP BY host"
    )
    return apportion_budget_oracle_sql(weights_sql, budget=10_000)


def _ner_examples_oracle() -> str:
    """q_ner_examples oracle: the shared mentions prelude fed to the
    operator's module-local twin."""
    from easyner_spark.operators.ner_dict import ner_examples_oracle_sql

    return ner_examples_oracle_sql(_PRELUDE, window=3)


def _lang_quantiles_oracle() -> str:
    from easyner_spark.operators.sketches import grouped_quantiles_oracle_sql

    return grouped_quantiles_oracle_sql("length(text)", "lang")


def _compaction_plan_oracle() -> str:
    """q_compaction_plan oracle: the synthetic ledger fed to the
    sink's module-local window-cumsum twin."""
    from easyner_spark.sinks.checkpoint import compaction_plan_oracle_sql

    files_sql = """SELECT 'part-' || doc_id || '.parquet' AS path,
    (CASE WHEN doc_id % 19 = 0 THEN 120000
          ELSE 1000 + (doc_id * 37) % 9000 END)::BIGINT AS size_bytes
  FROM documents"""
    return compaction_plan_oracle_sql(files_sql, target_bytes=100_000)


def _kg_degree_stats_oracle() -> str:
    """q_kg_degree_stats oracle: total-degree table of the closed
    graph as the quantile source."""
    from easyner_spark.operators.sketches import exact_quantiles_oracle_sql

    source = f"""(
  WITH e AS (SELECT DISTINCT a, b FROM ({_KG_EDGES_SQL}))
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
  ) GROUP BY node
) AS degsrc"""
    return exact_quantiles_oracle_sql("deg", source=source)


def _kg_shortest_paths_oracle() -> str:
    """q_kg_shortest_paths oracle: the rule-KG edge set walked
    backwards from the landmarks by the operator's recursive twin."""
    from easyner_spark.operators.graph import shortest_paths_oracle_sql

    prefix = f"""WITH RECURSIVE kgrE AS ({_KG_RULES_SQL}),
spE AS (SELECT DISTINCT subj AS a, obj AS b FROM kgrE WHERE subj <> obj)"""
    return shortest_paths_oracle_sql(prefix, ("n0", "n5"), k=3)


def _kg_paths_oracle() -> str:
    """q_kg_paths_2hop oracle: fenced simple-path recursion over the
    same edge set."""
    from easyner_spark.operators.graph import kg_paths_oracle_sql

    prefix = f"""WITH RECURSIVE kgrE AS ({_KG_RULES_SQL}),
kpE AS (SELECT DISTINCT subj AS a, obj AS b FROM kgrE WHERE subj <> obj)"""
    return kg_paths_oracle_sql(
        prefix, sources=("n1", "n2"), targets=("n0", "n3"), max_len=3
    )


def _kg_schema_graph_oracle() -> str:
    """q_kg_schema_graph oracle: rule-KG triples + residue types
    through the operator's module-local quotient twin."""
    from easyner_spark.operators.triples import schema_graph_oracle_sql

    return schema_graph_oracle_sql(_KG_RULES_SQL, _KG_TYPES_SQL)


def _kg_metapath_oracle() -> str:
    """q_kg_metapath oracle: rule-KG triples through the operator's
    chained-hop twin."""
    from easyner_spark.operators.triples import metapath_join_oracle_sql

    return metapath_join_oracle_sql(
        _KG_RULES_SQL, ("works_for", "located_in")
    )


def _kg_pathsim_oracle() -> str:
    """q_kg_pathsim oracle: affiliation-KG triples through the
    operator's flat-CTE PathSim twin (the fixture's own WITH folds
    into the twin's chain via a subquery)."""
    from easyner_spark.operators.triples import metapath_pathsim_oracle_sql

    return metapath_pathsim_oracle_sql(
        f"SELECT * FROM ({_KG_AFFIL_SQL})", ("works_for", "employs")
    )


def _temp_mixture_oracle() -> str:
    """q_temp_mixture oracle: the SAME driver-side rate dict (one
    Python source of truth) embedded as ppm literals over the shared
    BIGINT md5 gate."""
    rates = _temp_mixture_rates()
    case = " ".join(
        f"WHEN '{g}' THEN {ppm}" for g, ppm in sorted(rates.items())
    )
    return _URL_PAGES_CTE + f"""
SELECT doc_id, url, lang FROM h
WHERE ('0x' || substr(md5(url), 1, 8))::BIGINT * 1000000
      < (CASE lang {case} ELSE 0 END)::BIGINT * 4294967296
"""


_KG_ALIGN_PAIRS_SQL = """SELECT 's' || (doc_id % 25) AS a,
  't' || (doc_id % 40) AS b,
  (doc_id % 97)::BIGINT AS score
  FROM documents"""


def _kg_align_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b, score) twin of _KG_ALIGN_PAIRS_SQL."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    return d.select(
        F.concat(F.lit("s"), (did % 25).cast("string")).alias("a"),
        F.concat(F.lit("t"), (did % 40).cast("string")).alias("b"),
        (did % 97).cast("long").alias("score"),
    )


def q_kg_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-best-match entity alignment over a deterministic
    scored candidate table (25 source x 40 target entities, residue
    scores): keep (a, b) only when each is the other's argmax —
    min(struct) argmax both ways, lexicographic tie-break, exact
    integers."""
    from easyner_spark.operators.nel import reciprocal_best_links

    return reciprocal_best_links(_kg_align_pairs(spark, sf_dir))


def _kg_align_oracle() -> str:
    """q_kg_align oracle: the candidate synthesis through the
    operator's window-formulated twin."""
    from easyner_spark.operators.nel import reciprocal_best_links_oracle_sql

    return reciprocal_best_links_oracle_sql(_KG_ALIGN_PAIRS_SQL)


def _kg_ntriples_oracle() -> str:
    """q_kg_ntriples oracle: the escape-exercising synthesis through
    the sink's module-local twin (escape chains generated from the
    same pair tables)."""
    from easyner_spark.sinks.rdf import to_ntriples_oracle_sql

    return to_ntriples_oracle_sql(_NT_SRC_SQL)


def _entity_cards_oracle() -> str:
    """q_entity_cards oracle: rule-KG triples through the operator's
    module-local rank twin."""
    from easyner_spark.operators.triples import entity_summaries_oracle_sql

    return entity_summaries_oracle_sql(_KG_RULES_SQL, k=3)


def _zorder_keys_oracle() -> str:
    """q_zorder_keys oracle: the SAME generated bit-interleave
    expression (layout.zorder_key_sql) over the same dimensions."""
    from easyner_spark.sinks.layout import zorder_key_sql

    return f"""
SELECT doc_id, x, y, {zorder_key_sql(["x", "y"], bits=6)} AS zkey
FROM (SELECT doc_id, doc_id % 64 AS x, (doc_id * 7) % 64 AS y
      FROM documents)
"""


def _host_kmv_oracle() -> str:
    """q_host_kmv oracle: the shared token synthesis through the
    sketch's module-local rank twin."""
    from easyner_spark.operators.sketches import kmv_sketch_oracle_sql

    return kmv_sketch_oracle_sql(
        _KMV_SRC_SQL, "host", "tok", k=64, group_alias="host"
    )


def _kmv_set_ops_oracle() -> str:
    """q_kmv_set_ops oracle: same synthesis through the pairwise
    set-operation twin."""
    from easyner_spark.operators.sketches import kmv_set_ops_oracle_sql

    return kmv_set_ops_oracle_sql(_KMV_SRC_SQL, "host", "tok", k=64)


def _entity_bursts_oracle() -> str:
    """q_entity_bursts oracle: the shared mentions prelude extended
    with m(entity, epoch), fed to the operator's module-local twin."""
    from easyner_spark.operators.analysis import entity_bursts_oracle_sql

    prefix = (
        _PRELUDE
        + """, m AS (
  SELECT mention_lc AS entity, (doc_id % 5)::BIGINT AS epoch FROM mentions
)"""
    )
    return entity_bursts_oracle_sql(prefix)


def _sample_oracle() -> str:
    """md5-threshold sampling gate — threshold shared with
    sampling.sample_threshold so both engines cut on the same 12-hex
    prefix string."""
    from easyner_spark.operators.sampling import sample_threshold

    return (
        _URL_PAGES_CTE
        + f"""
SELECT doc_id::BIGINT AS doc_id, url FROM p
WHERE substring(md5('r3' || url), 1, 12) < '{sample_threshold(0.3)}'
"""
    )


def _gopher_oracle() -> str:
    from easyner_spark.operators.textstats import STOPWORDS_EN

    stop = _sql_list(STOPWORDS_EN)
    # n_ellipsis: the '...'-strip always removes a multiple of 3 chars,
    # so the /3 is integer-exact and the BIGINT cast cannot diverge
    # from Spark's truncating cast.
    return f"""
WITH t0 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0
         THEN '- ' || regexp_replace(text, ' a ', chr(10) || '- ', 'g')
         ELSE regexp_replace(text, ' a ', chr(10), 'g') END AS t
  FROM documents
),
t1 AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0 THEN replace(t, chr(10), '...' || chr(10)) ELSE t END AS t FROM t0),
t2 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN t || ' ...' ELSE t END AS t FROM t1),
t3 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN t || chr(10) || 'see #a #b #c #d #e #f #g' ELSE t END AS t FROM t2),
txt AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN t || chr(10) || t ELSE t END AS text FROM t3),
feat AS (
  SELECT doc_id, text,
    regexp_extract_all(lower(text), '\\w+') AS words,
    string_split(text, chr(10)) AS lines
  FROM txt
),
ints AS (
  SELECT doc_id,
    len(words) AS n_words,
    list_sum(list_transform(words, w -> length(w))) AS sum_wlen,
    len(list_filter(words, w -> list_contains({stop}, w))) AS n_stop,
    len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) AS n_alpha_words,
    len(lines) AS n_lines,
    len(list_distinct(lines)) AS n_dist_lines,
    len(list_filter(lines, l -> regexp_matches(l, '^[ \\t]*[-*]'))) AS n_bullet,
    len(list_filter(lines, l -> l LIKE '%...')) AS n_ell_lines,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    ((length(text) - length(replace(text, '...', ''))) / 3)::BIGINT AS n_ellipsis
  FROM feat
),
r AS (
  SELECT doc_id, n_words, n_lines, n_stop,
    CASE WHEN n_words > 0 THEN sum_wlen / n_words ELSE 0.0::DOUBLE END AS mean_wlen,
    CASE WHEN n_words > 0 THEN (n_hash + n_ellipsis) / n_words ELSE 0.0::DOUBLE END AS sym,
    CASE WHEN n_lines > 0 THEN n_bullet / n_lines ELSE 0.0::DOUBLE END AS bul,
    CASE WHEN n_lines > 0 THEN n_ell_lines / n_lines ELSE 0.0::DOUBLE END AS ell,
    CASE WHEN n_words > 0 THEN n_alpha_words / n_words ELSE 0.0::DOUBLE END AS alp,
    CASE WHEN n_lines > 0 THEN 1.0::DOUBLE - n_dist_lines / n_lines ELSE 0.0::DOUBLE END AS dup
  FROM ints
)
SELECT doc_id,
  n_words::BIGINT AS n_words,
  n_lines::BIGINT AS n_lines,
  round(mean_wlen, 6) AS mean_word_len,
  round(sym, 6) AS symbol_word_ratio,
  round(bul, 6) AS bullet_line_ratio,
  round(ell, 6) AS ellipsis_line_ratio,
  round(alp, 6) AS alpha_word_ratio,
  round(dup, 6) AS dup_line_frac,
  (n_words >= 30 AND n_words <= 100) AS word_count_ok,
  (mean_wlen >= 3.0 AND mean_wlen <= 10.0) AS mean_word_len_ok,
  (sym <= 0.1) AS symbol_ratio_ok,
  (bul <= 0.9) AS bullet_ok,
  (ell <= 0.3) AS ellipsis_ok,
  (alp >= 0.8) AS alpha_ok,
  (n_stop >= 2) AS stopword_ok,
  (dup <= 0.3) AS dup_line_ok,
  (n_words >= 30 AND n_words <= 100 AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
   AND sym <= 0.1 AND bul <= 0.9 AND ell <= 0.3 AND alp >= 0.8
   AND n_stop >= 2 AND dup <= 0.3) AS gopher_keep
FROM r
"""


def _merge_cands_oracle() -> str:
    from easyner_spark.operators.nel import edit_merge_candidates_oracle_sql

    return edit_merge_candidates_oracle_sql(_MERGE_LABELS_SQL, max_dist=2)


def _kwic_oracle() -> str:
    from easyner_spark.operators.search import kwic_oracle_sql

    terms = " UNION ALL ".join(f"SELECT '{t}' AS term" for t in _KWIC_TERMS)
    mentions_sql = f"""
SELECT doc_id::VARCHAR AS url, 0::BIGINT AS sent_idx,
       (strpos(text, t.term) - 1)::BIGINT AS begin,
       (strpos(text, t.term) - 1 + length(t.term))::BIGINT AS "end",
       t.term AS mention
FROM documents CROSS JOIN ({terms}) t
WHERE strpos(text, t.term) > 0"""
    sentences_sql = (
        "SELECT doc_id::VARCHAR AS url, 0::BIGINT AS sent_idx,"
        " text AS sentence FROM documents"
    )
    return kwic_oracle_sql(mentions_sql, sentences_sql, window=20)


_PRONOUN_TOKS_CTE = """
WITH pl0 AS (
  SELECT doc_id,
         regexp_replace(lower(text), ' the ', ' it ', 'g') AS t
  FROM documents
),
plt0 AS (
  SELECT doc_id, 0::BIGINT AS sent_idx,
         generate_subscripts(regexp_extract_all(t, '\\w+|[^\\w\\s]'), 1) - 1
           AS tok_idx,
         unnest(regexp_extract_all(t, '\\w+|[^\\w\\s]')) AS tok
  FROM pl0
)"""


def _kappa_oracle() -> str:
    from easyner_spark.operators.evaluate import cohens_kappa_oracle_sql

    pred = (
        "SELECT doc_id, sent_idx, tok_idx,"
        " CASE WHEN tok = 'hash' AND tok_idx % 2 = 0 THEN 'B'"
        " ELSE 'O' END AS label FROM plt0"
    )
    gold = (
        "SELECT doc_id, sent_idx, tok_idx,"
        " CASE WHEN tok IN ('hash', 'scan') THEN 'B'"
        " ELSE 'O' END AS label FROM plt0"
    )
    return _PRONOUN_TOKS_CTE + cohens_kappa_oracle_sql(pred, gold)


def _pagerank_oracle_body(iters: int = 3) -> str:
    """Unrolled PageRank CTE chain over the distinct triple graph,
    mirroring operators/graph.pagerank's op order exactly: base =
    (1.0 - 0.85) / N, inflow = sum(rank / deg), state = round(base +
    0.85 * coalesce(inflow, 0.0), 9), output round(·, 6)."""
    parts = [
        """
, e AS (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM triples),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
it0 AS (SELECT node, round(1.0 / nn.n, 9) AS rank FROM nodes CROSS JOIN nn)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
it{t} AS (
  SELECT nodes.node,
         round((1.0 - 0.85) / nn.n + 0.85 * coalesce(s.inflow, 0.0), 9) AS rank
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / deg.deg) AS inflow
    FROM e
    JOIN deg ON e.src = deg.src
    JOIN it{t - 1} r ON e.src = r.node
    GROUP BY e.dst
  ) s ON nodes.node = s.node
)"""
        )
    parts.append(f"\nSELECT node, round(rank, 6) AS rank FROM it{iters}\n")
    return "".join(parts)


# min-label reachability closure over the co-occurrence triple graph —
# shared by the `components` oracle and (identically, by the
# incremental contract) `incremental_components`.
# Preferred labels: the canonical linked (entity, surface) stream +
# the deterministic md5-bucket component map + the min(struct(-n, s))
# argmax
_ENTITY_LABELS_ORACLE = _PRELUDE + """
, cmap AS (
  SELECT node, 'g' || substr(md5(node), 1, 1) AS component
  FROM (SELECT DISTINCT pa.id AS node
        FROM mentions m
        JOIN (SELECT term, min(id) AS id FROM alias GROUP BY term) pa
          ON m.mention_lc = pa.term)
),
lm AS (SELECT pa.id AS node, m.mention_lc AS s
       FROM mentions m
       JOIN (SELECT term, min(id) AS id FROM alias GROUP BY term) pa
         ON m.mention_lc = pa.term),
mp AS (SELECT coalesce(c.component, l.node) AS entity, l.s
       FROM lm l LEFT JOIN cmap c ON l.node = c.node),
lcnt AS (SELECT entity, s, count(*)::BIGINT AS n FROM mp GROUP BY entity, s),
lbest AS (
  SELECT entity, min(struct_pack(neg := -n, s := s)) AS b,
         count(*)::BIGINT AS n_surfaces, sum(n)::BIGINT AS n_mentions
  FROM lcnt GROUP BY entity
)
SELECT entity, b.s AS label, (-b.neg)::BIGINT AS n_label,
       n_surfaces, n_mentions
FROM lbest
"""


_COMPONENTS_ORACLE = _PRELUDE.replace("WITH sent0", "WITH RECURSIVE sent0", 1) + """
, cc_edges AS (SELECT DISTINCT subj_id AS a, obj_id AS b FROM triples),
cc_sym AS (SELECT a, b FROM cc_edges UNION SELECT b, a FROM cc_edges),
cc_nodes AS (SELECT DISTINCT a AS node FROM cc_sym),
reach(node, lbl) AS (
  SELECT node, node FROM cc_nodes
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN cc_sym e ON r.node = e.a
)
SELECT node, min(lbl) AS component FROM reach GROUP BY node
"""


def oracle_sql() -> dict[str, str]:
    from easyner_spark.operators.analysis import entity_salience_oracle_sql
    from easyner_spark.operators.nel import (
        fs_em_linkage_oracle_sql,
        name_similarity_oracle_sql,
    )
    from easyner_spark.operators.sampling import (
        quality_weighted_sample_oracle_sql,
    )
    from easyner_spark.operators.sampling import chunk_docs_oracle_sql
    from easyner_spark.operators.sketches import (
        exact_quantiles_oracle_sql,
        histogram_oracle_sql,
        linear_count_oracle_sql,
    )
    from easyner_spark.operators.scoring import (
        bigram_lm_oracle_sql,
        hashed_linear_oracle_sql,
        ppl_buckets_oracle_sql,
        unigram_lm_oracle_sql,
    )
    from easyner_spark.operators.textstats import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    # Same injection + same three-stage sequential redaction as
    # q_pii_redact. Placeholders (not an f-string): the regexes contain
    # {m,n} braces. DuckDB regexp_replace needs the explicit 'g' flag
    # to match Spark's replace-all default.
    pii_sql = """
WITH injected AS (
  SELECT doc_id AS id,
         text
         || CASE WHEN doc_id % 3 = 0
              THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@ex-a.org ok'
              ELSE '' END
         || CASE WHEN doc_id % 5 = 0
              THEN ' ip 10.' || CAST(doc_id % 200 AS VARCHAR)
                   || '.0.1 tel +46 70-123 45'
                   || CAST(doc_id % 10 AS VARCHAR) || '8'
              ELSE '' END AS t0
  FROM documents
),
s1 AS (SELECT id,
         len(regexp_extract_all(t0, '__EMAIL__', 0)) AS n_emails,
         regexp_replace(t0, '__EMAIL__', '<EMAIL>', 'g') AS t1 FROM injected),
s2 AS (SELECT id, n_emails,
         len(regexp_extract_all(t1, '__IP__', 0)) AS n_ips,
         regexp_replace(t1, '__IP__', '<IP>', 'g') AS t2 FROM s1),
s3 AS (SELECT id, n_emails, n_ips,
         len(regexp_extract_all(t2, '__PHONE__', 0)) AS n_phones,
         regexp_replace(t2, '__PHONE__', '<PHONE>', 'g') AS text_redacted FROM s2)
SELECT id, text_redacted,
       n_emails::BIGINT AS n_emails,
       n_ips::BIGINT AS n_ips,
       n_phones::BIGINT AS n_phones,
       (n_emails + n_ips + n_phones) > 0 AS has_pii
FROM s3
""".replace("__EMAIL__", PII_EMAIL_RE).replace("__IP__", PII_IPV4_RE).replace(
        "__PHONE__", PII_PHONE_RE
    )
    # events-table oracles: micros BIGINT time math, integer cents, and
    # ::BIGINT casts on sums (DuckDB sum(BIGINT) is HUGEINT).
    sessionize_sql = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, round(value * 100)::BIGINT AS cents
  FROM events WHERE ts IS NOT NULL
),
l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev FROM ev),
f AS (SELECT *, (prev IS NULL OR ts_us - prev > 1800000000)::INT AS new_s FROM l),
s AS (SELECT *, sum(new_s) OVER (
        PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sidx
      FROM f)
SELECT user_id,
       min(ts_us) AS session_start_us,
       max(ts_us) + 1800000000 AS session_end_us,
       count(*) AS n_events,
       sum(cents)::BIGINT AS value_cents
FROM s GROUP BY user_id, sidx
"""
    asof_sql = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events
),
v AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'view'),
c AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'click')
SELECT v.event_id, v.user_id, v.ts_us,
       l.click_event_id, l.click_ts_us
FROM v LEFT JOIN LATERAL (
  SELECT c.event_id AS click_event_id, c.ts_us AS click_ts_us
  FROM c
  WHERE c.user_id = v.user_id AND c.ts_us <= v.ts_us
  ORDER BY c.ts_us DESC, c.event_id DESC LIMIT 1
) l ON TRUE
"""
    rollup_sql = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents,
       -- TRY_CASTs mirror from_json's malformed -> null -> sum-ignored
       sum(TRY_CAST(TRY_CAST(props AS JSON)->>'k' AS BIGINT))::BIGINT AS k_sum
FROM events GROUP BY event_type
"""
    extra = {
        "pii_redact": pii_sql,
        "ppl_buckets": ppl_buckets_oracle_sql(min_count=2),
        "fs_linkage": fs_em_linkage_oracle_sql(
            """
WITH feat AS (
  SELECT doc_id AS id, lang,
         len(regexp_extract_all(lower(text), '\\w+'))::BIGINT AS nw,
         CASE WHEN len(regexp_extract_all(lower(text), '\\w+')) > 0
              THEN regexp_extract_all(lower(text), '\\w+')[1] END AS fw
  FROM documents
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         (a.lang IS NOT DISTINCT FROM b.lang)::INT AS a_0,
         ((a.nw // 50) IS NOT DISTINCT FROM (b.nw // 50))::INT AS a_1,
         (a.fw IS NOT DISTINCT FROM b.fw)::INT AS a_2
  FROM feat a JOIN feat b ON b.id = a.id + 1
)""",
            n_fields=3,
            iters=5,
        ),
        "distinct_count": linear_count_oracle_sql("text"),
        "length_histogram": histogram_oracle_sql("length(text)", 100, 20),
        "length_quantiles": exact_quantiles_oracle_sql("length(text)"),
        "sessionize": sessionize_sql,
        "asof_join": asof_sql,
        "event_rollup": rollup_sql,
        "unigram_lm": unigram_lm_oracle_sql(min_count=2),
        "bigram_lm": bigram_lm_oracle_sql(min_count=2),
        "quality_classifier": hashed_linear_oracle_sql(),
        # ADVERSARIAL: the synthesized page adds a kept <h1> headline
        # and a PRE- prefixed kept block with nested boilerplate inside
        # it, so extraction must produce this exact non-identity
        # transform (identity extractors fail)
        "boilerplate_extract": (
            "SELECT doc_id, concat('Doc ', doc_id, chr(10), 'PRE-', text)"
            " AS text FROM documents"
        ),
        # ADVERSARIAL: three labeled AbstractText sections (one empty,
        # one with inline markup); the parser must join non-empty
        # sections with one space, drop Labels, flatten inline tags
        "pubmed_extract": (
            "SELECT doc_id, concat(text, ' Conclusion S-', doc_id)"
            " AS text FROM documents"
        ),
        # ADVERSARIAL: closed-form expected output of the WARC parser
        # (warcinfo/request skipped, Content-Length octet math exact,
        # \r\n\r\n decoy inside the body, per-doc status/date)
        "warc_extract": (
            "SELECT doc_id,"
            " 'https://example.com/d/' || doc_id AS url,"
            " '2024-01-01T00:00:' || lpad((doc_id % 60)::VARCHAR, 2, '0') || 'Z'"
            "   AS warc_date,"
            " CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS status,"
            " 'text/html' AS mime,"
            " '<html><body>' || chr(13) || chr(10) || chr(13) || chr(10) ||"
            " 'WARC/1.0 decoy' || chr(13) || chr(10) || '<p>é ' || text ||"
            " '</p></body></html>' AS body_text"
            " FROM documents"
        ),
        # closed-form expected output of the CRAFT converter quirks
        # (see q_craft_iob2's docstring for the per-denotation walk)
        "craft_iob2": """
SELECT d.doc_id,
       (t.i - 1)::BIGINT AS tok_idx,
       CASE t.i WHEN 1 THEN concat('T', d.doc_id)
                WHEN 2 THEN 'binds' WHEN 3 THEN 'protein'
                WHEN 4 THEN 'X34' WHEN 5 THEN 'in' WHEN 6 THEN 'vivo'
                WHEN 7 THEN ',' WHEN 8 THEN 'strongly' ELSE '.' END AS token,
       (['O','O','B','B','B','I','O','B','I'])[t.i] AS label
FROM documents d
CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS i) t
""",
        # closed-form expected output of the Flair 3-column file parse
        # (one 3-token sentence per doc in sorted doc_id order)
        "flair_parse": """
WITH d AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS seq
  FROM documents
),
t(i, suf, lt, lp) AS (VALUES
  (0, 'a', 'B-GENE', 'B-GENE'),
  (1, 'b', 'I-GENE', 'O'),
  (2, 'c', 'O', 'B-CHEM'))
SELECT d.seq::BIGINT AS seq_id,
       t.i::BIGINT AS tok_idx,
       concat('w', d.doc_id, t.suf) AS token,
       t.lt AS label_true,
       t.lp AS label_pred
FROM d CROSS JOIN t
""",
        "exact_dedup": """
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000, text FROM documents
),
h AS (SELECT doc_id, sha256(text) AS content_hash FROM docs2)
SELECT doc_id, content_hash,
  min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
  doc_id <> min(doc_id) OVER (PARTITION BY content_hash) AS is_dup
FROM h
""",
    }
    return _prioritize(extra | {
        "split_sentences": _PRELUDE
        + """
SELECT doc_id, sent_idx::BIGINT AS sent_idx, sentence FROM sentences
""",
        "dict_ner": _PRELUDE
        + """
SELECT doc_id, sent_idx::BIGINT AS sent_idx, begin_tok::BIGINT AS begin_tok,
       end_tok::BIGINT AS end_tok, mention_lc, class
FROM mentions
""",
        "entity_frequency": _PRELUDE
        + """
SELECT mention_lc AS mention,
       count(*)::BIGINT AS total_count,
       count(DISTINCT doc_id)::BIGINT AS articles_spanned
FROM mentions
GROUP BY mention_lc
""",
        "entity_frequency_batched": _PRELUDE
        + """
, mb AS (SELECT mention_lc, doc_id, doc_id % 7 AS batch FROM mentions),
pb AS (SELECT mention_lc, batch, count(*)::BIGINT AS cnt FROM mb GROUP BY mention_lc, batch),
roll AS (
  SELECT mention_lc AS mention,
         sum(cnt)::BIGINT AS total_count,
         count(*)::BIGINT AS batches_spanned,
         '{' || string_agg('"' || batch || '":' || cnt, ',' ORDER BY batch) || '}' AS batch_count_json
  FROM pb GROUP BY mention_lc
),
arts AS (
  SELECT mention_lc AS mention, count(DISTINCT doc_id)::BIGINT AS articles_spanned
  FROM mb GROUP BY mention_lc
)
SELECT r.mention, r.total_count, a.articles_spanned, r.batches_spanned,
       r.batch_count_json,
       r.total_count / a.articles_spanned AS freq_per_article,
       r.total_count / r.batches_spanned AS freq_per_batch
FROM roll r JOIN arts a ON r.mention = a.mention
""",
        "link_entities": _PRELUDE
        + """
SELECT m.doc_id, m.sent_idx::BIGINT AS sent_idx, m.begin_tok::BIGINT AS begin_tok,
       m.end_tok::BIGINT AS end_tok, m.mention_lc,
       coalesce(a.id, '') AS entity_id
FROM mentions m LEFT JOIN alias a ON m.mention_lc = a.term
""",
        "disambiguate": _PRELUDE
        + """
, al AS (SELECT DISTINCT lower(term) AS term, id AS entity_id FROM alias),
nc AS (SELECT term, count(*)::BIGINT AS n_cands FROM al GROUP BY term),
al2 AS (SELECT al.term, al.entity_id, nc.n_cands FROM al JOIN nc ON al.term = nc.term),
stoks AS (
  SELECT DISTINCT doc_id, sent_idx,
         unnest(list_filter(regexp_split_to_array(lower(sentence), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM sentences
),
cand AS (
  SELECT mn.doc_id, mn.sent_idx, mn.begin_tok, mn.end_tok, mn.mention_lc,
         al2.entity_id, al2.n_cands
  FROM mentions mn JOIN al2 ON mn.mention_lc = al2.term
),
unamb AS (SELECT * FROM cand WHERE n_cands = 1),
amb AS (SELECT * FROM cand WHERE n_cands > 1),
profile AS (
  SELECT DISTINCT u.entity_id, s.tok
  FROM (SELECT DISTINCT doc_id, sent_idx, entity_id FROM unamb) u
  JOIN stoks s ON u.doc_id = s.doc_id AND u.sent_idx = s.sent_idx
),
ovl AS (
  SELECT a.doc_id, a.sent_idx, a.begin_tok, a.end_tok, a.mention_lc,
         a.entity_id, count(*)::BIGINT AS overlap
  FROM amb a
  JOIN stoks s ON a.doc_id = s.doc_id AND a.sent_idx = s.sent_idx
  JOIN profile p ON p.entity_id = a.entity_id AND p.tok = s.tok
  GROUP BY ALL
),
scored AS (
  SELECT a.doc_id, a.sent_idx, a.begin_tok, a.end_tok, a.mention_lc,
         a.entity_id, a.n_cands, coalesce(o.overlap, 0) AS overlap
  FROM amb a
  LEFT JOIN ovl o
    ON a.doc_id = o.doc_id AND a.sent_idx = o.sent_idx
   AND a.begin_tok = o.begin_tok AND a.end_tok = o.end_tok
   AND a.mention_lc = o.mention_lc AND a.entity_id = o.entity_id
),
best AS (
  SELECT doc_id, sent_idx, begin_tok, end_tok, mention_lc, entity_id,
         n_cands, overlap AS score,
         row_number() OVER (
           PARTITION BY doc_id, sent_idx, begin_tok, end_tok, mention_lc
           ORDER BY overlap DESC, entity_id) AS rn
  FROM scored
)
SELECT doc_id, sent_idx::BIGINT AS sent_idx, begin_tok::BIGINT AS begin_tok,
       end_tok::BIGINT AS end_tok, mention_lc, entity_id,
       n_cands::BIGINT AS n_cands, score::BIGINT AS score
FROM best WHERE rn = 1
UNION ALL
SELECT doc_id, sent_idx::BIGINT, begin_tok::BIGINT, end_tok::BIGINT,
       mention_lc, entity_id, n_cands::BIGINT, (-1)::BIGINT
FROM unamb
""",
        "triples": _PRELUDE
        + """
SELECT doc_id, sent_idx::BIGINT AS sent_idx, subj_id, pred, obj_id FROM triples
""",
        "edges": _PRELUDE
        + """
SELECT subj_id, pred, obj_id, count(*)::BIGINT AS support,
       count(DISTINCT doc_id)::BIGINT AS doc_count
FROM triples
GROUP BY subj_id, pred, obj_id
""",
        "entity_salience": entity_salience_oracle_sql(
            _PRELUDE
            + """,
lm AS (SELECT doc_id AS url, sent_idx, entity_id FROM linked)"""
        ),
        "search_sentences": _PRELUDE
        + f"""
SELECT s.doc_id, s.sent_idx::BIGINT AS sent_idx, s.sentence
FROM sentences s
WHERE EXISTS (
  SELECT 1 FROM mentions m
  WHERE m.doc_id = s.doc_id AND m.sent_idx = s.sent_idx
    AND m.mention_lc IN ({", ".join(repr(t) for t in SEARCH_TERMS)})
)
""",
        "search_mentions": _PRELUDE
        + f"""
SELECT m.doc_id, m.sent_idx::BIGINT AS sent_idx,
       m.begin_tok::BIGINT AS begin_tok, m.end_tok::BIGINT AS end_tok,
       m.mention_lc, m.class
FROM mentions m
WHERE EXISTS (
  SELECT 1 FROM mentions h
  WHERE h.doc_id = m.doc_id AND h.sent_idx = m.sent_idx
    AND h.mention_lc IN ({", ".join(repr(t) for t in SEARCH_TERMS)})
)
""",
        "doc_offsets": _PRELUDE
        + """
SELECT doc_id, sent_idx::BIGINT AS sent_idx,
       coalesce(sum(length(sentence) + 1) OVER (
         PARTITION BY doc_id ORDER BY sent_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS doc_offset
FROM sentences
""",
        "term_freq_per_doc": _PRELUDE
        + """
SELECT doc_id, mention_lc AS mention, count(*)::BIGINT AS cnt
FROM mentions
GROUP BY doc_id, mention_lc
""",
        # Span-tolerant eval: band-match EXISTS on (doc, class) with
        # |d_begin|<=1 AND |d_end|<=1; gold twin perturbed exactly as
        # the Spark query constructs it
        "span_eval": _PRELUDE
        + """
, p AS (SELECT doc_id, class, begin_tok AS b, end_tok AS e FROM mentions),
g AS (
  SELECT doc_id, class,
         b + CASE WHEN doc_id % 10 = 7 THEN 5 WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS b,
         e + CASE WHEN doc_id % 10 = 7 THEN 5 WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS e
  FROM p WHERE doc_id % 10 <> 3
),
cls AS (SELECT DISTINCT class FROM (SELECT class FROM p UNION ALL SELECT class FROM g)),
tp AS (
  SELECT class, count(*) AS tp FROM p
  WHERE EXISTS (SELECT 1 FROM g WHERE g.doc_id = p.doc_id AND g.class = p.class
                  AND abs(p.b - g.b) <= 1 AND abs(p.e - g.e) <= 1)
  GROUP BY class
),
fp AS (
  SELECT class, count(*) AS fp FROM p
  WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.doc_id = p.doc_id AND g.class = p.class
                      AND abs(p.b - g.b) <= 1 AND abs(p.e - g.e) <= 1)
  GROUP BY class
),
fn AS (
  SELECT class, count(*) AS fn FROM g
  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.doc_id = g.doc_id AND p.class = g.class
                      AND abs(g.b - p.b) <= 1 AND abs(g.e - p.e) <= 1)
  GROUP BY class
),
c AS (
  SELECT cls.class,
         coalesce(tp.tp, 0)::BIGINT AS tp,
         coalesce(fp.fp, 0)::BIGINT AS fp,
         coalesce(fn.fn, 0)::BIGINT AS fn
  FROM cls LEFT JOIN tp ON cls.class = tp.class
           LEFT JOIN fp ON cls.class = fp.class
           LEFT JOIN fn ON cls.class = fn.class
)
SELECT class, tp, fp, fn,
  CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS precision,
  CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS recall,
  CASE WHEN (CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END)
          + (CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END) > 0
       THEN 2 * (CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END)
              * (CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END)
            / ((CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END)
               + (CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END))
       ELSE 0.0 END AS f1
FROM c
""",
        # Nested merger-v1 export: rebuild the exact to_json string in
        # SQL (same (begin, end, mention) order inside each tag, tags
        # ascending, compact JSON)
        "merger_v1_nested": _PRELUDE
        + """
, pt AS (
  SELECT doc_id, sent_idx, class,
    '"' || class || '":[' ||
      string_agg('"' || mention_lc || '"', ',' ORDER BY begin_tok, end_tok, mention_lc)
      || ']' AS ef,
    '"' || class || '":[' ||
      string_agg('[' || begin_tok || ',' || end_tok || ']', ',' ORDER BY begin_tok, end_tok, mention_lc)
      || ']' AS sf
  FROM mentions GROUP BY doc_id, sent_idx, class
)
SELECT doc_id, sent_idx::BIGINT AS sent_idx,
  '{"entities":{' || string_agg(ef, ',' ORDER BY class) ||
  '},"entity_spans":{' || string_agg(sf, ',' ORDER BY class) || '}}' AS json
FROM pt GROUP BY doc_id, sent_idx
""",
        # Co-occurrence extractor: one entity per maximal non-O run
        # starting at its first B (B appends bare, I appends ' '+tok);
        # runs reaching sequence end are dropped (the reference only
        # closes an entity on an O); 9-step detok chain on the text
        "co_occurrence": """
WITH toks0 AS (
  SELECT doc_id,
         generate_subscripts(t, 1) - 1 AS idx,
         unnest(t) AS tok
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\w+|[^\\w\\s]') AS t
        FROM documents)
),
lab AS (
  SELECT doc_id, idx, tok,
         CASE WHEN tok IN ('hash', 'scan') THEN 'B'
              WHEN tok = 'merge' THEN 'I' ELSE 'O' END AS label
  FROM toks0
),
runs AS (
  SELECT *, sum((label = 'O')::INT) OVER (PARTITION BY doc_id ORDER BY idx) AS run_id
  FROM lab
),
nz AS (SELECT * FROM runs WHERE label <> 'O'),
fb AS (
  SELECT doc_id, run_id,
         min(idx) FILTER (label = 'B') AS first_b,
         max(idx) AS run_max
  FROM nz GROUP BY doc_id, run_id
),
seqmax AS (SELECT doc_id, max(idx) AS seq_max FROM lab GROUP BY doc_id),
ents AS (
  SELECT n.doc_id, n.run_id,
         string_agg(CASE WHEN n.label = 'B' THEN n.tok ELSE ' ' || n.tok END,
                    '' ORDER BY n.idx) AS entity
  FROM nz n
  JOIN fb ON n.doc_id = fb.doc_id AND n.run_id = fb.run_id
  WHERE fb.first_b IS NOT NULL AND n.idx >= fb.first_b
  GROUP BY n.doc_id, n.run_id
),
kept AS (
  SELECT e.doc_id, e.run_id,
         replace(replace(e.entity, ' - ', '-'), ' , ', ',') AS entity
  FROM ents e
  JOIN fb ON e.doc_id = fb.doc_id AND e.run_id = fb.run_id
  JOIN seqmax s ON e.doc_id = s.doc_id
  WHERE fb.run_max < s.seq_max
),
agg AS (
  SELECT doc_id,
         count(*) AS n_ents,
         '[' || string_agg('"' || entity || '"', ',' ORDER BY run_id) || ']' AS ej
  FROM kept GROUP BY doc_id
),
txt AS (
  SELECT doc_id,
    replace(replace(replace(replace(replace(replace(replace(replace(replace(
      string_agg(tok, ' ' ORDER BY idx),
      ' .', '.'), ' ,', ','), ' - ', '-'), '( ', '('), ' )', ')'),
      ' :', ':'), ' ;', ';'), ' !', '!'), ' ?', '?') AS text
  FROM lab GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.n_ents >= 2, FALSE) AS has_cooccurrence,
       coalesce(a.ej, '[]') AS entities_json,
       t.text
FROM txt t LEFT JOIN agg a ON t.doc_id = a.doc_id
""",
        # Error-region extraction: both-O tokens bound the runs, a
        # region starts at its first B, regions open at sequence end
        # are dropped, agreeing regions suppressed
        "error_regions": """
WITH toks0 AS (
  SELECT doc_id,
         generate_subscripts(t, 1) - 1 AS idx,
         unnest(t) AS tok
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\w+|[^\\w\\s]') AS t
        FROM documents)
),
lab AS (
  SELECT doc_id, idx, tok,
         CASE WHEN tok = 'hash' THEN 'B' WHEN tok = 'merge' THEN 'I' ELSE 'O' END AS lt,
         CASE WHEN tok = 'hash' AND idx % 2 = 0 THEN 'B' ELSE 'O' END AS lp
  FROM toks0
),
runs AS (
  SELECT *, sum((lt = 'O' AND lp = 'O')::INT)
              OVER (PARTITION BY doc_id ORDER BY idx) AS run_id
  FROM lab
),
nz AS (SELECT * FROM runs WHERE NOT (lt = 'O' AND lp = 'O')),
fb AS (
  SELECT doc_id, run_id,
         min(idx) FILTER (lt = 'B' OR lp = 'B') AS first_b,
         max(idx) AS run_max
  FROM nz GROUP BY doc_id, run_id
),
seqmax AS (SELECT doc_id, max(idx) AS seq_max FROM lab GROUP BY doc_id),
reg AS (
  SELECT n.doc_id, n.run_id,
         string_agg(n.tok, ' ' ORDER BY n.idx) AS word,
         to_json(list(n.lt ORDER BY n.idx)) AS tt,
         to_json(list(n.lp ORDER BY n.idx)) AS tp
  FROM nz n
  JOIN fb ON n.doc_id = fb.doc_id AND n.run_id = fb.run_id
  JOIN seqmax s ON n.doc_id = s.doc_id
  WHERE fb.first_b IS NOT NULL AND n.idx >= fb.first_b
    AND fb.run_max < s.seq_max
  GROUP BY n.doc_id, n.run_id
),
bad AS (SELECT * FROM reg WHERE tt <> tp)
SELECT doc_id,
       row_number() OVER (PARTITION BY doc_id ORDER BY run_id) - 1 AS region_idx,
       word, tt AS true_tags_json, tp AS pred_tags_json
FROM bad
""",
        # Sequential conflict resolution (entity_merger2.py:99-146) as a
        # recursive CTE: the reference loop scans i last-to-first and
        # deletes rows[i] iff SOME still-alive j beats it (the for-j
        # break order is irrelevant because every match has the same
        # effect), so the state is just a survivor bitmask evolving as
        # i descends. Mentions are token-aligned, so the char-span
        # rules map 1:1 onto (begin_tok, end_tok); max 16 mentions per
        # sentence at this tier -> a 64-bit mask is ample.
        "resolve_conflicts": _PRELUDE.replace("WITH sent0", "WITH RECURSIVE sent0", 1)
        + """
, rc AS (
  SELECT doc_id, sent_idx, begin_tok AS b, end_tok AS e, mention_lc, class,
         CASE class WHEN 'kw1' THEN 1 WHEN 'kw2' THEN 2 WHEN 'kw3' THEN 3
                    ELSE 4 END AS prio,
         row_number() OVER (PARTITION BY doc_id, sent_idx
                            ORDER BY begin_tok, end_tok, class, mention_lc
                           ) - 1 AS idx
  FROM mentions
),
sizes AS (SELECT doc_id, sent_idx, count(*)::INT AS n FROM rc GROUP BY doc_id, sent_idx),
step AS (
  SELECT doc_id, sent_idx, n - 1 AS i,
         CASE WHEN n >= 64 THEN error('resolve_conflicts oracle: sentence with >= 64 mentions exceeds the 64-bit survivor mask')
              ELSE ((1::BIGINT << n) - 1) END AS mask FROM sizes
  UNION ALL
  SELECT s.doc_id, s.sent_idx, s.i - 1,
         CASE WHEN EXISTS (
           SELECT 1 FROM rc b, rc j
           WHERE b.doc_id = s.doc_id AND b.sent_idx = s.sent_idx AND b.idx = s.i
             AND j.doc_id = s.doc_id AND j.sent_idx = s.sent_idx
             AND j.idx <> s.i AND ((s.mask >> j.idx) & 1) = 1
             AND (
               (b.b = j.b AND b.e = j.e AND b.class <> j.class AND b.prio > j.prio)
               OR (NOT (b.b = j.b AND b.e = j.e) AND b.b >= j.b AND b.e <= j.e)
               OR (((b.b < j.b AND j.b < b.e AND b.e < j.e)
                    OR (j.b < b.b AND b.b < j.e AND j.e < b.e))
                   AND length(b.mention_lc) < length(j.mention_lc))
             )
         ) THEN s.mask & ~(1::BIGINT << s.i) ELSE s.mask END
  FROM step s WHERE s.i >= 0
),
final AS (SELECT doc_id, sent_idx, mask FROM step WHERE i = -1)
SELECT r.doc_id, r.sent_idx::BIGINT AS sent_idx,
       r.b::BIGINT AS begin_tok, r.e::BIGINT AS end_tok, r.mention_lc, r.class
FROM rc r JOIN final f ON r.doc_id = f.doc_id AND r.sent_idx = f.sent_idx
WHERE ((f.mask >> r.idx) & 1) = 1
""",
        "components": _COMPONENTS_ORACLE,
        # the incremental contract IS "equal to the full recompute":
        # incremental_components(cc(G1), E2) == cc(G1 ∪ E2), and the
        # Spark query splits triples edges into G1/E2 by sent_idx
        # parity — so the oracle is literally the full-graph closure
        "incremental_components": _COMPONENTS_ORACLE,
        "k_hop": _PRELUDE.replace("WITH sent0", "WITH RECURSIVE sent0", 1)
        + """
, kh_edges AS (SELECT DISTINCT subj_id AS a, obj_id AS b FROM triples
               WHERE subj_id <> obj_id),
kh_sym AS (SELECT a, b FROM kh_edges UNION SELECT b, a FROM kh_edges),
kh_nodes AS (SELECT DISTINCT a AS node FROM kh_sym),
walk(source, node, dist) AS (
  SELECT node, node, 0 FROM kh_nodes
  UNION
  SELECT w.source, e.b, w.dist + 1
  FROM walk w JOIN kh_sym e ON w.node = e.a
  WHERE w.dist < 2
)
SELECT source, node, min(dist)::BIGINT AS dist
FROM walk GROUP BY source, node
""",
        # Unrolled 3-iteration PageRank; per-iteration round(·, 9) is
        # the cross-engine state contract (operators/graph.pagerank)
        "kg_pagerank": _PRELUDE + _pagerank_oracle_body(),
        # 8 unrolled peeling rounds (graph.k_core_oracle_sql) over the
        # canonical co-occurrence pair CTE; capped-round contract
        # matches the engine bit-for-bit
        "kg_kcore": _kcore_oracle(),
        # Two-key blocked self-join + levenshtein verify over the
        # noisy-label synthesis (nel.edit_merge_candidates_oracle_sql)
        "entity_merge_cands": _merge_cands_oracle(),
        # strpos-located first occurrences + pure substr windows
        # (search.kwic_oracle_sql)
        "kwic": _kwic_oracle(),
        # N^2-scaled integer kappa (evaluate.cohens_kappa_oracle_sql)
        "kappa": _kappa_oracle(),
        "heavy_hitters": _cms_oracle(),
        "pack_sequences": _pack_oracle(),
        # Host-skew profile: rank/share/cum_share + salt factor
        # (webtext.host_skew_profile, target_partition_rows=50)
        "host_skew": _URL_PAGES_CTE
        + """
, c AS (SELECT host, count(*) AS n_docs FROM h GROUP BY host),
t AS (SELECT sum(n_docs)::DOUBLE AS total FROM c)
SELECT host,
  n_docs::BIGINT AS n_docs,
  row_number() OVER (ORDER BY n_docs DESC, host)::BIGINT AS host_rank,
  round(n_docs::DOUBLE / t.total, 9) AS share,
  round(sum(n_docs) OVER (ORDER BY n_docs DESC, host
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE / t.total,
        9) AS cum_share,
  greatest(1, ceil(n_docs::DOUBLE / 50.0)::INT)::BIGINT AS salt
FROM c CROSS JOIN t
""",
        # Per-entity epoch burst detection
        # (analysis.entity_bursts_oracle_sql over the mentions prelude)
        "entity_bursts": _entity_bursts_oracle(),
        "kg_shortest_paths": _kg_shortest_paths_oracle(),
        "kg_paths": _kg_paths_oracle(),
        "kg_schema_graph": _kg_schema_graph_oracle(),
        "kg_metapath": _kg_metapath_oracle(),
        "kg_pathsim": _kg_pathsim_oracle(),
        "kg_align": _kg_align_oracle(),
        "temp_mixture": _temp_mixture_oracle(),
        "kg_pattern_optional": _kg_pattern_optional_oracle(),
        "kg_property_path": _kg_property_path_oracle(),
        "kg_pattern_minus": _kg_pattern_minus_oracle(),
        "kg_pattern_values": _kg_pattern_values_oracle(),
        "kg_pattern_filter": _kg_pattern_filter_oracle(),
        "kg_pattern_agg": _kg_pattern_agg_oracle(),
        "kg_pattern_topk": _kg_pattern_topk_oracle(),
        "kg_pattern_union": _kg_pattern_union_oracle(),
        "kg_ego": _kg_ego_oracle(),
        "kg_core_numbers": _kg_core_numbers_oracle(),
        "kg_standing_query": _kg_standing_query_oracle(),
        # Bottom-k distinct sketch per host (sketches.kmv_sketch_oracle_sql)
        "host_kmv": _host_kmv_oracle(),
        # Sketch-only pairwise set-operation estimates
        # (sketches.kmv_set_ops_oracle_sql)
        "kmv_set_ops": _kmv_set_ops_oracle(),
        # Z-order layout keys (layout.zorder_key_sql, shared generator)
        "zorder_keys": _zorder_keys_oracle(),
        # Rarity-ranked entity cards (triples.entity_summaries_oracle_sql)
        "entity_cards": _entity_cards_oracle(),
        # RDF N-Triples serialization (rdf.to_ntriples_oracle_sql)
        "kg_ntriples": _kg_ntriples_oracle(),
        # Epoch distribution drift (sketches.histogram_drift_oracle_sql)
        "length_drift": _length_drift_oracle(),
        # Degree-distribution quantiles of the closed KG
        # (sketches.exact_quantiles_oracle_sql over the degree table)
        "kg_degree_stats": _kg_degree_stats_oracle(),
        # BGP triple-pattern query: naive conjunctive formulation over
        # the same pattern list (triples.match_patterns_oracle_sql)
        "kg_pattern": _kg_pattern_oracle(),
        # Declared-constraint contradiction table
        # (triples.functional_violations_oracle_sql over _KG_FUNC_SQL)
        "kg_violations": _kg_violations_oracle(),
        # Acronym mining: the injected-definitions synthesis through
        # the operator's module-local twin
        "acronyms": _acronyms_oracle(),
        # N-Triples export: prelude edges through the serializer twin
        "ntriples": _ntriples_oracle(),
        "entity_labels": _ENTITY_LABELS_ORACLE,
        # Compaction planning (checkpoint.compaction_plan_oracle_sql)
        "compaction_plan": _compaction_plan_oracle(),
        # Per-language exact quantiles
        # (sketches.grouped_quantiles_oracle_sql)
        "lang_quantiles": _lang_quantiles_oracle(),
        # Distant-supervision NER examples over the mentions prelude
        # (ner_dict.ner_examples_oracle_sql)
        "ner_examples": _ner_examples_oracle(),
        # Hamilton fetch-budget apportionment
        # (sampling.apportion_budget_oracle_sql)
        "crawl_quota": _crawl_quota_oracle(),
        # Exact stratified eval split
        # (sampling.stratified_sample_oracle_sql)
        "eval_split": _eval_split_oracle(),
        # Crawl-delay-capped quotas (sampling.polite_quota_oracle_sql)
        "polite_quota": _polite_quota_oracle(),
        # Materialized KG node table: mention/doc rollups + degree +
        # the min-label closure, all over the shared prelude
        "kg_node_profile": _PRELUDE.replace("WITH sent0", "WITH RECURSIVE sent0", 1)
        + """
, gd AS (SELECT entity_id, doc_id, count(*) AS c
         FROM linked GROUP BY entity_id, doc_id),
pe AS (SELECT entity_id,
              sum(c)::BIGINT AS n_mentions,
              count(*)::BIGINT AS n_docs,
              min(doc_id % 5)::BIGINT AS first_epoch,
              max(doc_id % 5)::BIGINT AS last_epoch
       FROM gd GROUP BY entity_id),
np_nb AS (
  -- NB: under WITH RECURSIVE, DuckDB 1.0 compiles UNION as UNION ALL
  -- for every CTE in the list — dedup must be an explicit DISTINCT
  SELECT DISTINCT e, n FROM (
    SELECT subj_id AS e, obj_id AS n FROM triples
    UNION ALL SELECT obj_id, subj_id FROM triples
  )
),
np_dg AS (SELECT e, count(*)::BIGINT AS degree FROM np_nb GROUP BY e),
np_edges AS (SELECT DISTINCT subj_id AS a, obj_id AS b FROM triples),
np_sym AS (SELECT a, b FROM np_edges UNION SELECT b, a FROM np_edges),
np_nodes AS (SELECT DISTINCT a AS node FROM np_sym),
np_reach(node, lbl) AS (
  SELECT node, node FROM np_nodes
  UNION
  SELECT e.b, r.lbl FROM np_reach r JOIN np_sym e ON r.node = e.a
),
np_comp AS (SELECT node, min(lbl) AS component FROM np_reach GROUP BY node)
SELECT pe.entity_id,
       coalesce(np_comp.component, pe.entity_id) AS component,
       pe.n_mentions, pe.n_docs, pe.first_epoch, pe.last_epoch,
       coalesce(np_dg.degree, 0)::BIGINT AS degree
FROM pe
LEFT JOIN np_comp ON pe.entity_id = np_comp.node
LEFT JOIN np_dg ON pe.entity_id = np_dg.e
""",
        "quality_sample": "SELECT doc_id AS id, n_words FROM ("
        + quality_weighted_sample_oracle_sql(
            "SELECT doc_id, len(regexp_extract_all(lower(text), '\\w+'))::BIGINT"
            " AS n_words FROM documents",
            score_expr="n_words",
            max_score=200,
            key="doc_id",
            seed="qs1",
        )
        + ") qs",
        # Recrawl change tracking: lag over (url, warc_ts) — ts unique
        # per fetch by construction, so ordering is total
        "crawl_delta": """
WITH pages AS (
  SELECT 'https://site' || (doc_id % 100) || '.example.net/p' AS url,
         1700000000 + doc_id AS warc_ts,
         'page content ' || (doc_id % 100)
         || (CASE WHEN doc_id % 7 < 2 THEN ' v2' ELSE '' END) AS text,
         doc_id
  FROM documents
),
l AS (SELECT *, lag(text) OVER (PARTITION BY url ORDER BY warc_ts) AS prev
      FROM pages)
SELECT url, warc_ts::BIGINT AS warc_ts, doc_id::BIGINT AS doc_id,
       CASE WHEN prev IS NULL THEN 'new'
            WHEN prev = text THEN 'unchanged'
            ELSE 'changed' END AS change,
       (CASE WHEN prev IS NULL THEN 0
             ELSE length(text) - length(prev) END)::BIGINT AS delta_chars
FROM l
""",
        # CCNet-style paragraph dedup: first (doc_id, pidx) per distinct
        # paragraph survives corpus-wide; row_number mirrors the
        # min(struct) argmin (Spark keys on sha2(para) — same grouping
        # absent collisions)
        "paragraph_dedup": """
WITH d AS (
  SELECT doc_id,
    regexp_replace(text, ' a ', chr(10), 'g')
    || (CASE WHEN doc_id % 2 = 0
        THEN chr(10) || 'subscribe to our newsletter' ELSE '' END)
    || (CASE WHEN doc_id % 3 = 0
        THEN chr(10) || 'all rights reserved' ELSE '' END) AS text
  FROM documents
),
p AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pidx,
         unnest(string_split(text, chr(10))) AS para
  FROM d
),
k AS (SELECT doc_id, pidx, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pidx) AS rn
      FROM p),
reb AS (SELECT doc_id,
               string_agg(para, chr(10) ORDER BY pidx) AS text_dedup,
               count(*) AS n_kept
        FROM k WHERE rn = 1 GROUP BY doc_id),
tot AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_paras FROM d)
SELECT t.doc_id::BIGINT AS doc_id,
       coalesce(r.text_dedup, '') AS text_dedup,
       t.n_paras::BIGINT AS n_paras,
       coalesce(r.n_kept, 0)::BIGINT AS n_kept
FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
""",
        # Deterministic md5-gated sample (threshold string shared with
        # sampling.sample_threshold)
        # full fuzzy-NEL chain: variant surfaces -> bipartite char-gram
        # join vs DISTINCT alias terms -> exact jq rank -> per-surface
        # argmax window (jq DESC, ID ASC, term ASC)
        "fuzzy_link": """
WITH alias(term, id) AS (VALUES __ALIAS__),
terms AS (SELECT DISTINCT lower(term) AS term FROM alias),
surfaces AS (
  SELECT term || 's' AS name FROM terms
  UNION
  SELECT substring(term, 2) FROM terms
),
gl AS (
  SELECT name AS l,
         unnest(list_distinct(
           CASE WHEN length(trim(lower(name))) >= 3
                THEN list_transform(range(1, length(trim(lower(name))) - 1),
                                    i -> substring(trim(lower(name)), i, 3))
                ELSE [trim(lower(name))] END)) AS g
  FROM surfaces
),
gr AS (
  SELECT term AS r,
         unnest(list_distinct(
           CASE WHEN length(trim(lower(term))) >= 3
                THEN list_transform(range(1, length(trim(lower(term))) - 1),
                                    i -> substring(trim(lower(term)), i, 3))
                ELSE [trim(lower(term))] END)) AS g
  FROM terms
),
szl AS (SELECT l, count(*)::BIGINT AS nl FROM gl GROUP BY l),
szr AS (SELECT r, count(*)::BIGINT AS nr FROM gr GROUP BY r),
inter AS (
  SELECT gl.l, gr.r, count(*)::BIGINT AS inter
  FROM gl JOIN gr USING (g) GROUP BY gl.l, gr.r
),
m AS (
  SELECT l, r, inter,
         round(inter / (szl.nl + szr.nr - inter), 6) AS jaccard,
         CAST(floor(inter * 1000000 / (szl.nl + szr.nr - inter)) AS BIGINT) AS jq
  FROM inter JOIN szl USING (l) JOIN szr USING (r)
  WHERE round(inter / (szl.nl + szr.nr - inter), 6) >= 0.4
),
cand AS (
  SELECT m.l AS name, a.id AS entity_id, a.term, m.jq,
         row_number() OVER (PARTITION BY m.l
                            ORDER BY m.jq DESC, a.id ASC, a.term ASC) AS rn
  FROM m JOIN (SELECT DISTINCT lower(term) AS term, id FROM alias) a
    ON a.term = m.r
)
SELECT name, entity_id, jq FROM cand WHERE rn = 1
""".replace("__ALIAS__", _ALIAS_VALUES),
        "name_match": name_similarity_oracle_sql(
            k=3,
            threshold=0.5,
            source=(
                "(SELECT word AS name FROM "
                "  (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '\\w+')) AS word"
                "   FROM documents) "
                " UNION "
                " SELECT word || 's' FROM "
                "  (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '\\w+')) AS word"
                "   FROM documents))"
            ),
        ),
        "chunk_docs": chunk_docs_oracle_sql(max_tokens=32, overlap=8, min_tail=5),
        # exact BIGINT mixture gate: h32(url) * 1e6 < ppm(lang) * 2^32
        "mixture_sample": _URL_PAGES_CTE
        + """
SELECT doc_id, url, lang FROM h
WHERE ('0x' || substr(md5(url), 1, 8))::BIGINT * 1000000
      < (CASE lang WHEN 'en' THEN 750000 WHEN 'de' THEN 500000
                   WHEN 'fr' THEN 250000 ELSE 0 END)::BIGINT * 4294967296
""",
        "deterministic_sample": _sample_oracle(),
        # Domain diversity cap: row_number per host mirrors
        # sampling.per_host_cap (quality DESC, url tie-break)
        "per_host_cap": _URL_PAGES_CTE
        + """
, q AS (SELECT doc_id, url, host,
          ((doc_id * 37) % 101)::DOUBLE / 4::DOUBLE AS quality
        FROM h),
r AS (SELECT *, row_number() OVER (PARTITION BY host
                                   ORDER BY quality DESC, url) AS rn
      FROM q)
SELECT host, url, quality, rn::BIGINT AS host_rank FROM r WHERE rn <= 5
""",
        # Quality-ordered token-budget cut; explicit ROWS frame mirrors
        # Spark's rowsBetween (total order via doc_id tie-break anyway)
        "token_budget": _URL_PAGES_CTE
        + """
, q AS (SELECT doc_id,
          ((doc_id * 37) % 101)::DOUBLE / 4::DOUBLE AS quality,
          50 + doc_id % 200 AS n_tokens
        FROM p),
c AS (SELECT doc_id, quality, n_tokens,
             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM q)
SELECT doc_id::BIGINT AS doc_id, quality, n_tokens::BIGINT AS n_tokens,
       cum::BIGINT AS cum_tokens
FROM c WHERE cum <= 30000
""",
        # As-of latest-crawl selection; ORDER BY ts DESC, doc_id DESC
        # mirrors webtext.latest_crawl's max(struct) tie-break
        "latest_crawl": """
WITH pages AS (
  SELECT 'https://' ||
    (CASE WHEN doc_id % 10 < 3 THEN 'hub.example.com'
          ELSE 'site' || (doc_id % 37) || '.example.net' END)
    || '/p/' || (doc_id % 100) AS url,
    1700000000 + (doc_id % 17) * 1000 + doc_id % 7 AS warc_ts,
    doc_id
  FROM documents
),
f AS (SELECT * FROM pages WHERE warc_ts <= 1700013000)
SELECT url, warc_ts::BIGINT AS warc_ts, doc_id::BIGINT AS doc_id
FROM (SELECT *, row_number() OVER (PARTITION BY url
                                   ORDER BY warc_ts DESC, doc_id DESC) AS rn
      FROM f)
WHERE rn = 1
""",
        # Gopher quality-gate battery over restructured multi-line text
        "gopher_filters": _gopher_oracle(),
    })
