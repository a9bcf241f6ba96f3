"""Dictionary NER: sentences -> mentions (SURVEY.md section 2.4 T4).

Reference: scripts/ner_main.py:35-87 builds a spaCy
PhraseMatcher(attr="LOWER") over a one-term-per-line vocabulary and, per
sentence, emits every (overlapping) match's surface text + char span.
Semantics preserved here:
  - matching is on LOWERCASED token sequences (exact, token-aligned:
    "2019 cov" matches across a token boundary; "cov" never matches
    inside "covid");
  - ALL matches are kept, including overlaps and nested matches
    (scripts/ner_main.py:75-81 keeps every matcher hit);
  - the emitted `mention` is the original cased sentence slice
    (scripts/ner_main.py:77 `span.text`), `mention_lc` the lowercase
    form; spans are [begin, end) exclusive internally (the reference's
    dictionary-path inclusive `end_char - 1` quirk,
    scripts/ner_main.py:80, is applied only in sinks.compat).

Spark shape: the dictionary is small (hundreds..100k terms) — its term
list is broadcast once per executor, and every task builds a token-trie
from it; matching runs inside `mapInPandas` (Arrow batches, no per-row
Python serde). The operator is a narrow map — no shuffle — so it scales
linearly to any number of executors; this is the "salted broadcast-join
against an alias dictionary" analog from the north_star, with the
broadcast making it immune to URL-host skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from easyner_spark.functions.text import TOKEN_RE, TOKEN_RE_JAVA, tokenize_with_offsets

MENTION_SCHEMA = (
    "url string, sent_idx int, mention string, mention_lc string, "
    "begin int, end int, begin_tok int, end_tok int, class string"
)


def build_trie(terms: list[tuple[str, str | None]]) -> dict:
    """Token-trie over lowercased term token sequences.

    Node = {token: child_node}; terminal marker key `None` maps to the
    list of classes ending there (a term can belong to several classes
    across merged dictionaries).
    """
    root: dict = {}
    for term, cls in terms:
        toks = TOKEN_RE.findall(term.lower())
        if not toks:
            continue
        node = root
        for t in toks:
            node = node.setdefault(t, {})
        node.setdefault(None, []).append(cls)
    return root


def load_terms_file(path: str, cls: str | None = None) -> list[tuple[str, str | None]]:
    """One term per line, stripped (reference scripts/ner_main.py:41-45)."""
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            t = line.strip()
            if t:
                out.append((t, cls))
    return out


def match_tokens(trie: dict, toks: list[tuple[str, int, int]]):
    """Yield (begin_tok, end_tok, begin_char, end_char, classes) for every
    trie match over the token stream; all overlaps kept; emission order
    (begin, end) ascending — the engine's canonical mention order."""
    n = len(toks)
    for i in range(n):
        node = trie
        for j in range(i, n):
            node = node.get(toks[j][0].lower())
            if node is None:
                break
            classes = node.get(None)
            if classes:
                yield i, j + 1, toks[i][1], toks[j][2], classes


def dict_ner(
    sentences: DataFrame,
    terms: list[tuple[str, str | None]],
    text_col: str = "sentence",
) -> DataFrame:
    """sentences (url, sent_idx, sentence) -> mentions table.

    The term list is broadcast, and each task builds the trie from it
    once, on entry to its partition iterator: 60-120 ms per task on a
    20k-term dictionary (4-core Xeon).
    """
    spark = sentences.sparkSession
    bc = spark.sparkContext.broadcast(terms)

    def _match(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trie = build_trie(bc.value)
        cols = [
            "url", "sent_idx", "mention", "mention_lc",
            "begin", "end", "begin_tok", "end_tok", "class",
        ]
        for pdf in batches:
            rows = []
            for url, sent_idx, text in zip(
                pdf["url"].values, pdf["sent_idx"].values, pdf[text_col].values
            ):
                if not text:
                    continue
                toks = tokenize_with_offsets(text)
                for bt, et, bc_, ec, classes in match_tokens(trie, toks):
                    surface = text[bc_:ec]
                    for cls in classes:
                        rows.append(
                            (url, sent_idx, surface, surface.lower(), bc_, ec, bt, et, cls)
                        )
            yield pd.DataFrame(rows, columns=cols)

    pruned = sentences.select("url", "sent_idx", text_col)
    return pruned.mapInPandas(_match, MENTION_SCHEMA)


def ner_examples(
    mentions: DataFrame,
    sentences: DataFrame,
    window: int = 3,
    doc_col: str = "url",
    text_col: str = "sentence",
) -> DataFrame:
    """Distant-supervision NER training examples from dictionary
    mentions: per mention, the tokenized context window a BERT-style
    fine-tune consumes — (doc, sent_idx, begin_tok, end_tok, label,
    left_ctx, mention_txt, right_ctx), contexts space-joined from the
    SAME token stream dict_ner matched on (TOKEN_RE contract), '' /
    absent context emitted as NULL on both engines (nullif-normalized
    so empty slices hash identically to the oracle's out-of-range
    list_slice). Cross-engine caveat (inherited from the whole
    dict-NER oracle family): Java's (?U)\\w is Unicode, RE2's \\w is
    ASCII — the oracle contract holds on ASCII text; non-ASCII words
    tokenize differently per engine (Spark behavior is the correct
    one for a production corpus).

    This is the training-data product of the NER layer: the reference
    fine-tunes on hand-built corpora
    (/root/reference/supplementary/experiment_scripts, CRAFT/Flair
    converters); at crawl scale the bootstrap set is mined from the
    corpus itself exactly like this.

    Scale shape: ONE equi-join (doc, sent_idx) mentions->sentences
    (AQE-decided), then pure per-row array slicing fused into the
    projection — no explode, no window, no second shuffle. Fan-out is
    zero (one output row per mention)."""
    toks = sentences.select(
        F.col(doc_col),
        F.col("sent_idx"),
        F.expr(f"regexp_extract_all({text_col}, r'{TOKEN_RE_JAVA}', 0)").alias(
            "_toks"
        ),
    )
    j = mentions.join(toks, [doc_col, "sent_idx"])
    b = F.col("begin_tok").cast("int")
    e = F.col("end_tok").cast("int")
    lstart = F.greatest(F.lit(1), b - F.lit(window) + 1)
    return j.select(
        F.col(doc_col),
        F.col("sent_idx"),
        F.col("begin_tok"),
        F.col("end_tok"),
        F.col("class").alias("label"),
        F.nullif(
            F.array_join(F.slice(F.col("_toks"), lstart, b - lstart + 1), " "),
            F.lit(""),
        ).alias("left_ctx"),
        F.array_join(F.slice(F.col("_toks"), b + 1, e - b), " ").alias(
            "mention_txt"
        ),
        F.nullif(
            F.array_join(F.slice(F.col("_toks"), e + 1, F.lit(window)), " "),
            F.lit(""),
        ).alias("right_ctx"),
    )


def ner_examples_oracle_sql(with_prefix: str, window: int = 3) -> str:
    """DuckDB twin of ner_examples; `with_prefix` is a complete WITH
    chain providing sentences(doc_id, sent_idx, sentence) and
    mentions(doc_id, sent_idx, begin_tok, end_tok, class) — the
    engine's shared mentions prelude. list_slice is 1-based inclusive
    and clips out-of-range, matching Spark slice(start, len) edge
    semantics (verified: empty and clipped slices agree)."""
    return f"""{with_prefix},
sent_toks AS (
  SELECT doc_id, sent_idx,
         regexp_extract_all(sentence, '\\w+|[^\\w\\s]') AS toks
  FROM sentences
),
ex AS (
  SELECT m.doc_id, m.sent_idx, m.begin_tok, m.end_tok, m.class AS label,
         nullif(array_to_string(
           list_slice(t.toks, greatest(1, m.begin_tok - {window} + 1),
                      m.begin_tok), ' '), '') AS left_ctx,
         array_to_string(
           list_slice(t.toks, m.begin_tok + 1, m.end_tok), ' ') AS mention_txt,
         nullif(array_to_string(
           list_slice(t.toks, m.end_tok + 1, m.end_tok + {window}), ' '),
           '') AS right_ctx
  FROM mentions m JOIN sent_toks t
    ON m.doc_id = t.doc_id AND m.sent_idx = t.sent_idx
)
SELECT * FROM ex
"""
