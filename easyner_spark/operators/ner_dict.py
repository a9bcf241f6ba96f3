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
from it; matching runs inside `mapInArrow` (Arrow record batches in and
out, no pandas, no per-row Python serde). The operator is a narrow map —
no shuffle — so it scales linearly to any number of executors; this is
the "salted broadcast-join against an alias dictionary" analog from the
north_star, with the broadcast making it immune to URL-host skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
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


def lower_tokens(toks: list[str]) -> list[str]:
    """A TOKEN_RE token stream, each token lowercased. One `lower()`
    over the space-joined tokens: tokens hold no whitespace, and a
    space ends a word for the final-sigma rule just as the end of a
    token does, so this equals lowercasing each token."""
    return " ".join(toks).lower().split(" ") if toks else []


def match_tokens(trie: dict, toks: list[str]) -> list[tuple[int, int, list]]:
    """(begin_tok, end_tok, classes) for every trie match over the
    lowercased token stream (:func:`lower_tokens`); all overlaps kept;
    order (begin, end) ascending — the engine's canonical mention
    order. A walk from token i stops at the first token the trie has
    no edge for, or at the end of the stream."""
    out = []
    n = len(toks)
    for i in range(n):
        node = trie.get(toks[i])
        j = i + 1
        while node is not None:
            classes = node.get(None)
            if classes:
                out.append((i, j, classes))
            if j == n:
                break
            node = node.get(toks[j])
            j += 1
    return out


def dict_ner(
    sentences: DataFrame,
    terms: list[tuple[str, str | None]],
    text_col: str = "sentence",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """sentences (url, sent_idx, sentence) -> mentions table, plus the
    sentence's `keep_cols` on each of its mentions.

    The term list is broadcast, and each task builds the trie from it
    once, on entry to its partition iterator: 60-120 ms per task on a
    20k-term dictionary (4-core Xeon). Broadcasting the pickled trie
    instead does not pay: measured side by side, unpickling it took
    0.14 s and building it 0.12-0.13 s.

    Matching runs in `mapInArrow`. Each sentence is tokenized once, by
    `tokenize_with_offsets` (one `findall` plus a `str.find` walk for
    the char offsets); its tokens are lowercased in one `lower()` and
    matched against the trie, and a hit's span is read off the cased
    tokens' offsets. `mention` is that slice of the sentence and
    `mention_lc` its `lower()`. The output columns are built as Arrow
    arrays (`url`/`sent_idx` and `keep_cols` by `take` on the input's).
    """
    spark = sentences.sparkSession
    bc = spark.sparkContext.broadcast(terms)

    def _match(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        trie = build_trie(bc.value)
        cols = [
            "url", "sent_idx", "mention", "mention_lc",
            "begin", "end", "begin_tok", "end_tok", "class", *keep_cols,
        ]
        for batch in batches:
            rows: list[int] = []
            mention: list[str] = []
            begin: list[int] = []
            end: list[int] = []
            begin_tok: list[int] = []
            end_tok: list[int] = []
            cls_out: list[str | None] = []
            for r, text in enumerate(batch.column(2).to_pylist()):
                if not text:
                    continue
                spans = tokenize_with_offsets(text)
                hits = match_tokens(trie, lower_tokens([t for t, _, _ in spans]))
                for bt, et, classes in hits:
                    b, e = spans[bt][1], spans[et - 1][2]
                    for cls in classes:
                        rows.append(r)
                        mention.append(text[b:e])
                        begin.append(b)
                        end.append(e)
                        begin_tok.append(bt)
                        end_tok.append(et)
                        cls_out.append(cls)
            idx = pa.array(rows, pa.int32())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(idx),
                    batch.column(1).take(idx),
                    pa.array(mention, pa.string()),
                    pa.array([m.lower() for m in mention], pa.string()),
                    pa.array(begin, pa.int32()),
                    pa.array(end, pa.int32()),
                    pa.array(begin_tok, pa.int32()),
                    pa.array(end_tok, pa.int32()),
                    pa.array(cls_out, pa.string()),
                    *[batch.column(3 + i).take(idx) for i in range(len(keep_cols))],
                ],
                names=cols,
            )

    pruned = sentences.select("url", "sent_idx", text_col, *keep_cols)
    kept = "".join(f", {c} {pruned.schema[c].dataType.simpleString()}" for c in keep_cols)
    return pruned.mapInArrow(_match, MENTION_SCHEMA + kept)


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
