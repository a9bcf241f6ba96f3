"""Sentence splitting: pages -> sentences (SURVEY.md section 2.4 T1/T2).

Reference: scripts/splitter.py:13-26 splits each abstract with NLTK
`sent_tokenize` or spaCy `doc.sents` into a list of sentence strings
(and reloads the spaCy model per text — its biggest CPU waste, SURVEY
section 4.1). The engine's default splitter is the pinned regex rule
from functions.text, which lets the WHOLE operator stay JVM-side:

    split(normalize(text), boundary_regex) -> filter empties -> posexplode

No Python, no shuffle — a narrow map inside whole-stage codegen, so it
scales linearly with input splits at any cluster size. `posexplode`
assigns sent_idx deterministically (replaces the reference's per-article
counter, scripts/ner_main.py:166-170; SURVEY W1).

A pluggable pandas-UDF variant (`split_sentences_udf`) exists for
model-based sentencers; it keeps the same output contract and loads the
model once per Arrow batch iterator (fixing the reference's per-text
reload).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from easyner_spark.functions.text import SENT_SPLIT_JAVA, normalize_text, split_sentences_py


def split_sentences(
    pages: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    lang_filter: str | None = "en",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """pages -> (url, sent_idx, sentence), all JVM-side built-ins.

    `lang_filter` reproduces the reference's load-time drop of
    non-usable rows (empty-abstract filter, scripts/pubmed_bulk.py:115-117
    / P2) generalized to the input_hint `lang` column; pass None to keep
    every row. The lang filter is a simple predicate that Catalyst
    pushes into the parquet scan. Null or empty text needs no filter:
    its filtered split is null or empty, so posexplode emits no rows
    (a `text` predicate would also be pushed below an extracting
    pandas UDF and run it twice).
    """
    df = pages
    if lang_filter is not None and "lang" in df.columns:
        df = df.where(F.col("lang") == lang_filter)

    sents = F.split(normalize_text(F.col(text_col)), SENT_SPLIT_JAVA)
    sents = F.filter(sents, lambda s: F.length(s) > 0)
    return df.select(
        F.col(id_col).alias("url"),
        *[F.col(c) for c in keep_cols],
        F.posexplode(sents).alias("sent_idx", "sentence"),
    )


def split_sentences_udf(
    pages: DataFrame,
    splitter_factory: Callable[[], Callable[[str], list[str]]] | None = None,
    text_col: str = "text",
    id_col: str = "url",
) -> DataFrame:
    """Model-pluggable splitter: same contract as :func:`split_sentences`
    but the boundary decision runs in an Arrow-batched iterator pandas
    UDF. `splitter_factory()` is invoked once per executor-partition
    (amortized init — the fix for scripts/splitter.py:20 reloading the
    model per text) and must return a `text -> [sentence]` callable.
    """

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _split(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        split_fn = splitter_factory() if splitter_factory else split_sentences_py
        for batch in batches:
            yield batch.map(lambda t: split_fn(t) if t else [])

    return pages.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("url"),
        F.posexplode(_split(F.col(text_col))).alias("sent_idx", "sentence"),
    )


def spacy_splitter_factory(model: str = "en_core_web_sm"):
    """splitter_factory for :func:`split_sentences_udf` backed by real
    spaCy (reference scripts/splitter.py:18-26: `doc.sents`,
    `str(span)` per sentence) — but loading the model ONCE per
    partition iterator instead of once per text (the reference's
    biggest CPU waste, SURVEY §4.1). Import-gated: spaCy is absent in
    this sandbox; the byte-parity proof against en_core_web_sm runs via
    tests/golden/splitter_spacy.jsonl wherever spaCy is installed
    (tools/gen_splitter_golden.py --spacy)."""

    def build():
        try:
            import spacy
        except ImportError as e:  # pragma: no cover - env without spaCy
            raise ImportError(
                "spaCy not available; use the pinned-regex default "
                "splitter or install spacy + the model"
            ) from e
        nlp = spacy.load(model)
        return lambda text: [str(s) for s in nlp(text).sents]

    return build


def nltk_splitter_factory():
    """splitter_factory wrapping NLTK sent_tokenize (reference
    scripts/splitter.py:13-15). Import-gated like the spaCy twin."""

    def build():
        try:
            from nltk.tokenize import sent_tokenize
        except ImportError as e:  # pragma: no cover - env without NLTK
            raise ImportError(
                "NLTK not available; use the pinned-regex default splitter"
            ) from e
        return sent_tokenize

    return build
