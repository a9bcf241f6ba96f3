"""Deterministic text contract: normalization, tokenization, sentence
boundary rule (SURVEY.md section 7.0 "fidelity contract").

These three rules are THE determinism-critical operations — extracted /
normalized text must be byte-identical per url on every run and every
cluster size. Hence: pure regex, no statistical models, pinned here in
one module used by both the JVM-side column expressions and the
Python-side (pandas UDF) implementations.

Reference semantics reproduced:
  - newline collapse + strip: `re.sub(r'\n+', ' ', s).strip()`
    (reference convert_easyner_raw_json_to_pubtator.py:20-21,
    scripts/text_loader.py:17 joins lines with single spaces).
  - sentence split: rule-based replacement for the reference's
    NLTK/spaCy sentencers (scripts/splitter.py:13-26) — split after a
    run of [.!?] followed by whitespace. Statistical sentencers are
    version-fragile; the rule is the engine's pinned contract.
  - tokenizer: word-char runs or single non-space punctuation chars
    (`\\w+|[^\\w\\s]`) — a deterministic stand-in for the spaCy
    tokenizer backing PhraseMatcher(attr="LOWER")
    (reference scripts/ner_main.py:48-50): multi-token dictionary terms
    match across token boundaries, but a term never matches inside a
    longer token ("cov" does not match inside "covid").
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java regex (Spark) — supports lookbehind, used JVM-side. `(?U)`
# (UNICODE_CHARACTER_CLASS) makes Java's \w/\s match Python's
# unicode-default semantics, so JVM and Python token/sentence streams
# are identical byte-for-byte.
SENT_SPLIT_JAVA = r"(?U)(?<=[.!?])\s+"
# Python equivalent (\w/\s are unicode by default).
SENT_SPLIT_PY = re.compile(r"(?<=[.!?])\s+")

TOKEN_RE_STR = r"\w+|[^\w\s]"          # python flavor
TOKEN_RE_JAVA = r"(?U)\w+|[^\w\s]"     # JVM flavor, same token stream
TOKEN_RE = re.compile(TOKEN_RE_STR)

NEWLINE_RUN_JAVA = r"\n+"
_NEWLINE_RUN_PY = re.compile(r"\n+")


def normalize_text(col: Column) -> Column:
    """Column expression: collapse newline runs to one space, trim."""
    return F.trim(F.regexp_replace(col, NEWLINE_RUN_JAVA, " "))


def normalize_text_py(s: str) -> str:
    """Python mirror of :func:`normalize_text` (used in fixtures/tests
    to assert the per-url byte-identical invariant)."""
    return _NEWLINE_RUN_PY.sub(" ", s).strip()


def split_sentences_py(text: str) -> list[str]:
    """Python mirror of the JVM-side sentence split (same regex)."""
    return [s for s in SENT_SPLIT_PY.split(normalize_text_py(text)) if s]


def tokenize_with_offsets(text: str) -> list[tuple[str, int, int]]:
    """Canonical tokenizer with char offsets: (token, begin, end).

    One `findall`, then a `str.find` walk over the tokens: a char
    between two TOKEN_RE tokens is neither `\\w` nor `[^\\w\\s]`, so
    the gaps are whitespace only and no token starts inside one — each
    token's first occurrence at or after the previous token's end is
    its own. Cheaper than building a match object per token."""
    out = []
    find = text.find
    end = 0
    for tok in TOKEN_RE.findall(text):
        begin = find(tok, end)
        end = begin + len(tok)
        out.append((tok, begin, end))
    return out


# Reference entity_parser.py:44-53: the detokenized sentence text gets
# this literal replace chain (order matters — applied left to right).
DETOK_FIXUPS = [
    (" .", "."), (" ,", ","), (" - ", "-"), ("( ", "("), (" )", ")"),
    (" :", ":"), (" ;", ";"), (" !", "!"), (" ?", "?"),
]
# Reference entity_parser.py:38-39: entity surfaces get only these two.
ENTITY_FIXUPS = [(" - ", "-"), (" , ", ",")]


def detok_fixups(col: Column) -> Column:
    """Column expression applying the reference's detokenization
    replace chain (entity_parser.py:44-53) — literal, not regex."""
    for old, new in DETOK_FIXUPS:
        col = F.replace(col, F.lit(old), F.lit(new))
    return col


def detok_fixups_py(s: str) -> str:
    for old, new in DETOK_FIXUPS:
        s = s.replace(old, new)
    return s


def entity_fixups_py(s: str) -> str:
    """Reference entity_parser.py:38-39 entity-surface repairs."""
    for old, new in ENTITY_FIXUPS:
        s = s.replace(old, new)
    return s
