"""Trafilatura-style boilerplate stripping: ``html: binary`` -> main
content text (north_star stage 1; no analog in the reference, which
starts from pre-extracted abstracts — scripts/text_loader.py:6-39 is
the closest: it trusts its input to already be clean text).

Determinism is the contract (BASELINE.md: extracted text must be
byte-identical per url on every run / cluster size), so the extractor
is a pinned, pure-Python DOM walk over the stdlib ``html.parser`` —
no statistical readability model, no version-fragile dependency:

  1. PRUNE subtrees that never carry main content (script/style/nav/
     header/footer/aside/form/head/...) — trafilatura's tag-exclusion
     pass;
  2. segment remaining text into BLOCKS at block-level element
     boundaries (p, h1-h6, li, td, pre, blockquote, div, br, ...);
  3. score each block by LINK DENSITY (chars inside <a> / total chars)
     and drop link-dominated blocks (menus, related-links rails) —
     trafilatura/jusText's link-density heuristic;
  4. join surviving blocks with a single newline. Downstream
     normalization (functions/text.normalize_text) collapses those to
     spaces, matching the reference's line-join semantics
     (scripts/text_loader.py:17).

Execution shape: a scalar Arrow pandas UDF (binary -> string) — a
narrow, shuffle-free projection that runs at scan parallelism. At
10^12 pages this stage is embarrassingly parallel; the only scale
knob is input split size (spark.sql.files.maxPartitionBytes), and the
UDF holds one Arrow batch, not one page, per GIL acquisition.

Per-byte speed (the real 100-TB cost axis — crawl pages are ~100 KB,
not the synthetic corpus's ~700 B): the default path is
_FastMainContentParser, a one-shot scanner that emits the exact same
event stream as the stdlib HTMLParser but ~2.7x faster (52 vs 19
MB/s/thread measured on realistic 20 KB pages, Python 3.11). The
original stdlib-driven walk is kept as `extract_text_py_stdlib`; a
30k-page adversarial fuzz corpus plus goldens pin byte-parity
(tests/test_boilerplate.py::TestFastScannerParity).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Subtrees dropped wholesale (tag-exclusion pass). `head` covers
# title/meta; template/svg/iframe never hold body prose.
PRUNE_TAGS = frozenset(
    """script style noscript template svg iframe head nav header footer
    aside form button select option datalist canvas audio video map
    object embed applet menu dialog""".split()
)

# Tags that terminate the current text block. Void tags (br, hr) flush
# on the start event; container tags flush on both start and end.
BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li td th tr table ul ol dl dt dd pre
    blockquote article section main figure figcaption summary details
    address fieldset hr br body html""".split()
)

VOID_BLOCK_TAGS = frozenset({"br", "hr"})

# A block whose text is mostly anchor text is navigation, not content.
MAX_LINK_DENSITY = 0.66


class _MainContentParser(HTMLParser):
    """One-pass block segmentation with per-block anchor-char counts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int]] = []  # (raw_text, anchor_chars)
        self._buf: list[str] = []
        self._anchor_chars = 0
        self._prune_depth = 0
        self._a_depth = 0

    def _flush(self) -> None:
        text = "".join(self._buf)
        if text.strip():
            self.blocks.append((text, self._anchor_chars))
        self._buf = []
        self._anchor_chars = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in PRUNE_TAGS:
            self._prune_depth += 1
            return
        if self._prune_depth:
            return
        if tag == "a":
            self._a_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in PRUNE_TAGS:
            # tolerate stray close tags in malformed markup
            self._prune_depth = max(0, self._prune_depth - 1)
            return
        if self._prune_depth:
            return
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        if tag in BLOCK_TAGS and tag not in VOID_BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.handle_starttag(tag, attrs)
        if tag not in VOID_BLOCK_TAGS:
            self.handle_endtag(tag)

    def handle_data(self, data: str) -> None:
        if self._prune_depth or not data:
            return
        self._buf.append(data)
        if self._a_depth:
            self._anchor_chars += len(data)

    def close(self) -> None:  # flush trailing text outside any block
        super().close()
        self._flush()


# ---------------------------------------------------------------------------
# Fast scanner (same contract, ~3x the bytes/sec)
# ---------------------------------------------------------------------------
# The stdlib HTMLParser spends most of its time in parse_starttag's
# attribute loop (tagfind + one attrfind regex call PER attribute +
# value unescape) and in updatepos bookkeeping — none of which this
# extractor uses: it only needs (tag-name, start|end|startend, data).
# _FastMainContentParser re-implements goahead(end=1) as a one-shot
# scan over the whole document with
#   * ONE combined regex per start tag (_FAST_START) instead of the
#     3-regex-plus-Python-loop stdlib path. Each attribute unit is an
#     ATOMIC group (?>...), so the combined regex tokenizes exactly
#     like the stdlib's sequential attrfind loop (no cross-unit
#     backtracking can produce a different split — an attr unit can
#     never start where the '/?>' tail matches, so giving units back
#     never helps); if the combined regex does not match, the scanner
#     falls back to the stdlib parse_starttag on the same buffer,
#     byte-identical by construction (junk-in-tag pages, truncated
#     tags, exotic quoting).
#   * no updatepos / line-number tracking (never reported),
#   * no attribute materialization or attr-value unescape,
#   * identical CDATA (script/style) mode via the inherited
#     set_cdata_mode/clear_cdata_mode, identical charref conversion
#     (unescape on data segments; the stdlib's mid-charref buffer
#     logic is a chunked-feed artifact — with the whole document in
#     hand the emitted bytes are the same).
# Byte-parity with _MainContentParser is pinned by the golden corpus
# AND a 20k-page adversarial fuzz test (tests/test_boilerplate.py);
# extract_text_py_stdlib keeps the reference implementation callable
# forever. Possessive/atomic groups need Python >= 3.11; on older
# runtimes _FAST_OK is False and everything routes to the stdlib twin.

try:
    _FAST_START = re.compile(
        r"<([a-zA-Z][^\t\n\r\f />\x00]*)"  # 1: tag name (tagfind_tolerant)
        r"(?:\s|/(?!>))*"
        r"(?:(?>(?<=['\"\s/])[^\s/>][^\s/=>]*"  # atomic attr unit ==
        r"(?:\s*=+\s*(?:'[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?"  # attrfind_tolerant
        r"(?:\s|/(?!>))*))*"
        r"(/?>)"  # 2: end kind -> starttag vs startendtag
    )
    _FAST_OK = True
except re.error:  # pragma: no cover - pre-3.11 runtime
    _FAST_START = None
    _FAST_OK = False

# Public-grammar twins of the stdlib module-level patterns (html5
# tokenization spec); compiled here so a stdlib rename can't break us.
_STARTTAGOPEN = re.compile("<[a-zA-Z]")
_ENDTAGFIND = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_COMMENTCLOSE = re.compile(r"--\s*>")
_PICLOSE = re.compile(">")


class _FastMainContentParser(_MainContentParser):
    """One-shot scanner with stdlib-parser fallback per construct."""

    def run(self, data: str) -> None:
        self.rawdata = data  # stdlib parse_* fallbacks read this
        n = len(data)
        i = 0
        handle_data = self.handle_data
        fast_start = _FAST_START.match
        fast_end = _ENDTAGFIND.match
        find = data.find
        buf = self._buf  # hot-path inlined handler state (lives on
        # self so the stdlib parse_* fallbacks mutate the SAME state;
        # buf is the one alias — rebind after every _flush)
        while i < n:
            if self.cdata_elem is None:
                j = find("<", i)
                if j < 0:
                    j = n
                if j > i:
                    if not self._prune_depth:  # inlined handle_data
                        chunk = data[i:j]
                        if "&" in chunk:
                            chunk = unescape(chunk)
                        buf.append(chunk)
                        if self._a_depth:
                            self._anchor_chars += len(chunk)
                i = j
                if i == n:
                    break
            else:
                m = self.interesting.search(data, i)
                if m is None:
                    # unterminated script/style at EOF: stdlib drops it
                    return
                j = m.start()
                if j > i:
                    handle_data(data[i:j])  # raw: no charref conv in CDATA
                i = j
            # data[i] == '<'
            nxt = data[i + 1 : i + 2]
            if ("a" <= nxt <= "z") or ("A" <= nxt <= "Z"):
                m = fast_start(data, i)
                if m is not None:
                    tag, kind = m.group(1, 2)
                    tag = tag.lower()
                    if kind == ">":
                        # inlined handle_starttag
                        if tag in PRUNE_TAGS:
                            self._prune_depth += 1
                            if tag in ("script", "style"):
                                self.set_cdata_mode(tag)
                        elif not self._prune_depth:
                            if tag == "a":
                                self._a_depth += 1
                            if tag in BLOCK_TAGS:
                                self._flush()
                                buf = self._buf
                    else:
                        self.handle_startendtag(tag, [])
                        buf = self._buf
                    i = m.end()
                    continue
                k = self.parse_starttag(i)
                buf = self._buf
            elif nxt == "/":
                m = fast_end(data, i)
                if m is not None:
                    elem = m.group(1).lower()
                    if self.cdata_elem is not None:
                        if elem != self.cdata_elem:
                            handle_data(data[i : m.end()])
                            i = m.end()
                            continue
                        self.clear_cdata_mode()
                    # inlined handle_endtag
                    if elem in PRUNE_TAGS:
                        d = self._prune_depth
                        self._prune_depth = d - 1 if d else 0
                    elif not self._prune_depth:
                        if elem == "a":
                            d = self._a_depth
                            self._a_depth = d - 1 if d else 0
                        if elem in BLOCK_TAGS and elem not in VOID_BLOCK_TAGS:
                            self._flush()
                            buf = self._buf
                    i = m.end()
                    continue
                k = self.parse_endtag(i)
                buf = self._buf
            elif data.startswith("<!--", i):
                m = _COMMENTCLOSE.search(data, i + 4)
                k = m.end() if m else -1  # comment body ignored (no-op handler)
            elif nxt == "?":
                m = _PICLOSE.search(data, i + 2)
                k = m.end() if m else -1
            elif nxt == "!":
                k = self.parse_html_declaration(i)
            elif i + 1 < n:
                handle_data("<")
                i += 1
                continue
            else:
                handle_data("<")  # lone '<' at EOF (goahead end-block)
                return
            if k < 0:
                # truncated construct at EOF — stdlib goahead(end=1)
                # recovery: swallow to next '>' (or '<', or one char)
                # and emit it as data.
                k = find(">", i + 1)
                if k < 0:
                    k = find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                chunk = data[i:k]
                if self.cdata_elem is None and "&" in chunk:
                    chunk = unescape(chunk)
                handle_data(chunk)
            i = k


def extract_text_py_stdlib(
    html: bytes | str | None, encoding: str = "utf-8"
) -> str:
    """The pinned reference implementation (pure stdlib HTMLParser).
    Kept callable forever: the golden contract and the fuzz parity
    test define `extract_text_py` as byte-equal to THIS."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode(encoding, errors="replace")
    parser = _MainContentParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        parser._flush()
    return _render_blocks(parser.blocks)


def _render_blocks(blocks: list[tuple[str, int]]) -> str:
    kept = []
    for text, anchor_chars in blocks:
        stripped = text.strip()
        if not stripped:
            continue
        if anchor_chars / max(len(stripped), 1) > MAX_LINK_DENSITY:
            continue
        kept.append(stripped)
    return "\n".join(kept)


def extract_text_py(html: bytes | str | None, encoding: str = "utf-8") -> str:
    """bytes/str html -> extracted main-content text (pinned contract).

    Blocks joined by '\\n'; a page with no surviving block -> ''.
    Malformed markup never raises (HTMLParser is tolerant; decode uses
    errors='replace').
    """
    if not _FAST_OK:
        return extract_text_py_stdlib(html, encoding)
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode(encoding, errors="replace")
    parser = _FastMainContentParser()
    try:
        parser.run(html)
        parser._flush()
    except Exception:
        # a poisoned page must not kill the partition — emit what was
        # parsed so far (same recovery contract as the stdlib twin).
        parser._flush()
    return _render_blocks(parser.blocks)


def _extract_series(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


def extract_text(
    pages: DataFrame, html_col: str = "html", out_col: str = "extracted"
) -> DataFrame:
    """pages(url, ..., html: binary) -> + out_col string. Narrow
    projection, no shuffle; Arrow-batched. (UDF built lazily — pyspark
    resolves the DDL return type against the active session.)

    The UDF is marked nondeterministic so the extractor runs once per
    row by construction: Catalyst then never pushes a filter on its
    output (or on anything computed from it, like the Gopher flags)
    below this projection, which would evaluate the pandas UDF twice."""
    udf = pandas_udf(_extract_series, "string").asNondeterministic()
    return pages.withColumn(out_col, udf(F.col(html_col)))


def extraction_mismatches(
    pages: DataFrame, text_col: str = "text", html_col: str = "html"
) -> DataFrame:
    """Rows violating the byte-identity invariant (extracted != text).
    Empty result == contract holds. Used by tests and as a data-quality
    audit over real crawls (where `text` is the upstream extractor's
    output)."""
    ex = extract_text(pages, html_col=html_col, out_col="__extracted")
    return (
        ex.where(F.col("__extracted") != F.col(text_col))
        .select("url", F.col(text_col).alias("expected"), F.col("__extracted").alias("extracted"))
    )
