"""Per-document text analysis for the curate job: the Gopher quality
gate and PII redaction, plus contact-fact extraction from the same PII
regexes.

These extend the reference's corpus hygiene (empty-abstract filter,
scripts/pubmed_bulk.py:115-117; char-count normalization,
tutorials/Tutorial_benchmarking_runtime.md:5-17) into the standard
web-corpus curation battery a 100 TB pipeline needs before NER.

Everything here is 100% JVM-side built-in column expressions — no
Python UDFs; the per-document operators are narrow per-row projections
that whole-stage codegen fuses into the scan, so throughput scales
linearly with input splits at any cluster size. All derived values are
integer counts or exact IEEE ratios of integer counts, written so the
DuckDB oracle computes bit-identical results.

Regex note: patterns here are ASCII-class (`\\w` without (?U)) so Java
(Spark) and RE2 (DuckDB) agree; the NER tokenizer contract in
functions.text keeps its own unicode-aware flavor.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_RE = r"\w+"

# English stopword set for the Gopher stopword rule. Closed set, lowercase.
STOPWORDS_EN = ("the", "and", "of", "to", "in", "is", "that", "with", "for", "was")


def words_array(text_col: str) -> Column:
    """THE engine-wide word tokenizer (lowercased \\w+ extraction) —
    every operator module and every DuckDB oracle that mirrors it
    (regexp_extract_all(lower(text), '\\w+')) shares this expression;
    edit here only."""
    return F.expr(f"regexp_extract_all(lower({text_col}), r'{WORD_RE}', 0)")


_words = words_array


def _marker_hits(words: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def _sum_wlen_col(words: Column) -> Column:
    """Sum of word lengths (the shared mean-word-length / repetition
    denominator). One HOF fold — callers must alias it ONCE per frame
    (see the layered-projection note below)."""
    return F.aggregate(F.transform(words, F.length), F.lit(0), lambda a, x: a + x)


# Layered-projection note (performance contract): higher-order-function
# expressions (transform/filter/aggregate lambdas) are NOT deduplicated
# by codegen subexpression elimination, so inlining the `words` array
# into every consumer re-runs the tokenizer regex once per reference.
# Every public operator below therefore stacks Projects — words, then
# integer counts, then derived ratios/argmax — and Catalyst keeps the
# boundaries (CollapseProject refuses to duplicate non-cheap
# multiply-referenced expressions); measured 150x on a word-shingle
# signature path.


def _select(docs: DataFrame, id_col: str, cols: dict[str, Column]) -> DataFrame:
    return docs.select(F.col(id_col), *[c.alias(n) for n, c in cols.items()])


BULLET_LINE_RE = r"^[ \t]*[-*]"   # ASCII bullets; shared with the oracle
ALPHA_WORD_RE = r"[a-z]"          # words are lowercased by _words


def gopher_filters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
    max_dup_line_frac: float = 0.3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", §A1.1 repetition/quality rules; same
    battery popularized by C4/RefinedWeb/Dolma): per-document rule
    flags plus the conjunction `gopher_keep`, with the measured ratios
    kept as columns so thresholds can be re-tuned without a rescan.

    Rules (defaults = the published Gopher thresholds):
      word count in [min_words, max_words]; mean word length in
      [3, 10]; symbol-to-word ratio (# and ellipsis) <= 0.1; lines
      starting with a bullet <= 90%; lines ending in an ellipsis
      <= 30%; >= 80% of words contain an alphabetic char; >= 2
      English stopword hits; duplicate-line fraction <= 0.3 (the
      line-wise member of Gopher's repetition family).

    Scale shape: zero shuffle — stacked narrow Projects over the scan
    (words/lines arrays materialized once per row; counts; then
    ratios+flags), so the gate runs at scan speed
    and its selectivity makes every downstream stage cheaper. All
    ratios are exact IEEE int/int divisions, bit-identical to the
    DuckDB oracle.

    `keep_cols` are carried through unchanged (narrow projections, so
    it costs nothing) — pass the text column when the caller keeps
    gate survivors: filtering on `gopher_keep` with the payload
    IN-ROW avoids a join back against the input, which would rescan
    (and for a UDF-produced input, RECOMPUTE) the whole upstream.
    """
    t = F.col(text_col)
    keep_cols = tuple(c for c in keep_cols if c != id_col)
    base = docs.select(
        F.col(id_col),
        t,
        *[F.col(c) for c in keep_cols if c != text_col],
        _words(text_col).alias("_w"),
        F.split(t, r"\n").alias("_lines"),
    )
    w, lines = F.col("_w"), F.col("_lines")
    ints = {
        "_n_words": F.size(w),
        "_sum_wlen": _sum_wlen_col(w),
        "_n_stop": _marker_hits(w, STOPWORDS_EN),
        "_n_alpha_words": F.size(F.filter(w, lambda x: x.rlike(ALPHA_WORD_RE))),
        "_n_lines": F.size(lines),
        "_n_dist_lines": F.size(F.array_distinct(lines)),
        "_n_bullet_lines": F.size(
            F.filter(lines, lambda l: l.rlike(BULLET_LINE_RE))
        ),
        "_n_ellipsis_lines": F.size(F.filter(lines, lambda l: l.endswith("..."))),
        "_n_hash": F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit(""))),
        "_n_ellipsis": (
            (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
        ).cast("long"),
    }
    mid = base.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *[c.alias(n) for n, c in ints.items()],
    )

    n_words, n_lines = F.col("_n_words"), F.col("_n_lines")
    mean_wlen = F.when(n_words > 0, F.col("_sum_wlen") / n_words).otherwise(F.lit(0.0))
    symbol_ratio = F.when(
        n_words > 0, (F.col("_n_hash") + F.col("_n_ellipsis")) / n_words
    ).otherwise(F.lit(0.0))
    bullet_ratio = F.when(
        n_lines > 0, F.col("_n_bullet_lines") / n_lines
    ).otherwise(F.lit(0.0))
    ellipsis_ratio = F.when(
        n_lines > 0, F.col("_n_ellipsis_lines") / n_lines
    ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(
        n_words > 0, F.col("_n_alpha_words") / n_words
    ).otherwise(F.lit(0.0))
    dup_line_frac = F.when(
        n_lines > 0, F.lit(1.0) - F.col("_n_dist_lines") / n_lines
    ).otherwise(F.lit(0.0))

    flags = {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len_ok": (mean_wlen >= min_mean_word_len)
        & (mean_wlen <= max_mean_word_len),
        "symbol_ratio_ok": symbol_ratio <= max_symbol_word_ratio,
        "bullet_ok": bullet_ratio <= max_bullet_line_ratio,
        "ellipsis_ok": ellipsis_ratio <= max_ellipsis_line_ratio,
        "alpha_ok": alpha_ratio >= min_alpha_word_ratio,
        "stopword_ok": F.col("_n_stop") >= min_stop_hits,
        "dup_line_ok": dup_line_frac <= max_dup_line_frac,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    out_cols: dict[str, Column] = {
        "n_words": n_words.cast("long"),
        "n_lines": n_lines.cast("long"),
        "mean_word_len": F.round(mean_wlen, 6),
        "symbol_word_ratio": F.round(symbol_ratio, 6),
        "bullet_line_ratio": F.round(bullet_ratio, 6),
        "ellipsis_line_ratio": F.round(ellipsis_ratio, 6),
        "alpha_word_ratio": F.round(alpha_ratio, 6),
        "dup_line_frac": F.round(dup_line_frac, 6),
    }
    out_cols.update(flags)
    out_cols["gopher_keep"] = keep
    for c in keep_cols:
        out_cols[c] = F.col(c)
    return _select(mid, id_col, out_cols)


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# ASCII-only patterns chosen so Java (Spark) and RE2 (DuckDB) agree:
# no lookarounds, no backreferences, \b/\d are ASCII in both engines.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+?\d[\d\- ]{7,}\d"


def pii_redact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scrub common PII from web text before it enters a training
    corpus: (id, text_redacted, n_emails, n_ips, n_phones, has_pii).

    The redaction is a SEQUENTIAL pipeline — emails first, then IPv4 on
    the email-redacted text, then phone-like digit runs on that — so a
    string never double-counts across categories (an email local-part's
    digit run is gone before the phone pass sees it). Each count is the
    number of non-overlapping matches at its own stage.

    Beyond-reference curation (the reference processes PubMed
    abstracts, which are pre-scrubbed); standard practice for
    Common-Crawl-style corpora (e.g. what C4/Dolma-style pipelines do
    before tokenization). Scale shape: three stacked Projects of pure
    JVM regexp built-ins — no shuffle, no Python, runs at scan speed;
    Catalyst keeps the layer boundaries because each intermediate text
    is non-cheap and referenced twice (count + next replace).
    """
    def _n(src: str, pat: str) -> Column:
        # group index 0 is REQUIRED in Spark for group-less patterns
        return F.size(F.expr(f"regexp_extract_all({src}, r'{pat}', 0)"))

    s0 = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t0"))
    s1 = s0.select(
        "id",
        _n("_t0", PII_EMAIL_RE).alias("n_emails"),
        F.regexp_replace("_t0", PII_EMAIL_RE, "<EMAIL>").alias("_t1"),
    )
    s2 = s1.select(
        "id",
        "n_emails",
        _n("_t1", PII_IPV4_RE).alias("n_ips"),
        F.regexp_replace("_t1", PII_IPV4_RE, "<IP>").alias("_t2"),
    )
    s3 = s2.select(
        "id",
        "n_emails",
        "n_ips",
        _n("_t2", PII_PHONE_RE).alias("n_phones"),
        F.regexp_replace("_t2", PII_PHONE_RE, "<PHONE>").alias("text_redacted"),
    )
    return s3.select(
        "id",
        "text_redacted",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_ips").cast("long").alias("n_ips"),
        F.col("n_phones").cast("long").alias("n_phones"),
        ((F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0).alias("has_pii"),
    )


def contact_facts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Contact-fact extraction — the INVERSE consumer of the PII
    regexes: (id, kind, contact_idx, value) for kind in
    {'email', 'phone'} — what pii_redact scrubs from training text is
    exactly what an ORG-entity KG wants as declared contact facts
    (about/imprint pages). Same regex constants (PII_EMAIL_RE /
    PII_PHONE_RE — one contract, two consumers); emails lowercased,
    phones normalized to digits-with-leading-plus so formatting
    variants collapse ('+46 8-123 456 78' == '+46812345678');
    document order per kind pinned by contact_idx.

    Zero shuffle: two scan-fused extraction passes unioned.
    """

    def _pass(kind: str, pat: str, norm):
        els = docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.expr(
                    f"regexp_extract_all({text_col}, r'{pat}', 0)"
                )
            ).alias("contact_idx", "_v"),
        )
        return els.select(
            "id",
            F.lit(kind).alias("kind"),
            "contact_idx",
            norm(F.col("_v")).alias("value"),
        )

    emails = _pass("email", PII_EMAIL_RE, F.lower)
    phones = _pass(
        "phone",
        PII_PHONE_RE,
        lambda v: F.regexp_replace(v, r"[^0-9+]", ""),
    )
    return emails.unionByName(phones)


def contact_facts_oracle_sql(docs_sql: str) -> str:
    """DuckDB twin of contact_facts; `docs_sql` yields (id, text)."""

    def _pass(kind: str, pat: str, norm: str) -> str:
        return f"""
SELECT id, '{kind}' AS kind, u.i::INT AS contact_idx, {norm} AS value
FROM (SELECT id, unnest(list_transform(range(0, len(vs)),
        i -> {{'i': i, 'v': vs[(i+1)::INT]}})) AS u
      FROM (SELECT id, regexp_extract_all(text, '{pat}', 0) AS vs
            FROM d))
"""

    emails = _pass(
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "lower(u.v)",
    )
    phones = _pass(
        "phone",
        r"\+?\d[\d\- ]{7,}\d",
        "regexp_replace(u.v, '[^0-9+]', '', 'g')",
    )
    return f"""
WITH d AS ({docs_sql})
{emails}
UNION ALL
{phones}
"""
