"""Per-document text analysis for the curate job: the Gopher quality
gate, PII redaction, and the word-repetition, readability, contact,
mojibake and topic operators beside them.

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


def _gram_chain(toks: Column, k: int) -> Column:
    """Word k-grams in document order via a zip_with fold: gram i =
    toks[i] + " " + ... + toks[i+k-1], built by k-1 zip_withs against
    the progressively-offset tail (zip_with pads the short side with
    NULL, concat-with-NULL is NULL, the final filter drops the <k
    ragged tail). ~6x the index-lambda formulation (sequence +
    per-index slice: HOF lambdas don't codegen, so interpreted
    random access per index IS the cost — measured 3.9 s vs 0.7 s
    per sf0.1 corpus scan on a word-3-gram shingle path; same lesson
    as scoring._bigram_array)."""
    n = F.size(toks)
    acc = toks
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.filter(acc, lambda x: x.isNotNull())


# Layered-projection note (performance contract): higher-order-function
# expressions (transform/filter/aggregate lambdas) are NOT deduplicated
# by codegen subexpression elimination, so inlining the `words` array
# into every consumer re-runs the tokenizer regex once per reference.
# Every public operator below therefore stacks Projects — words, then
# integer counts, then derived ratios/argmax — and Catalyst keeps the
# boundaries (CollapseProject refuses to duplicate non-cheap
# multiply-referenced expressions); measured 150x on a word-shingle
# signature path.


def _with_words(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(F.col(id_col), F.col(text_col), _words(text_col).alias("_w"))


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
      line-wise member of Gopher's repetition family; the n-gram
      member is word_repetition).

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


def word_repetition(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    max_top_ngram_frac: float = 0.20,
) -> DataFrame:
    """The aggregation member of Gopher's repetition family (§A1.1
    "fraction of characters in most common n-gram"; the per-line
    members live in gopher_filters, the cross-document ones are
    dedup.exact_dedup and dedup.paragraph_dedup): per document, the character fraction covered by the
    most frequent word n-gram.

    Contract (oracle-mirrored): words = lowercased `\\w+`; n-grams are
    space-joined consecutive windows; the top gram is the (count DESC,
    gram ASC) argmin — `min(struct(-cnt, gram))`, the same
    first-per-key trick as dedup.paragraph_dedup; `top_ngram_frac =
    cnt * (length(gram) - (n-1)) / sum(word lengths)` (the subtraction
    removes the joining spaces, so the numerator is exactly the
    characters the gram's occurrences cover). Documents with fewer
    than n words emit ('', 0, 0.0) and pass the gate.

    Scale: gram expansion is per-row (bounded by words-per-doc); the
    rollup is two algebraic aggregates — (doc, gram) partial counts
    absorb within-doc repetition map-side, then the per-doc argmin.
    The doc-level denominator join is doc_id-keyed and both sides are
    pre-aggregated (one row per doc) — no window, no skew hazard
    (doc_id is unique).
    """
    base = _with_words(docs, text_col, id_col)
    # zip_with gram fold (see _gram_chain: ~6x the index-lambda form,
    # identical values/order); the n>=size guard below keeps the
    # short-doc ('', 0, 0.0) contract unchanged
    grams = _gram_chain(F.col("_w"), n)
    denom = base.select(
        F.col(id_col),
        _sum_wlen_col(F.col("_w")).alias("_sum_wlen"),
    )
    exploded = base.select(
        F.col(id_col),
        F.explode(
            F.when(F.size(F.col("_w")) >= n, grams).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("gram"),
    )
    top = (
        exploded.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("gram"))).alias("_s")
        )
        .select(
            F.col(id_col),
            F.col("_s.gram").alias("top_gram"),
            (-F.col("_s.nc")).cast("long").alias("top_cnt"),
        )
    )
    joined = denom.join(top, id_col, "left")
    frac_raw = (
        F.col("top_cnt") * (F.length(F.col("top_gram")) - F.lit(n - 1))
    ) / F.col("_sum_wlen")
    frac = F.when(
        F.col("top_cnt").isNotNull() & (F.col("_sum_wlen") > 0), frac_raw
    ).otherwise(F.lit(0.0))
    return joined.select(
        F.col(id_col),
        F.coalesce(F.col("top_gram"), F.lit("")).alias("top_gram"),
        F.coalesce(F.col("top_cnt"), F.lit(0)).cast("long").alias("top_cnt"),
        F.round(frac, 6).alias("top_ngram_frac"),
        (frac <= max_top_ngram_frac).alias("repetition_ok"),
    )


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


# Default topic lexicons for topic_id. These are demonstration
# lexicons (they partition the synthetic corpus vocab);
# production callers pass their own curated keyword sets — the
# operator and oracle generator are lexicon-agnostic.
TOPIC_MARKERS: dict[str, tuple[str, ...]] = {
    "storage": ("table", "row", "column", "part", "line"),
    "compute": ("scan", "hash", "sort", "merge", "agg", "join", "filter", "group"),
    "runtime": ("spark", "stream", "batch", "window", "query"),
}


def topic_id(
    docs: DataFrame,
    topics: dict[str, tuple[str, ...]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, hits_<topic>..., topic_pred) — lexicon-argmax topic
    bucketing: highest
    marker-hit count wins, ties break by topic name ascending,
    all-zero -> 'other'. ZERO shuffle (one marker-count projection +
    a codegen argmax chain). Composes with sampling.mixture_sample to
    rebalance a corpus by topic (bucket -> mixture_rates -> exact
    hash gate) — the WebOrganizer-style curation loop with lexicons
    standing in for a trained classifier."""
    topics = TOPIC_MARKERS if topics is None else topics
    if not topics:
        raise ValueError("topic_id needs at least one topic lexicon")
    names = sorted(topics)
    base = _with_words(docs, text_col, id_col)
    hit_cols = {f"hits_{t}": _marker_hits(F.col("_w"), tuple(topics[t])) for t in names}
    per = base.select(F.col(id_col), *[c.alias(n) for n, c in hit_cols.items()])
    hits = {t: F.col(f"hits_{t}") for t in names}
    best = hits[names[0]] if len(names) == 1 else F.greatest(*hits.values())
    pred = F.lit("other")
    for t in sorted(names, reverse=True):
        pred = F.when((hits[t] > 0) & (hits[t] == best), F.lit(t)).otherwise(pred)
    return per.select(id_col, *[f"hits_{t}" for t in names], pred.alias("topic_pred"))


def topic_oracle_sql(
    topics: dict[str, tuple[str, ...]] | None = None,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`topic_id` (generated from the same
    lexicon dict so marker sets cannot drift). Lexicon entries must be
    lowercase word tokens — interpolated as SQL string literals."""
    import re as _re

    topics = TOPIC_MARKERS if topics is None else topics
    names = sorted(topics)
    for t in names:
        bad = [m for m in topics[t] if not _re.match(r"[a-z0-9_]+\Z", m)]
        if bad or not _re.match(r"[a-z0-9_]+\Z", t):
            raise ValueError(f"topic markers must be lowercase word tokens: {t}={bad}")
    hit_exprs = ",\n  ".join(
        "len(list_filter(w, x -> x IN ({}))) AS hits_{}".format(
            ", ".join(f"'{m}'" for m in topics[t]), t
        )
        for t in names
    )
    best = "greatest({})".format(", ".join(f"hits_{t}" for t in names))
    case = "CASE "
    for t in names:
        case += f"WHEN hits_{t} > 0 AND hits_{t} = best THEN '{t}' "
    case += "ELSE 'other' END"
    cols = ", ".join(f"hits_{t}" for t in names)
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS w FROM {source}
),
per AS (
  SELECT doc_id,
  {hit_exprs}
  FROM toks
),
b AS (
  SELECT *, {best} AS best FROM per
)
SELECT doc_id, {cols}, {case} AS topic_pred FROM b
"""


# readability contract, shared verbatim with the oracle: sentences =
# maximal runs split on [.!?]+ that contain at least one word;
# syllables = vowel-group count per word ([aeiouy]+ runs), the
# standard dictionary-free heuristic, floored at 1 per word.
SENT_SPLIT_RE = r"[.!?]+"
VOWEL_GROUP_RE = r"[aeiouy]+"


def readability_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-integer readability counts per doc: (id, n_sents,
    n_words, n_syllables, words_per_sent_micro, syll_per_word_micro)
    — the inputs to any Flesch/FK-family score, kept as BIGINT counts
    and micro-unit (1e6) ratios so values hash-match across engines
    (the float grade formula is one multiply away for consumers, and
    a curation gate compares thresholds in micro-units directly).
    Sentences are [.!?]+ runs containing >= 1 word; syllables are
    vowel-group counts floored at 1 per word (the dictionary-free
    heuristic). Empty docs emit zero counts and zero ratios.

    Zero shuffle: tokenization, the sentence filter, and the syllable
    fold are all scan-fused array expressions.
    """
    words = words_array(text_col)
    sents = F.filter(
        F.split(F.lower(F.col(text_col)), SENT_SPLIT_RE),
        lambda s: s.rlike(WORD_RE),
    )
    syll = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.size(
                F.filter(
                    F.split(w, r"[^aeiouy]+"),
                    lambda p: p != F.lit(""),
                )
            ),
            F.lit(1),
        ).cast("long"),
    )
    n_words = F.size(words).cast("long")
    n_sents = F.size(sents).cast("long")
    return docs.select(
        F.col(id_col),
        n_sents.alias("n_sents"),
        n_words.alias("n_words"),
        F.when(n_words > 0, syll).otherwise(F.lit(0)).cast("long").alias(
            "n_syllables"
        ),
    ).select(
        id_col,
        "n_sents",
        "n_words",
        "n_syllables",
        F.expr("CASE WHEN n_sents > 0 THEN n_words * 1000000 div n_sents"
               " ELSE 0 END").alias("words_per_sent_micro"),
        F.expr("CASE WHEN n_words > 0 THEN n_syllables * 1000000 div n_words"
               " ELSE 0 END").alias("syll_per_word_micro"),
    )


def readability_counts_oracle_sql(docs_sql: str) -> str:
    """DuckDB twin of readability_counts; `docs_sql` yields
    (id, text). Same tokenizer, sentence split, vowel-group syllable
    heuristic, and micro-unit floor divisions."""
    return f"""
WITH d AS ({docs_sql}),
w AS (SELECT id, regexp_extract_all(lower(text), '\\w+') AS ws,
        len(list_filter(string_split_regex(lower(text), '[.!?]+'),
            s -> regexp_matches(s, '\\w+')))::BIGINT AS n_sents
      FROM d),
c AS (
  SELECT id, n_sents, len(ws)::BIGINT AS n_words,
    CASE WHEN len(ws) > 0 THEN
      list_sum(list_transform(ws, x -> greatest(
        len(list_filter(string_split_regex(x, '[^aeiouy]+'),
            p -> p != '')), 1)))::BIGINT
    ELSE 0 END AS n_syllables
  FROM w
)
SELECT id, n_sents, n_words, n_syllables,
  CASE WHEN n_sents > 0 THEN n_words * 1000000 // n_sents ELSE 0 END
    AS words_per_sent_micro,
  CASE WHEN n_words > 0 THEN n_syllables * 1000000 // n_words ELSE 0 END
    AS syll_per_word_micro
FROM c
"""


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


# mojibake contract: the three classic UTF-8-bytes-redecoded-as-
# Latin-1/windows-1252 artifact families, matched as the LITERAL
# characters they become in the corrupted text (e.g. 'é' -> 'Ã©',
# smart quotes -> 'â€¦'-family, NBSP -> 'Â'), plus U+FFFD replacement
# chars from lossy decodes. Shared verbatim with the DuckDB oracle.
MOJIBAKE_ATILDE_RE = "Ã[¡-¿]"   # double-encoded Latin-1 letters
MOJIBAKE_SMART_RE = "â€"        # double-encoded windows-1252 punctuation
MOJIBAKE_ACIRC_RE = "Â"         # double-encoded NBSP / soft hyphen lead
MOJIBAKE_REPL_RE = "�"     # replacement character


def mojibake_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hits_per_kchar: int = 1,
) -> DataFrame:
    """(id, n_chars, n_atilde, n_smart, n_acirc, n_repl, mojibake_hits,
    is_mojibake) — double-encoding corruption detection, the crawl-
    cleaning signal the quality/lang gates miss: a page whose bytes
    were decoded with the wrong charset reads as fluent-ish text full
    of 'Ã©'/'â€™'/'Â ' artifacts (UTF-8 bytes re-decoded as Latin-1 /
    windows-1252) — it passes length and stopword checks while being
    garbage for training. Counts are exact integers per artifact
    family; is_mojibake flags docs with >= `hits_per_kchar` artifacts
    per 1000 chars (integer cross-multiply, no float).

    Zero shuffle: four regexp_extract_all counts fused into the scan.
    Fix-up belongs upstream (ftfy-style repair is byte-level work for
    the loader); this operator is the detector that routes pages there.

    Reference parity: EasyNER assumes clean UTF-8 PubMed XML
    (scripts/downloader.py) and has no charset hygiene; north_star
    web-crawl surface.
    """
    if hits_per_kchar < 1:
        raise ValueError(f"hits_per_kchar must be >= 1: {hits_per_kchar}")

    def cnt(pat: str):
        return F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)).cast(
            "long"
        )

    base = docs.select(
        F.col(id_col).alias("id"),
        F.length(text_col).cast("long").alias("n_chars"),
        cnt(MOJIBAKE_ATILDE_RE).alias("n_atilde"),
        cnt(MOJIBAKE_SMART_RE).alias("n_smart"),
        cnt(MOJIBAKE_ACIRC_RE).alias("n_acirc"),
        cnt(MOJIBAKE_REPL_RE).alias("n_repl"),
    )
    hits = (
        F.col("n_atilde") + F.col("n_smart") + F.col("n_acirc") + F.col("n_repl")
    )
    return base.select(
        "*",
        hits.alias("mojibake_hits"),
        (
            (hits * F.lit(1000) >= F.col("n_chars") * F.lit(int(hits_per_kchar)))
            & (hits > 0)
        ).alias("is_mojibake"),
    )


def mojibake_stats_oracle_sql(
    source_sql: str, hits_per_kchar: int = 1
) -> str:
    """DuckDB twin of :func:`mojibake_stats`; `source_sql` yields
    (id, text)."""
    if hits_per_kchar < 1:
        raise ValueError(f"hits_per_kchar must be >= 1: {hits_per_kchar}")
    pats = {
        "n_atilde": MOJIBAKE_ATILDE_RE,
        "n_smart": MOJIBAKE_SMART_RE,
        "n_acirc": MOJIBAKE_ACIRC_RE,
        "n_repl": MOJIBAKE_REPL_RE,
    }
    cols = ",\n         ".join(
        f"len(regexp_extract_all(text, '{p}'))::BIGINT AS {n}"
        for n, p in pats.items()
    )
    return f"""
WITH src AS ({source_sql}),
c AS (
  SELECT id, length(text)::BIGINT AS n_chars,
         {cols}
  FROM src
)
SELECT id, n_chars, n_atilde, n_smart, n_acirc, n_repl,
       (n_atilde + n_smart + n_acirc + n_repl)::BIGINT AS mojibake_hits,
       ((n_atilde + n_smart + n_acirc + n_repl) * 1000
          >= n_chars * {int(hits_per_kchar)}
        AND (n_atilde + n_smart + n_acirc + n_repl) > 0) AS is_mojibake
FROM c
"""
