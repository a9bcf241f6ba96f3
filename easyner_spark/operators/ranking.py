"""BM25 relevance ranking over a document corpus.

Extends the reference's entity search (scripts/search_sentence.py —
boolean term containment) with the standard relevance-scored variant a
corpus-exploration UI needs: given a small set of query terms, score
every document with Okapi BM25 and rank.

Scale shape — the naive formulation (explode words → per-(doc, term)
tf table → join a vocabulary-wide df table) shuffles the full postings
list and hits stopword-term skew. Because the QUERY terms are known at
plan time (a handful), none of that is needed:

  1. one narrow projection computes, per document, its length and one
     tf counter per query term (array built-ins, no explode, no
     Python);
  2. ONE global 1-row aggregate (count, avgdl, per-term df) broadcast
     back via cross join — O(|terms|) numbers, never a vocab table;
  3. the score is a pure per-row projection; optional top-k is a
     TakeOrderedAndProject.

So the whole ranking costs ONE corpus scan (the narrow per-doc
counter frame is localCheckpoint-ed so the stats aggregate and the
score projection share it) + one scalar aggregate — no doc-keyed or
term-keyed shuffle at all, at any corpus size.

Determinism contract: tf/df/dl are exact integers; avgdl is one exact
long/long division; the only libm call is ln() (<=1 ulp across
engines) and every float expression is written with the same
parenthesization as the DuckDB oracle, so round(score, 6) is
bit-stable (same recipe as operators/graph.pmi_edges).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from easyner_spark.operators.textstats import words_array

BM25_K1 = 1.2
BM25_B = 0.75
_TERM_RE = re.compile(r"[a-z0-9_]+\Z")


def _check_terms(terms: tuple[str, ...]) -> None:
    """Terms must be single lowercase word tokens: anything else can
    never match the \\w+ lowercased tokenizer output (so a quoted or
    uppercase term would silently score 0 — and raw interpolation into
    the oracle's SQL literals would be unsafe)."""
    if not terms:
        raise ValueError("bm25 needs at least one query term")
    bad = [t for t in terms if not _TERM_RE.match(t)]
    if bad:
        raise ValueError(f"bm25 terms must be lowercase word tokens: {bad}")


def _term_count(words: Column, term: str) -> Column:
    # close over the plain string (a second lambda param would be
    # bound by Spark to the ARRAY INDEX — the documented bug class)
    return F.size(F.filter(words, lambda w: w == F.lit(term)))


def bm25_rank(
    docs: DataFrame,
    terms: tuple[str, ...],
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int | None = None,
) -> DataFrame:
    """(id, dl, score): Okapi BM25 of `terms` against every document,
    idf = ln(1 + (N - df + 0.5) / (df + 0.5)) (the non-negative "+1"
    variant), score rounded to 6 decimals. `top_k` additionally sorts
    (score desc, id) and truncates — a TakeOrderedAndProject, never a
    global sort. Lowercase word tokenization matches the dedup /
    textstats modules (`\\w+` on lower(text)); pass lowercase terms.
    """
    _check_terms(terms)
    toks = docs.select(F.col(id_col).alias("id"), words_array(text_col).alias("_w"))
    per = toks.select(
        "id",
        F.size("_w").alias("dl"),
        *[_term_count(F.col("_w"), t).alias(f"_tf{i}") for i, t in enumerate(terms)],
    )
    # the stats aggregate AND the scored output both consume `per`;
    # without a materialization the scan + tokenization would run
    # twice. localCheckpoint keeps it one corpus pass — the
    # checkpointed frame is narrow (id + a few ints), the same
    # bounded-materialization class as components' per-round state.
    per = per.localCheckpoint(eager=True)
    stats = per.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    joined = per.crossJoin(F.broadcast(stats))
    # literals precomputed in Python and injected IDENTICALLY into the
    # oracle SQL (k1 + 1 evaluated engine-side need not bit-match the
    # 2.2 literal)
    k1p1 = k1 + 1.0
    onemb = 1.0 - b
    score = None
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}")
        df = F.col(f"_df{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("_n") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        part = idf * (
            (tf * F.lit(k1p1))
            / (tf + F.lit(k1) * (F.lit(onemb) + F.lit(b) * (F.col("dl") / F.col("_avgdl"))))
        )
        score = part if score is None else score + part
    out = joined.select("id", "dl", F.round(score, 6).alias("score"))
    if top_k is not None:
        out = out.orderBy(F.col("score").desc(), "id").limit(top_k)
    return out


def bm25_oracle_sql(
    terms: tuple[str, ...],
    k1: float = BM25_K1,
    b: float = BM25_B,
    source: str = "documents",
) -> str:
    """The DuckDB twin of :func:`bm25_rank` (kept next to the operator
    so the float expression shapes stay in lockstep). Terms pass the
    same lowercase-word-token gate, so the SQL literal interpolation
    below cannot be escaped out of."""
    _check_terms(terms)
    tf_cols = ",\n  ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf{i}" for i, t in enumerate(terms)
    )
    df_cols = ",\n  ".join(
        f"sum((tf{i} > 0)::INT)::BIGINT AS df{i}" for i in range(len(terms))
    )
    k1p1 = k1 + 1.0
    onemb = 1.0 - b
    parts = " + ".join(
        f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) * "
        f"((tf{i} * {k1p1!r}) / (tf{i} + {k1!r} * ({onemb!r} + {b!r} * (dl / avgdl))))"
        for i in range(len(terms))
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '\\w+') AS w FROM {source}
),
per AS (
  SELECT id, len(w) AS dl,
  {tf_cols}
  FROM toks
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl,
  {df_cols}
  FROM per
)
SELECT id, dl, round({parts}, 6) AS score
FROM per, stats
"""


def inverted_postings(
    docs: DataFrame,
    min_df: int = 1,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(term, id, tf, df, idf) — the inverted index as a relation:
    one row per (term, document) posting with term frequency, document
    frequency, and idf = round(ln((N + 1.0) / (df + 1.0)), 6) (the
    +1-smoothed variant; per-row float from exact integers, the module
    determinism contract). `min_df`/`max_df` trim hapaxes and
    stopword-grade terms (the df cut is the standard index-size lever:
    a Zipf corpus puts ~half of all distinct terms at df=1).

    Scale shape: ONE shuffle builds the postings — groupBy
    (term, id) with map-side partial aggregation — and the bounded
    per-term df table (O(vocab) rows) comes from a second partial agg
    over the postings and joins back AQE-decided (broadcast at any
    realistic vocab size). N is a broadcast 1-row aggregate. Write the
    result through sinks/bucketed.py bucketed by term and query-time
    term lookups prune to one bucket.

    This is the materialized-index counterpart of bm25_rank (which
    never builds a vocab table because its query terms are known at
    plan time); build this when the term set is NOT known up front —
    an interactive search UI over the corpus.
    """
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1: {min_df}")
    toks = docs.select(F.col(id_col).alias("id"), words_array(text_col).alias("_w"))
    tok = toks.select("id", F.explode("_w").alias("term"))
    post = tok.groupBy("term", "id").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dfreq = dfreq.where(F.col("df") >= F.lit(min_df))
    if max_df is not None:
        dfreq = dfreq.where(F.col("df") <= F.lit(max_df))
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    out = post.join(dfreq, "term").crossJoin(F.broadcast(n_docs))
    idf = F.log((F.col("_n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
    return out.select("term", "id", "tf", "df", F.round(idf, 6).alias("idf"))


def _postings_ctes(min_df: int, max_df: int | None, source: str) -> str:
    """Shared WITH-chain prefix (toks/tok/post0/dfreq/n) for every
    postings-derived oracle — ONE copy of the tokenizer and the df
    cuts, so inverted_postings_oracle_sql and tfidf_sim_topk_oracle_sql
    cannot drift apart."""
    mdf = int(min_df)
    cap = f"AND df <= {int(max_df)}" if max_df is not None else ""
    return f"""
WITH toks AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '\\w+') AS w FROM {source}
),
tok AS (SELECT id, unnest(w) AS term FROM toks),
post0 AS (SELECT term, id, count(*)::BIGINT AS tf FROM tok GROUP BY term, id),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM post0 GROUP BY term
  HAVING count(*) >= {mdf} {cap}
),
n AS (SELECT count(*)::BIGINT AS n_docs FROM {source})"""


# the +1-smoothed idf expression, shared verbatim by both consumers
_IDF_EXPR = "round(ln((n.n_docs + 1.0) / (d.df + 1.0)), 6)"


def inverted_postings_oracle_sql(
    min_df: int = 1,
    max_df: int | None = None,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`inverted_postings`."""
    return f"""{_postings_ctes(min_df, max_df, source)}
SELECT p.term, p.id, p.tf, d.df, {_IDF_EXPR} AS idf
FROM post0 p JOIN dfreq d USING (term), n
"""


def tfidf_sim_topk(
    docs: DataFrame,
    k: int = 10,
    min_df: int = 2,
    max_df: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, neighbor_id, rank, cos) — top-k most-similar documents per
    document under tf-idf cosine, computed SPARSELY through the
    inverted index (postings self-join on term): no embeddings
    needed, exact over the pruned vector space, and candidate
    generation touches only doc pairs that SHARE a surviving term —
    never all pairs.

    Vector space: the :func:`inverted_postings` relation (min_df /
    max_df pruned); weight w(t, d) = tf * idf with idf the postings'
    +1-smoothed round(ln, 6). Norms are over the SURVIVING terms only
    (self-consistent pruned-vector cosine — a df-capped stopword
    contributes to neither dot products nor norms).

    Determinism contract — integer micro-units: idf2u(t) =
    round(idf*idf*1e6) as BIGINT; then dot(a, b) = sum tf_a*tf_b*idf2u
    and normsq(d) = sum tf*tf*idf2u are EXACT integer sums (order-free
    across engines, unlike double sums), and the only float math is
    the final round(dot / sqrt(normsq_a) / sqrt(normsq_b), 6) — the
    1e6 factors cancel. Ties after rounding break on neighbor id asc.

    Scale shape: the term self-join is the classic quadratic hot-key
    risk — a df-D term emits D*(D-1)/2 pairs — so `max_df` is the
    bound (the gram_capped lesson from tools/skew_bench.py `gram`:
    opt-in at small scale, MANDATORY at crawl scale; max_df=D caps any
    term's bucket at D^2 rows). Everything else is partial-agg
    absorbed: postings one shuffle, norms one bounded agg, pair dot
    one (id_a, id_b) agg, top-k a per-doc window whose input is
    already collapsed to one row per candidate pair. BIGINT headroom:
    tf*tf*idf2u needs tf*idf under ~3e4 per posting — any real page
    qualifies; log-scale tf upstream if a degenerate one doesn't.

    Reference parity: EasyNER has no document-similarity stage at all
    (its analysis ends at entity frequency, scripts/analysis.py);
    this is north_star curation surface (near-topic clustering,
    contamination sweeps) built on the same index bm25_rank queries.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    post = (
        inverted_postings(
            docs, min_df=min_df, max_df=max_df, text_col=text_col, id_col=id_col
        )
        .select(
            "term",
            "id",
            "tf",
            F.round(F.col("idf") * F.col("idf") * F.lit(1000000.0), 0)
            .cast("long")
            .alias("idf2u"),
        )
        # idf2u == 0 (df ≈ N, idf rounds to 0) contributes nothing to any
        # dot product or norm but inflates the worst quadratic term
        # buckets — and a doc whose ONLY surviving terms are zero-idf
        # would get nsq = 0 and a division by zero under Spark's ANSI
        # default. Dropping the postings removes both (the doc then has
        # no vector and is absent, on both engines).
        .where(F.col("idf2u") > 0)
    )
    normsq = post.groupBy("id").agg(
        F.sum(F.col("tf") * F.col("tf") * F.col("idf2u")).alias("nsq")
    )
    a = post.select(
        "term", F.col("id").alias("id_a"), F.col("tf").alias("tf_a"), "idf2u"
    )
    b = post.select("term", F.col("id").alias("id_b"), F.col("tf").alias("tf_b"))
    dot = (
        a.join(b, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b") * F.col("idf2u")).alias("dot"))
    )
    sym = dot.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("neighbor_id"), "dot"
    ).unionByName(
        dot.select(
            F.col("id_b").alias("id"), F.col("id_a").alias("neighbor_id"), "dot"
        )
    )
    scored = (
        sym.join(normsq.select(F.col("id"), F.col("nsq").alias("nsq_a")), "id")
        .join(
            normsq.select(
                F.col("id").alias("neighbor_id"), F.col("nsq").alias("nsq_b")
            ),
            "neighbor_id",
        )
        .select(
            "id",
            "neighbor_id",
            F.round(
                F.col("dot") / F.sqrt(F.col("nsq_a")) / F.sqrt(F.col("nsq_b")), 6
            ).alias("cos"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos")
    )


def tfidf_sim_topk_oracle_sql(
    k: int = 10,
    min_df: int = 2,
    max_df: int | None = None,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`tfidf_sim_topk` (identical integer
    micro-unit pipeline; the one float expression shares the Spark
    parenthesization)."""
    return f"""{_postings_ctes(min_df, max_df, source)},
post AS (
  SELECT * FROM (
    SELECT p.term, p.id, p.tf,
           CAST(round({_IDF_EXPR} * {_IDF_EXPR} * 1000000.0, 0) AS BIGINT) AS idf2u
    FROM post0 p JOIN dfreq d USING (term), n
  ) WHERE idf2u > 0
),
normsq AS (SELECT id, sum(tf * tf * idf2u)::BIGINT AS nsq FROM post GROUP BY id),
dot AS (
  SELECT a.id AS id_a, b.id AS id_b,
         sum(a.tf * b.tf * a.idf2u)::BIGINT AS dot
  FROM post a JOIN post b USING (term)
  WHERE a.id < b.id
  GROUP BY a.id, b.id
),
sym AS (
  SELECT id_a AS id, id_b AS neighbor_id, dot FROM dot
  UNION ALL
  SELECT id_b, id_a, dot FROM dot
),
scored AS (
  SELECT s.id, s.neighbor_id,
         round(s.dot / sqrt(na.nsq) / sqrt(nb.nsq), 6) AS cos
  FROM sym s
  JOIN normsq na ON s.id = na.id
  JOIN normsq nb ON s.neighbor_id = nb.id
),
ranked AS (
  SELECT id, neighbor_id, cos,
         row_number() OVER (PARTITION BY id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT id, neighbor_id, rank::BIGINT AS rank, cos FROM ranked WHERE rank <= {int(k)}
"""


def textrank_sentences(
    sentences: DataFrame,
    iters: int = 5,
    d_num: int = 17,
    d_den: int = 20,
    unit_exp: int = 9,
) -> DataFrame:
    """(url, sent_idx, score, rank) — TextRank sentence salience per
    document (Mihalcea & Tarau 2004: PageRank over the within-document
    sentence graph), the extractive-summary / curation signal EasyNER
    has no analog for (its analysis never ranks sentences; search is
    boolean containment, scripts/search_sentence.py).

    Graph contract: nodes = every (url, sent_idx); undirected edge
    weight w(i, j) = |distinct shared lowercase `\\w+` tokens| (an
    exact integer), built through the (url, token) postings self-join
    so only sentence pairs that SHARE a token are ever materialized —
    never the per-doc quadratic pair set.

    Determinism contract — ALL-INTEGER iteration (stronger than the
    pagerank round-snap recipe): states live in micro-units
    U = 10^unit_exp (BIGINT), damping is the exact rational
    d_num/d_den (17/20 = 0.85), and every step is integer arithmetic:

      s_0 = U
      inc_i   = sum_j (s_j * w_ij) DIV wsum_j        -- exact BIGINT
      s_{t+1} = BASE_U + (d_num * inc_i) DIV d_den   -- exact BIGINT

    with BASE_U = ((d_den - d_num) * U) DIV d_den and wsum_j the
    integer weight sum at j. The round-snap recipe is NOT enough here:
    O(1)-scale grid states times exact rational shares (1/2, 1/4...)
    land REAL-exactly on half-grid rounding boundaries, where the two
    engines' double rounding disagrees (measured 2-5 mismatches per
    1315 rows before this formulation). Integer floor division has no
    boundary to disagree on; the ONLY float is the final display
    division score = s/U (two exact integers, correctly rounded).
    Isolated sentences settle at BASE_U/U ≈ 1-d. rank = row_number
    within url by (s desc, sent_idx) — an integer sort bounded by the
    doc's own sentence count, never a global sort.

    Scale shape: ONE postings build, ONE (url, token) self-join (a
    within-doc stopword token fans out at most doc_sentence_count^2 —
    bounded by page length, not corpus size), one pair agg; per
    iteration one join keyed on the co-clustered (url, sent) node key
    + one node agg, lineage capped by localCheckpoint exactly as
    graph.pagerank. Edges are repartitioned ONCE on the destination
    key and reused every round. BIGINT headroom: s_j*w needs
    score*weight < 9e18/U ≈ 9e9 — unreachable for real pages.
    """
    if iters < 1:
        raise ValueError(f"textrank needs iters >= 1: {iters}")
    if not (0 < d_num < d_den):
        raise ValueError(f"damping must satisfy 0 < d_num < d_den: {d_num}/{d_den}")
    unit = 10**unit_exp
    base_u = ((d_den - d_num) * unit) // d_den
    nodes = sentences.select("url", "sent_idx").distinct()
    post = sentences.select(
        "url",
        "sent_idx",
        F.explode(F.array_distinct(words_array("sentence"))).alias("tok"),
    )
    a = post.select("url", F.col("sent_idx").alias("si"), "tok")
    b = post.select("url", F.col("sent_idx").alias("sj"), "tok")
    edges = (
        a.join(b, ["url", "tok"])
        .where(F.col("si") != F.col("sj"))
        .groupBy("url", "si", "sj")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    wsum = edges.groupBy("url", F.col("sj").alias("si")).agg(
        F.sum("w").alias("wsum")
    )
    contrib = (
        edges.join(wsum.withColumnRenamed("si", "sj"), ["url", "sj"])
        .repartition("url", "si")
        .localCheckpoint(eager=True)
    )
    nodes = nodes.localCheckpoint(eager=True)
    scores = nodes.select(
        "url", "sent_idx", F.lit(unit).cast("long").alias("s")
    )
    for _ in range(iters):
        inc = (
            contrib.join(
                scores.select(
                    "url", F.col("sent_idx").alias("sj"), F.col("s").alias("sj_s")
                ),
                ["url", "sj"],
            )
            .groupBy("url", F.col("si").alias("sent_idx"))
            .agg(
                F.sum(
                    F.expr("(sj_s * w) div wsum")
                ).alias("inc")
            )
        )
        scores = (
            nodes.join(inc, ["url", "sent_idx"], "left")
            .select(
                "url",
                "sent_idx",
                (
                    F.lit(base_u).cast("long")
                    + F.expr(
                        f"({d_num} * coalesce(inc, 0L)) div {d_den}"
                    )
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy("url").orderBy(F.col("s").desc(), "sent_idx")
    return scores.select(
        "url",
        "sent_idx",
        (F.col("s").cast("double") / F.lit(float(unit))).alias("score"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def textrank_oracle_sql(
    with_prefix: str,
    iters: int = 5,
    d_num: int = 17,
    d_den: int = 20,
    unit_exp: int = 9,
) -> str:
    """DuckDB twin of :func:`textrank_sentences`; `with_prefix` is a
    complete WITH chain whose LAST relation is
    sents(url, sent_idx, sentence). Iterations unrolled; the all-BIGINT
    state (micro-units, floor division) makes the unrolled chain
    bit-exact by construction — no float appears before the final
    display division."""
    if iters < 1:
        raise ValueError(f"textrank needs iters >= 1: {iters}")
    if not (0 < d_num < d_den):
        raise ValueError(f"damping must satisfy 0 < d_num < d_den: {d_num}/{d_den}")
    unit = 10**unit_exp
    base_u = ((d_den - d_num) * unit) // d_den
    parts = [
        with_prefix,
        f""",
nodes AS (SELECT DISTINCT url, sent_idx FROM sents),
post AS (
  SELECT url, sent_idx,
         unnest(list_distinct(regexp_extract_all(lower(sentence), '\\w+'))) AS tok
  FROM sents
),
edges AS (
  SELECT a.url, a.sent_idx AS si, b.sent_idx AS sj, count(*)::BIGINT AS w
  FROM post a JOIN post b ON a.url = b.url AND a.tok = b.tok
  WHERE a.sent_idx <> b.sent_idx
  GROUP BY 1, 2, 3
),
wsum AS (SELECT url, sj AS si, sum(w)::BIGINT AS wsum FROM edges GROUP BY 1, 2),
contrib AS (
  SELECT e.url, e.si, e.sj, e.w, ws.wsum
  FROM edges e JOIN wsum ws ON e.url = ws.url AND e.sj = ws.si
),
s0 AS (SELECT url, sent_idx, {unit}::BIGINT AS s FROM nodes)""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
inc{i} AS (
  SELECT c.url, c.si AS sent_idx,
         sum((p.s * c.w) // c.wsum)::BIGINT AS inc
  FROM contrib c
  JOIN s{i - 1} p ON c.url = p.url AND c.sj = p.sent_idx
  GROUP BY 1, 2
),
s{i} AS (
  SELECT n.url, n.sent_idx,
         ({base_u}::BIGINT + ({d_num} * coalesce(i.inc, 0)) // {d_den})::BIGINT AS s
  FROM nodes n
  LEFT JOIN inc{i} i ON n.url = i.url AND n.sent_idx = i.sent_idx
)""",
        )
    parts.append(
        f"""
SELECT url, sent_idx, s::DOUBLE / {float(unit)!r} AS score,
       row_number() OVER (PARTITION BY url ORDER BY s DESC, sent_idx)::BIGINT AS rank
FROM s{iters}
""",
    )
    return "".join(parts)


def doc_keywords(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term, tf, score, rank) — the top-k TF-IDF keywords per
    document: tf = in-doc term count, idf = ln((N+1)/(df+1)) + 1 (the
    smoothed scikit-learn-style variant, public), score = tf * idf
    rounded to the repo's 6-decimal contract, rank 1..k per doc with
    term as the deterministic tiebreak. The per-document summarization
    product (doc tagging, weak labels, retrieval expansion) that
    bm25_rank's query-time scoring doesn't materialize.

    Scale: one (doc, term) rollup (partial aggs absorb stopword-heavy
    maps), one term-keyed df rollup joined back (AQE decides broadcast
    vs shuffle), N via a one-row agg cross join — never a driver
    collect. The top-k window partitions BY DOCUMENT, so partitions
    are bounded by per-doc vocabulary, not corpus size (no Exchange
    SinglePartition).
    """
    from pyspark.sql import Window

    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(words_array(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("n") + F.lit(1.0))
                        / (F.col("df").cast("double") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", "rank")
    )


def doc_keywords_oracle_sql(
    k: int = 5, source: str = "documents"
) -> str:
    """DuckDB twin of :func:`doc_keywords` over (doc_id, text)."""
    return f"""
WITH w AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS term
  FROM {source}
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM w
       GROUP BY doc_id, term),
nd AS (SELECT count(*)::DOUBLE AS n FROM {source}),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf::DOUBLE
               * (ln((nd.n + 1.0) / (dfq.df::DOUBLE + 1.0)) + 1.0),
               6) AS score
  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN nd
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rank
  FROM sc
)
SELECT doc_id, term, tf, score, rank::BIGINT AS rank
FROM rk WHERE rank <= {k}
"""
