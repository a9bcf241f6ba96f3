"""Model-based document quality scoring for training-data curation.

Two scorers the reference has no analog for (its quality gate is the
boolean entity search, scripts/search_sentence.py); both are staples
of LLM-corpus pipelines (CCNet / Gopher / FineWeb style):

* :func:`unigram_lm_score` — train a unigram language model ON the
  corpus itself (one bounded vocabulary aggregate), then score every
  document by per-token cross-entropy against it. High cross-entropy
  = gibberish / boilerplate / wrong-language; low = fluent in-domain
  text. The CCNet filter shape, with the corpus standing in for the
  Wikipedia LM.
* :func:`hashed_linear_score` — a hashing-trick linear classifier
  (fastText shape): every token hashes to one of `n_buckets` weight
  cells, the document score is the sigmoid of the mean cell weight.
  Weights here are a deterministic keyed hash (a stand-in for trained
  weights — production swaps in a broadcast weight table with the
  same bucket contract); the Spark plan is the real deliverable:
  ZERO shuffles, the whole scorer is one scan-fused projection.

Scale shape
-----------
`unigram_lm_score` costs two corpus scans and two shuffles at any
corpus size: (1) token-count aggregate (map-side partial combine, the
word key space is Zipf-bounded and the min_count cutoff caps the
surviving vocab — O(vocab) rows, NOT O(corpus)); (2) per-doc score
aggregate on doc_id (partial combine again). The token→vocab lookup
join is AQE-decided; at web scale the cut vocab fits a broadcast.
Callers that score many corpora against one LM pass a persisted
`vocab=` frame and skip the training scan entirely.

`hashed_linear_score` never shuffles: tokenize → per-token bucket →
integer fold → sigmoid, all inside one whole-stage-codegen projection.

Determinism contract (the reason every aggregate here is exact):
per-token log-probabilities / weights are quantized to BIGINT
micro-units (floor(x * 1e6)) BEFORE any cross-row sum, so sums are
order-independent exact integer arithmetic; floats appear only in
per-row final expressions (ln / exp / division — <=1-ulp libm calls
on identical IEEE operands), rounded to 6 decimals. The md5-based token bucket
is the sampling module's cross-engine primitive (sampling.sample_hash
rationale: md5 is bit-identical everywhere; xxhash64 is
Spark-private).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from easyner_spark.operators.textstats import words_array

Q = 1_000_000  # micro-unit quantization for cross-row integer sums
HASH_NIBBLES = 8  # 32 bits of md5 feed the weight bucket
DEFAULT_BUCKETS = 1 << 20
# Knuth multiplicative constant; with bucket < 2^20 the product stays
# < 2^52, far from BIGINT overflow (DuckDB errors on overflow where
# Spark wraps — staying exact keeps the engines in lockstep).
_MIX = 2_654_435_761
_WRANGE = 1_000_003  # prime; weights land in [-501001, +501001] µ-units
_WSHIFT = _WRANGE // 2
DEFAULT_GAIN = 8.0


def unigram_lm_score(
    docs: DataFrame,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
    broadcast_vocab: bool = False,
) -> DataFrame:
    """(id, n_tokens, score_q, cross_entropy, ppl) — per-document
    cross-entropy under an add-one-smoothed unigram LM estimated from
    this corpus (or from `vocab`, a persisted (word, lp_q, lp_oov)
    frame produced by :func:`unigram_vocab` — score new crawls against
    a frozen LM without rescanning the training corpus).

    p(w) = cnt_w / (N + 1) for words with cnt >= min_count, else
    p_oov = 1 / (N + 1); lp_q = floor(ln(p) * 1e6) per WORD (bounded
    vocab), summed per document as exact BIGINTs; cross_entropy =
    -score_q / 1e6 / n_tokens, ppl = exp(cross_entropy), both rounded
    to 6. Documents with zero tokens have no rows in the token stream
    and are absent from the output (same as the SQL GROUP BY).

    When self-training (vocab=None) the OOV mass comes from the token
    STATS, not the cutoff table, so a corpus where every word falls
    below min_count (empty kept vocab) still scores — all tokens at
    lp_oov, matching the oracle. A caller-supplied frozen `vocab` must
    be non-empty (its lp_oov column is the only carrier of N).
    """
    toks = docs.select(F.col(id_col).alias("id"), words_array(text_col).alias("_w"))
    tok = toks.select("id", F.explode("_w").alias("word"))
    if vocab is None:
        counts = _unigram_counts(docs, text_col)
        stats = counts.agg(F.sum("cnt").alias("n"))
        vocab = _vocab_from_counts(counts, stats, min_count)
        oov = stats.select(_lp_oov_col().alias("lp_oov_c"))
    else:
        # lp_oov is constant over the (non-empty) frozen-vocab frame;
        # min() lifts it through the left-join nulls.
        oov = vocab.agg(F.min("lp_oov").alias("lp_oov_c"))
    v = F.broadcast(vocab) if broadcast_vocab else vocab
    scored = tok.join(v, "word", "left")
    scored = scored.crossJoin(F.broadcast(oov))
    per = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce(F.col("lp_q"), F.col("lp_oov_c"))).alias("score_q"),
    )
    ce = (-F.col("score_q") / F.lit(float(Q))) / F.col("n_tokens")
    return per.select(
        "id",
        "n_tokens",
        "score_q",
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("ppl"),
    )


def unigram_vocab(
    docs: DataFrame,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """(word, lp_q, lp_oov) — the smoothed unigram LM table. Bounded:
    O(surviving vocab) rows regardless of corpus size. N counts ALL
    tokens (including below-cutoff words), so the cutoff reassigns cut
    words' mass to the OOV bucket rather than inflating kept words'
    probabilities. The tiny two-column count frame is localCheckpointed
    so the N aggregate and the cutoff projection share one token scan
    (a bounded materialization: O(vocab) rows).
    """
    counts = _unigram_counts(docs, text_col)
    stats = counts.agg(F.sum("cnt").alias("n"))
    return _vocab_from_counts(counts, stats, min_count)


def _unigram_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) over ALL tokens, localCheckpointed (bounded by the
    Zipf word-key space; consumed by both the stats aggregate and the
    cutoff projection — one token scan)."""
    tok = docs.select(words_array(text_col).alias("_w")).select(
        F.explode("_w").alias("word")
    )
    counts = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.localCheckpoint(eager=True)


def _lp_oov_col():
    return F.floor(
        F.log(F.lit(1.0) / (F.col("n") + F.lit(1.0))) * F.lit(float(Q))
    ).cast("long")


def _vocab_from_counts(counts: DataFrame, stats: DataFrame, min_count: int) -> DataFrame:
    kept = counts.where(F.col("cnt") >= F.lit(min_count)).crossJoin(F.broadcast(stats))
    lp = F.floor(F.log(F.col("cnt") / (F.col("n") + F.lit(1.0))) * F.lit(float(Q)))
    return kept.select(
        "word",
        lp.cast("long").alias("lp_q"),
        _lp_oov_col().alias("lp_oov"),
    )


def _unigram_lm_ctes(min_count: int, source: str) -> str:
    """Shared WITH-chain prefix (toks/tok/counts/stats/vocab/oov/per)
    ending on per(id, n_tokens, score_q) — ONE copy of the LM
    quantization so unigram_lm_oracle_sql and ppl_buckets_oracle_sql
    cannot drift apart (review r3 finding)."""
    mc = int(min_count)
    return f"""
WITH toks AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '\\w+') AS w FROM {source}
),
tok AS (
  SELECT id, unnest(w) AS word FROM toks
),
counts AS (
  SELECT word, count(*)::BIGINT AS cnt FROM tok GROUP BY word
),
stats AS (
  SELECT sum(cnt)::BIGINT AS n FROM counts
),
vocab AS (
  SELECT word,
         CAST(floor(ln(cnt / (n + 1.0)) * 1000000.0) AS BIGINT) AS lp_q
  FROM counts, stats WHERE cnt >= {mc}
),
oov AS (
  SELECT CAST(floor(ln(1.0 / (n + 1.0)) * 1000000.0) AS BIGINT) AS lp_oov_c
  FROM stats
),
per AS (
  SELECT t.id,
         count(*)::BIGINT AS n_tokens,
         sum(coalesce(v.lp_q, o.lp_oov_c))::BIGINT AS score_q
  FROM tok t LEFT JOIN vocab v USING (word), oov o
  GROUP BY t.id
)"""


def unigram_lm_oracle_sql(min_count: int = 2, source: str = "documents") -> str:
    """DuckDB twin of :func:`unigram_lm_score` (kept beside the
    operator so the quantization and float expression shapes stay in
    lockstep)."""
    return f"""{_unigram_lm_ctes(min_count, source)}
SELECT id, n_tokens, score_q,
       round((-score_q / 1000000.0) / n_tokens, 6) AS cross_entropy,
       round(exp((-score_q / 1000000.0) / n_tokens), 6) AS ppl
FROM per
"""


def _bucket(word: Column, n_buckets: int) -> Column:
    from easyner_spark.operators.sampling import md5_long32

    return md5_long32(word) % F.lit(n_buckets)


def _weight_q(word: Column, n_buckets: int) -> Column:
    return (_bucket(word, n_buckets) * F.lit(_MIX)) % F.lit(_WRANGE) - F.lit(_WSHIFT)


def hashed_linear_score(
    docs: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    gain: float = DEFAULT_GAIN,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_words, margin_q, prob) — hashing-trick linear quality
    classifier, fastText shape: token -> md5 bucket -> µ-unit integer
    weight, document margin = mean bucket weight, prob =
    sigmoid(gain * margin). ZERO shuffles: one scan-fused projection
    (tokenize, per-token fold, sigmoid — all whole-stage codegen).

    The keyed-hash weights are a deterministic stand-in for trained
    coefficients; swapping in real weights keeps the identical plan
    (bucket contract unchanged, weight expression becomes a broadcast
    map lookup). margin_q is the exact BIGINT fold (the oracle-strong
    column); prob carries the only floats, per-row, rounded to 6.
    n_buckets must stay <= 2^20 so the weight mix never overflows
    BIGINT (DuckDB raises where Spark would wrap).
    """
    if not 0 < n_buckets <= DEFAULT_BUCKETS:
        raise ValueError(f"n_buckets must be in (0, 2^20]: {n_buckets}")
    toks = docs.select(F.col(id_col).alias("id"), words_array(text_col).alias("_w"))
    fold = F.aggregate(
        F.col("_w"),
        F.lit(0).cast("long"),
        lambda acc, w: acc + _weight_q(w, n_buckets),
    )
    per = toks.select("id", F.size("_w").alias("n_words"), fold.alias("margin_q"))
    margin = F.col("margin_q") / F.lit(float(Q)) / (F.col("n_words") + F.lit(1.0))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(float(gain)) * margin))
    return per.select("id", "n_words", "margin_q", F.round(prob, 6).alias("prob"))


def hashed_linear_oracle_sql(
    n_buckets: int = DEFAULT_BUCKETS,
    gain: float = DEFAULT_GAIN,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`hashed_linear_score`. The empty-document
    fold differs across engines (Spark aggregate inits to 0, DuckDB
    list_sum of [] is NULL) — coalesce pins it to 0."""
    nb = int(n_buckets)
    g = float(gain)
    wq = (
        f"(('0x' || substr(md5(x), 1, {HASH_NIBBLES}))::BIGINT % {nb}) "
        f"* {_MIX} % {_WRANGE} - {_WSHIFT}"
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '\\w+') AS w FROM {source}
),
per AS (
  SELECT id, len(w)::INT AS n_words,
         coalesce(list_sum(list_transform(w, x -> {wq})), 0)::BIGINT AS margin_q
  FROM toks
)
SELECT id, n_words, margin_q,
       round(1.0 / (1.0 + exp(-({g!r}) * (margin_q / 1000000.0 / (n_words + 1.0)))), 6) AS prob
FROM per
"""


PPL_TERCILES = (1.0 / 3.0, 2.0 / 3.0)


def ppl_buckets(
    docs: DataFrame,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """(id, n_tokens, ce_nano, bucket) — CCNet-style perplexity
    bucketing (Wenzek et al. 2020): split the corpus into
    head / middle / tail terciles of language-model perplexity, the
    standard web-crawl curation gate (keep head+middle, drop or
    down-sample tail; feed `bucket` to sampling.mixture_sample).

    All-integer contract: ce_nano = (-score_q * 1000) div n_tokens —
    nano-nats of per-token cross-entropy under the quantized LM of
    :func:`unigram_lm_score` (monotone in perplexity, so terciles of
    ce_nano ARE terciles of ppl; exact BIGINT, no float enters the
    pipeline at all). Tercile thresholds come from
    sketches.exact_quantiles' type-1 convention (rank = max(1,
    ceil(q*n)), value = min v with cum >= rank) at q = 1/3, 2/3 —
    over the MILLI-NAT bin ce_nano div 10^6, NOT the raw nano value:
    raw ce_nano is distinct per (score_q, n_tokens) pair, i.e.
    corpus-cardinality, which would defeat exact_quantiles' bounded
    distinct-value contract at scale, while milli-nat bins are capped
    by the LM's own ce range (tens of thousands of values at ANY
    corpus size — exactly the histogram_fixed_bins pre-binning the
    sketch docstring prescribes, fused in). bucket = head if
    bin <= t1, middle if bin <= t2, else tail (milli-nat threshold
    granularity — documents within 0.001 nat of a boundary share its
    side). Zero-token documents are absent (no LM rows), as in the
    scorer.

    Scale shape: the LM score is one token shuffle + one doc agg
    (unigram_lm_score); the threshold table is TWO numbers from a
    BOUNDED distinct-bin aggregate riding back on a broadcast cross
    join — no corpus-wide sort, no global window over data rows.
    Pass a frozen `vocab` (unigram_vocab) to bucket new crawls
    against a reference LM — the CCNet setup — without rescanning
    the training corpus.

    Reference parity: EasyNER has no corpus-quality gate at all; this
    is north_star curation surface.
    """
    from easyner_spark.operators.sketches import _q_micro, exact_quantiles

    scored = unigram_lm_score(
        docs, min_count=min_count, text_col=text_col, id_col=id_col, vocab=vocab
    )
    per = scored.select(
        "id",
        "n_tokens",
        F.expr("(-score_q * 1000) div n_tokens").alias("ce_nano"),
    )
    # exact_quantiles re-executes its input plan twice (cum + argmin);
    # the per-doc frame is narrow but derives from a full token
    # shuffle — pin it once.
    per = per.localCheckpoint(eager=True)
    lo_u, hi_u = _q_micro(PPL_TERCILES)
    binned = per.select(F.expr("ce_nano div 1000000").alias("bin"))
    th = exact_quantiles(binned, "bin", PPL_TERCILES).agg(
        F.min(F.when(F.col("q_micro") == lo_u, F.col("value"))).alias("t1"),
        F.min(F.when(F.col("q_micro") == hi_u, F.col("value"))).alias("t2"),
    )
    return per.crossJoin(F.broadcast(th)).select(
        "id",
        "n_tokens",
        "ce_nano",
        F.when(F.expr("ce_nano div 1000000") <= F.col("t1"), F.lit("head"))
        .when(F.expr("ce_nano div 1000000") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def ppl_buckets_oracle_sql(min_count: int = 2, source: str = "documents") -> str:
    """DuckDB twin of :func:`ppl_buckets` (shared unigram-LM prefix
    via _unigram_lm_ctes -> integer ce_nano -> milli-nat bins ->
    type-1 tercile thresholds -> bucket)."""
    from easyner_spark.operators.sketches import _Q_UNIT, _q_micro

    lo_u, hi_u = _q_micro(PPL_TERCILES)
    return f"""{_unigram_lm_ctes(min_count, source)},
per2 AS (
  SELECT id, n_tokens, (-score_q * 1000) // n_tokens AS ce_nano FROM per
),
g AS (SELECT ce_nano // 1000000 AS v, count(*)::BIGINT AS cnt FROM per2 GROUP BY 1),
c AS (
  SELECT v,
         sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         sum(cnt) OVER ()::BIGINT AS n
  FROM g
),
q(q_micro) AS (VALUES ({lo_u}), ({hi_u})),
e AS (
  SELECT q.q_micro, c.v, c.cum,
         greatest(1, (q.q_micro * c.n + {_Q_UNIT - 1}) // {_Q_UNIT}) AS rank
  FROM q, c
),
th AS (
  SELECT
    min(CASE WHEN q_micro = {lo_u} AND cum >= rank THEN v END) AS t1,
    min(CASE WHEN q_micro = {hi_u} AND cum >= rank THEN v END) AS t2
  FROM e
)
SELECT p.id, p.n_tokens, p.ce_nano,
       CASE WHEN p.ce_nano // 1000000 <= th.t1 THEN 'head'
            WHEN p.ce_nano // 1000000 <= th.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM per2 p, th
"""


BIGRAM_LAMBDA = 0.7  # interpolation weight on the bigram term


def bigram_lm_score(
    docs: DataFrame,
    min_count: int = 2,
    lam: float = BIGRAM_LAMBDA,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_transitions, score_q, cross_entropy, ppl) — per-document
    conditional cross-entropy under an interpolated bigram LM trained
    on this corpus (the KenLM/CCNet shape one order down):

        p(cur | prev) = lam * c(prev,cur)/c(prev)
                        + (1-lam) * c(cur)/(N+1)        [kept bigrams]
        backoff        = (1-lam) * c(cur)/(N+1)          [unseen pair]
        OOV            = (1-lam) * 1/(N+1)               [unseen cur]

    Scoring walks each document's n-1 (prev, cur) transitions (docs
    with < 2 tokens produce no rows); per-TRANSITION log-probs are
    quantized to BIGINT µ-units before the per-doc sum (the module's
    exact-integer determinism contract), floats only in per-row
    finals, rounded to 6.

    Scale shape: transitions are a narrow posexplode projection (no
    token self-join); the bigram/unigram tables are bounded count
    aggregates (min_count cutoff; Zipf caps distinct bigrams far
    below token count); scoring is two AQE-decided lookup joins + one
    partial-agg doc rollup. Training scans the corpus once per table;
    production freezes both tables and scores new crawls against them
    (same persisted-vocab hook as unigram_lm_score).
    """
    if not 0.0 < lam < 1.0:
        raise ValueError(f"lam must be in (0, 1): {lam}")
    toks = docs.select(F.col(id_col).alias("id"), words_array(text_col).alias("_w"))
    n = F.size("_w")
    pairs = toks.where(n >= 2).select(
        "id",
        F.explode(F.sequence(F.lit(2), n)).alias("_i"),
        F.col("_w"),
    ).select(
        "id",
        F.element_at("_w", F.col("_i") - 1).alias("prev"),
        F.element_at("_w", F.col("_i")).alias("cur"),
    )

    # unigram counts (full, pre-cutoff) drive N, the backoff term and
    # the c(prev) denominator; both tables are bounded + checkpointed
    tok = toks.select(F.explode("_w").alias("word"))
    uni = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    uni = uni.localCheckpoint(eager=True)
    stats = uni.agg(F.sum("cnt").alias("n"))
    lam_l, oml = F.lit(float(lam)), F.lit(1.0 - float(lam))
    uni_t = uni.crossJoin(F.broadcast(stats)).select(
        F.col("word"),
        F.col("cnt"),
        F.floor(
            F.log(oml * (F.col("cnt") / (F.col("n") + F.lit(1.0)))) * F.lit(float(Q))
        ).cast("long").alias("lp_back_q"),
        F.floor(
            F.log(oml * (F.lit(1.0) / (F.col("n") + F.lit(1.0)))) * F.lit(float(Q))
        ).cast("long").alias("lp_oov_q"),
    )

    bi = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_bi"))
    bi = bi.where(F.col("c_bi") >= F.lit(min_count))
    bi_t = (
        bi.join(uni_t.select(F.col("word").alias("prev"), F.col("cnt").alias("c_prev")), "prev")
        .join(
            uni_t.select(
                F.col("word").alias("cur"),
                F.col("cnt").alias("c_cur"),
            ).crossJoin(F.broadcast(stats)),
            "cur",
        )
        .select(
            "prev",
            "cur",
            F.floor(
                F.log(
                    lam_l * (F.col("c_bi") / F.col("c_prev"))
                    + oml * (F.col("c_cur") / (F.col("n") + F.lit(1.0)))
                )
                * F.lit(float(Q))
            ).cast("long").alias("lp_bi_q"),
        )
    )

    scored = (
        pairs.join(bi_t, ["prev", "cur"], "left")
        .join(uni_t.select(F.col("word").alias("cur"), "lp_back_q", "lp_oov_q"), "cur", "left")
        .crossJoin(F.broadcast(uni_t.agg(F.min("lp_oov_q").alias("lp_oov_c"))))
    )
    q = F.coalesce(F.col("lp_bi_q"), F.col("lp_back_q"), F.col("lp_oov_c"))
    per = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.sum(q).alias("score_q"),
    )
    ce = (-F.col("score_q") / F.lit(float(Q))) / F.col("n_transitions")
    return per.select(
        "id",
        "n_transitions",
        "score_q",
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("ppl"),
    )


def bigram_lm_oracle_sql(
    min_count: int = 2,
    lam: float = BIGRAM_LAMBDA,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`bigram_lm_score` (one generator, both
    float expression trees — the module contract)."""
    mc, lm = int(min_count), float(lam)
    om = 1.0 - lm
    return f"""
WITH toks AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '\\w+') AS w FROM {source}
),
pairs AS (
  SELECT id, w[i - 1] AS prev, w[i] AS cur
  FROM (SELECT id, w, unnest(generate_series(2, len(w))) AS i
        FROM toks WHERE len(w) >= 2)
),
uni AS (
  SELECT word, count(*)::BIGINT AS cnt
  FROM (SELECT unnest(w) AS word FROM toks) GROUP BY word
),
stats AS (SELECT sum(cnt)::BIGINT AS n FROM uni),
uni_t AS (
  SELECT word, cnt,
         CAST(floor(ln({om!r} * (cnt / (n + 1.0))) * 1000000.0) AS BIGINT) AS lp_back_q,
         CAST(floor(ln({om!r} * (1.0 / (n + 1.0))) * 1000000.0) AS BIGINT) AS lp_oov_q
  FROM uni, stats
),
bi AS (
  SELECT prev, cur, count(*)::BIGINT AS c_bi FROM pairs GROUP BY prev, cur
  HAVING count(*) >= {mc}
),
bi_t AS (
  SELECT b.prev, b.cur,
         CAST(floor(ln({lm!r} * (b.c_bi / up.cnt)
                       + {om!r} * (uc.cnt / (s.n + 1.0))) * 1000000.0) AS BIGINT)
           AS lp_bi_q
  FROM bi b
  JOIN uni_t up ON up.word = b.prev
  JOIN uni_t uc ON uc.word = b.cur
  CROSS JOIN stats s
),
oov AS (SELECT min(lp_oov_q) AS lp_oov_c FROM uni_t),
scored AS (
  SELECT p.id,
         coalesce(bt.lp_bi_q, ut.lp_back_q, o.lp_oov_c) AS q
  FROM pairs p
  LEFT JOIN bi_t bt ON bt.prev = p.prev AND bt.cur = p.cur
  LEFT JOIN uni_t ut ON ut.word = p.cur
  CROSS JOIN oov o
),
per AS (
  SELECT id, count(*)::BIGINT AS n_transitions, sum(q)::BIGINT AS score_q
  FROM scored GROUP BY id
)
SELECT id, n_transitions, score_q,
       round((-score_q / 1000000.0) / n_transitions, 6) AS cross_entropy,
       round(exp((-score_q / 1000000.0) / n_transitions), 6) AS ppl
FROM per
"""
