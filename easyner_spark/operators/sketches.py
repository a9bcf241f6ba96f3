"""Corpus-monitoring sketches: deterministic cardinality estimation
and fixed-bin histograms.

At 10^12 documents, `COUNT(DISTINCT url)` is a full shuffle of every
key; monitoring dashboards need cardinalities and distributions that
cost one scan and O(1) state. Spark's approx_count_distinct (HLL++) is
engine-private — its estimate can't be value-checked against another
engine — so this module ships the classic LINEAR COUNTING estimator
(Whang et al. 1990) on md5 buckets instead: deterministic, cross-
engine bit-stable, and exact-oracle-able end to end.

Scale shape: both operators aggregate to O(m) / O(bins) rows with full
map-side partial aggregation; nothing corpus-sized survives the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LC_BUCKETS = 1 << 16  # default m: <1% error up to ~m*ln(m) distincts


def _bucket32(col: Column, m: int) -> Column:
    """md5-derived bucket in [0, m) via the engine-wide shared 32-bit
    hash (sampling.md5_long32)."""
    from easyner_spark.operators.sampling import md5_long32

    return md5_long32(col) % F.lit(m)


def linear_count_distinct(
    df: DataFrame,
    col: str,
    m: int = LC_BUCKETS,
) -> DataFrame:
    """One row (hit_buckets, m, estimate): linear-counting cardinality
    of `col`. hit_buckets = COUNT(DISTINCT md5-bucket) — bounded by m,
    so the distinct-aggregate state is O(m) per partition, never
    O(corpus) — and estimate = round(-m * ln(1 - hit/m), 3) (the
    standard load-factor inversion; saturated sketches where hit == m
    report estimate = NULL — raise m). Deterministic: re-runs and
    other engines produce the IDENTICAL estimate, which is what makes
    the value oracle possible at all (HLL++ cannot promise that).
    Relative error <1% while n <~ m * ln(m); size m for the expected
    cardinality tier, not the corpus size."""
    if m < 2:
        raise ValueError(f"m must be >= 2: {m}")
    hits = df.select(_bucket32(F.col(col), m).alias("b")).agg(
        F.countDistinct("b").alias("hit_buckets")
    )
    frac = F.col("hit_buckets") / F.lit(float(m))
    est = F.when(
        F.col("hit_buckets") < F.lit(m),
        F.round(-F.lit(float(m)) * F.log(F.lit(1.0) - frac), 3),
    )
    return hits.select(
        "hit_buckets", F.lit(m).alias("m"), est.alias("estimate")
    )


def linear_count_oracle_sql(
    col: str,
    m: int = LC_BUCKETS,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`linear_count_distinct`."""
    mi = int(m)
    return f"""
WITH b AS (
  SELECT ('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8))::BIGINT % {mi} AS b
  FROM {source}
),
h AS (SELECT count(DISTINCT b)::BIGINT AS hit_buckets FROM b)
SELECT hit_buckets, {mi}::INT AS m,
       CASE WHEN hit_buckets < {mi}
            THEN round(-{mi}.0 * ln(1.0 - hit_buckets / {mi}.0), 3)
       END AS estimate
FROM h
"""


def histogram_fixed_bins(
    df: DataFrame,
    expr: Column | str,
    bin_width: int,
    n_bins: int,
) -> DataFrame:
    """(bin, lo, hi, n) — fixed-width histogram of an integer metric:
    bin = least(floor(x / w), n_bins - 1) (the last bin absorbs the
    tail; negative values clamp to bin 0). ONE partial-agg-absorbed
    aggregate over at most n_bins keys — the distribution monitor for
    quality/length/token columns at any corpus size. Empty bins are
    absent (same as the SQL GROUP BY). NULL metrics are EXCLUDED
    explicitly — Spark's least/greatest skip NULL operands, which
    would otherwise silently count NULL rows in the tail bin (and
    DuckDB's NULL-propagating least/greatest would disagree)."""
    if bin_width <= 0 or n_bins <= 0:
        raise ValueError(f"bin_width and n_bins must be positive: {bin_width}, {n_bins}")
    x = F.col(expr) if isinstance(expr, str) else expr
    df = df.where(x.isNotNull())
    b = F.greatest(
        F.lit(0),
        F.least(F.floor(x / F.lit(bin_width)), F.lit(n_bins - 1)),
    ).cast("int")
    return (
        df.select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (F.col("bin") * F.lit(bin_width)).cast("long").alias("lo"),
            ((F.col("bin") + 1) * F.lit(bin_width)).cast("long").alias("hi"),
            "n",
        )
    )


def histogram_oracle_sql(
    expr: str,
    bin_width: int,
    n_bins: int,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`histogram_fixed_bins`; `expr` is a SQL
    expression producing the integer metric."""
    w, nb = int(bin_width), int(n_bins)
    return f"""
WITH b AS (
  SELECT greatest(0, least(CAST(floor(({expr}) / {w}) AS BIGINT), {nb - 1}))::INT AS bin
  FROM {source} WHERE ({expr}) IS NOT NULL
)
SELECT bin, (bin * {w})::BIGINT AS lo, ((bin + 1) * {w})::BIGINT AS hi,
       count(*)::BIGINT AS n
FROM b GROUP BY bin
"""


QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.99)
_Q_UNIT = 1_000_000  # quantile fractions carried as exact micro-units


def _q_micro(qs: tuple[float, ...]) -> list[int]:
    out = []
    for q in qs:
        u = int(round(q * _Q_UNIT))
        if not 0 < u <= _Q_UNIT:
            raise ValueError(f"quantile out of (0, 1]: {q}")
        out.append(u)
    if len(set(out)) != len(out):
        raise ValueError(f"duplicate quantiles after micro rounding: {qs}")
    return out


def exact_quantiles(
    df: DataFrame,
    expr: Column | str,
    qs: tuple[float, ...] = QUANTILES,
) -> DataFrame:
    """(q_micro, n, rank, value) — EXACT discrete quantiles of an
    integer metric: value = min v whose cumulative count reaches
    rank = max(1, ceil(q * n)) (type-1 / lower-value convention; NULL
    metrics excluded). q rides as integer micro-units and rank uses
    integer ceil-division, so every output cell is integer-exact and
    cross-engine hashable — no float percentile semantics to disagree
    over (Spark's percentile_approx and DuckDB's quantile_cont both
    interpolate, each its own way).

    Scale shape: ONE value-keyed aggregate collapses the corpus to its
    distinct metric values with full map-side combine; the running-sum
    window then runs over that BOUNDED table (single partition — by
    design: use this on discrete, low-cardinality metrics such as
    lengths, token counts, scores; for unbounded metrics pre-bin with
    histogram_fixed_bins and take quantiles of bins). The |V| x |qs|
    explode feeding the final argmin is bounded the same way. rank
    arithmetic stays in BIGINT: q_micro * n <= 1e6 * n, safe to
    n ~ 9e12 rows."""
    from pyspark.sql import Window

    q_us = _q_micro(qs)
    x = F.col(expr) if isinstance(expr, str) else expr
    g = (
        df.where(x.isNotNull())
        .select(x.cast("long").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "v",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    exploded = cum.select(
        F.explode(F.array(*[F.lit(u) for u in q_us])).alias("q_micro"),
        "v",
        "cum",
        "n",
    ).withColumn(
        "rank",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(q_micro * n + {_Q_UNIT - 1}) div {_Q_UNIT}"),
        ),
    )
    return exploded.groupBy("q_micro").agg(
        F.max("n").alias("n"),
        F.max("rank").alias("rank"),
        F.min(F.when(F.col("cum") >= F.col("rank"), F.col("v"))).alias("value"),
    )


def exact_quantiles_oracle_sql(
    expr: str,
    qs: tuple[float, ...] = QUANTILES,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`exact_quantiles`; `expr` is a SQL
    expression producing the integer metric."""
    q_us = _q_micro(qs)
    q_rows = ", ".join(f"({u})" for u in q_us)
    return f"""
WITH g AS (
  SELECT CAST({expr} AS BIGINT) AS v, count(*)::BIGINT AS cnt
  FROM {source} WHERE ({expr}) IS NOT NULL GROUP BY 1
),
c AS (
  SELECT v,
         sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         sum(cnt) OVER ()::BIGINT AS n
  FROM g
),
q(q_micro) AS (VALUES {q_rows}),
e AS (
  SELECT q.q_micro::INT AS q_micro, c.v, c.cum, c.n,
         greatest(1, (q.q_micro * c.n + {_Q_UNIT - 1}) // {_Q_UNIT})::BIGINT AS rank
  FROM q CROSS JOIN c
)
SELECT q_micro, max(n)::BIGINT AS n, max(rank)::BIGINT AS rank,
       min(CASE WHEN cum >= rank THEN v END)::BIGINT AS value
FROM e GROUP BY q_micro
"""


CMS_W = 1024
CMS_D = 4


def _cms_bucket(col: Column, r: int, w: int) -> Column:
    """Row-r CMS bucket: the engine-wide md5 hash seeded with 'r:'."""
    from easyner_spark.operators.sampling import md5_long32

    return md5_long32(col, seed=f"{r}:") % F.lit(w)


def cms_sketch(
    df: DataFrame, col: str, w: int = CMS_W, d: int = CMS_D
) -> DataFrame:
    """(r, b, cnt) — a count-min sketch (Cormode & Muthukrishnan 2005)
    of `col`: d independent md5-seeded hash rows of width w. Each
    input row explodes into d (row, bucket) cells, but the groupBy
    collapses map-side to at most d*w cells per partition — so the
    sketch costs one scan and O(d*w) state at ANY corpus size, the
    whole point: frequency monitoring over 10^12 tokens without
    shuffling the key space (COUNT/GROUP BY term moves every distinct
    key; this moves d*w integers).

    Deterministic md5 seeding (sampling.md5_long32, seed 'r:') keeps
    the cell layout bit-identical across engines — a DuckDB oracle can
    rebuild the exact sketch, which engine-private hashes (xxhash64,
    HLL++) cannot promise."""
    if w < 2 or d < 1:
        raise ValueError(f"need w >= 2, d >= 1: {w}, {d}")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"), _cms_bucket(F.col(col), r, w).alias("b")
                )
                for r in range(d)
            ]
        )
    ).alias("cell")
    return (
        df.select(cells)
        .select("cell.r", "cell.b")
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    term_col: str = "term",
    w: int = CMS_W,
    d: int = CMS_D,
) -> DataFrame:
    """(term, est) — the count-min point estimate for each candidate:
    min over the d rows of the candidate's cell count (an ABSENT cell
    counts 0). est >= true frequency always (counters only over-count
    on collisions — the one-sided CMS guarantee, pytest-pinned).

    Scale shape: the sketch is O(d*w) rows — broadcast it; estimating
    any number of candidates is then a zero-shuffle map-side join plus
    one bounded (term, min) rollup. Integer-exact end to end."""
    probes = candidates.select(
        F.col(term_col).alias("term"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_bucket(F.col(term_col), r, w).alias("b"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("cell"),
    ).select("term", "cell.r", "cell.b")
    return (
        probes.join(F.broadcast(sketch), ["r", "b"], "left")
        .select("term", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
        .groupBy("term")
        .agg(F.min("cnt").alias("est"))
    )


def cms_oracle_sql(
    stream_cte: str,
    candidates_sql: str,
    w: int = CMS_W,
    d: int = CMS_D,
) -> str:
    """DuckDB twin of cms_sketch + cms_estimate. `stream_cte` must
    expose tok(x) — one row per stream element; `candidates_sql` a
    relation with column term. The UNION ALL over d hash rows mirrors
    the engine's struct-array explode cell for cell."""
    wi, di = int(w), int(d)
    rows = "\n    UNION ALL ".join(
        f"SELECT {r} AS r, ('0x' || substr(md5('{r}:' || x), 1, 8))::BIGINT % {wi} AS b FROM tok"
        for r in range(di)
    )
    probe_rows = "\n    UNION ALL ".join(
        f"SELECT term, {r} AS r, ('0x' || substr(md5('{r}:' || term), 1, 8))::BIGINT % {wi} AS b FROM cand"
        for r in range(di)
    )
    return f"""{stream_cte},
cells AS (
    {rows}
),
sk AS (SELECT r, b, count(*)::BIGINT AS cnt FROM cells GROUP BY r, b),
cand AS ({candidates_sql}),
probes AS (
    {probe_rows}
)
SELECT p.term, min(coalesce(sk.cnt, 0))::BIGINT AS est
FROM probes p LEFT JOIN sk ON p.r = sk.r AND p.b = sk.b
GROUP BY p.term
"""


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    expr: Column | str,
    qs: tuple[float, ...] = QUANTILES,
) -> DataFrame:
    """(grp, q_micro, n, rank, value) — exact_quantiles PER GROUP,
    same type-1 integer-exact convention. Unlike the global variant
    (whose running-sum window is SinglePartition over the bounded
    distinct-value table), every window here is PARTITIONED by the
    group key, so the plan is fully distributed: hot groups are
    bounded by their own distinct METRIC values (after the
    map-combined (grp, v) pre-agg), not their row counts. This is the
    per-stratum shape adaptive curation gates want — "keep docs above
    their own language's q-quantile" — see grouped_quantile_filter.
    """
    from pyspark.sql import Window

    q_us = _q_micro(qs)
    x = F.col(expr) if isinstance(expr, str) else expr
    g = (
        df.where(x.isNotNull())
        .select(F.col(group_col).alias("grp"), x.cast("long").alias("v"))
        .groupBy("grp", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = g.select(
        "grp",
        "v",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("grp")).alias("n"),
    )
    exploded = cum.select(
        "grp",
        F.explode(F.array(*[F.lit(u) for u in q_us])).alias("q_micro"),
        "v",
        "cum",
        "n",
    ).withColumn(
        "rank",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(q_micro * n + {_Q_UNIT - 1}) div {_Q_UNIT}"),
        ),
    )
    return exploded.groupBy("grp", "q_micro").agg(
        F.max("n").alias("n"),
        F.max("rank").alias("rank"),
        F.min(F.when(F.col("cum") >= F.col("rank"), F.col("v"))).alias("value"),
    )


def grouped_quantile_filter(
    df: DataFrame,
    group_col: str,
    expr: Column | str,
    q: float = 0.5,
) -> DataFrame:
    """Adaptive per-stratum gate: keep rows whose metric is >= their
    own group's q-quantile (e.g. "top half by length, per language" —
    a fixed global threshold would gut low-resource strata). The
    quantile table is one row per group: the join back is a LEFT join
    (AQE-decided, broadcast for any realistic group count), so rows
    whose group has NO cut row — a NULL group key, or a stratum whose
    metric is entirely NULL — pass through ungated rather than being
    silently deleted; only rows with a NULL METRIC in a gated group
    are dropped (nothing to compare). Input schema preserved.
    """
    x = F.col(expr) if isinstance(expr, str) else expr
    cut = grouped_quantiles(df, group_col, expr, qs=(q,)).select(
        F.col("grp"), F.col("value").alias("_cut")
    )
    return (
        df.join(cut, df[group_col] == cut["grp"], "left")
        .where(F.col("_cut").isNull() | (x.cast("long") >= F.col("_cut")))
        .drop("grp", "_cut")
    )


def grouped_quantiles_oracle_sql(
    expr: str,
    group_expr: str,
    qs: tuple[float, ...] = QUANTILES,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`grouped_quantiles`."""
    q_us = _q_micro(qs)
    q_rows = ", ".join(f"({u})" for u in q_us)
    return f"""
WITH g AS (
  SELECT {group_expr} AS grp, CAST({expr} AS BIGINT) AS v,
         count(*)::BIGINT AS cnt
  FROM {source} WHERE ({expr}) IS NOT NULL GROUP BY 1, 2
),
c AS (
  SELECT grp, v,
         sum(cnt) OVER (PARTITION BY grp ORDER BY v
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         sum(cnt) OVER (PARTITION BY grp)::BIGINT AS n
  FROM g
),
q(q_micro) AS (VALUES {q_rows}),
e AS (
  SELECT c.grp, q.q_micro::INT AS q_micro, c.v, c.cum, c.n,
         greatest(1, (q.q_micro * c.n + {_Q_UNIT - 1}) // {_Q_UNIT})::BIGINT AS rank
  FROM q CROSS JOIN c
)
SELECT grp, q_micro, max(n)::BIGINT AS n, max(rank)::BIGINT AS rank,
       min(CASE WHEN cum >= rank THEN v END)::BIGINT AS value
FROM e GROUP BY grp, q_micro
"""


KMV_NIBBLES = 12          # 48-bit hash space: (k-1)*KMV_SPACE fits BIGINT
KMV_SPACE = 1 << 48
KMV_K = 256


def _kmv_hash(col: Column) -> Column:
    """48-bit md5 hash — the KMV order statistic. 12 hex nibbles of
    md5(cast(x as string)) as BIGINT; DuckDB twin:
    ('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 12))::BIGINT. 48 bits
    (not the engine-wide 32 of sampling.md5_long32) because KMV
    estimates from the k-th ORDER STATISTIC: 32-bit birthday
    collisions bias h_k low at ~10^5 distincts, 48-bit pushes that to
    ~10^7 per group; and (k-1) * 2^48 still multiplies inside BIGINT."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, KMV_NIBBLES), 16, 10
    ).cast("long")


def kmv_sketch(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    k: int = KMV_K,
) -> DataFrame:
    """Per-group KMV (k-minimum-values / bottom-k) distinct sketch
    (Bar-Yossef et al. 2002): the k smallest DISTINCT 48-bit md5
    hashes of `col` as a sorted array, plus n_min = |sketch| and the
    cardinality estimate — exact n_min while the group holds < k
    distincts, else the order-statistic inversion
    (k-1) * 2^48 div h_k (floor division: deterministic, so a DuckDB
    oracle reproduces the IDENTICAL estimate; HLL++ cannot promise
    that). Unlike linear_count_distinct this sketch is MERGEABLE with
    set semantics — :func:`kmv_set_ops` derives union / intersection /
    Jaccard estimates from two sketches without rescanning data — and
    needs no up-front size parameter m.

    Scale shape: an Arrow mapInPandas pre-prune keeps at most 2k
    hashes per (partition, group) while streaming batches — the
    map-side combine of the sketch — so the single shuffle moves
    <= k * n_partitions longs per group no matter how hot the group
    (a 10^9-url host ships the same few KB as a 10-url host); the
    final collect_set input is bounded by the same product. No window,
    no driver collect.

    Reference parity: no analog (the reference counts exact
    frequencies in pandas, scripts/analysis.py); corpus-monitoring
    layer for the north-star crawl tables.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    gcols = list(group_cols or [])
    h = _kmv_hash(F.col(col)).alias("h")
    # NULL values carry no identity: the sketch counts DISTINCT
    # NON-NULL values (COUNT(DISTINCT x) semantics; an unfiltered
    # NULL would reach the pandas prune as NA and poison the sort)
    proj = df.where(F.col(col).isNotNull()).select(*gcols, h)
    schema = proj.schema

    def prune(batches):
        import pandas as pd

        state: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            pairs = (
                pdf.groupby(gcols)["h"] if gcols else [((), pdf["h"])]
            )
            for key, hs in pairs:
                cur = state.get(key)
                vals = set(hs.unique())
                if cur is None:
                    cur = vals
                else:
                    cur |= vals
                if len(cur) > 2 * k:
                    cur = set(sorted(cur)[:k])
                state[key] = cur
        rows = []
        for key, hs in state.items():
            key = key if isinstance(key, tuple) else (key,)
            for hv in sorted(hs)[:k]:
                rows.append((*key, hv))
        yield pd.DataFrame(rows, columns=[*gcols, "h"])

    pruned = proj.mapInPandas(prune, schema=schema)
    agg = pruned.groupBy(*gcols).agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("sketch")
    )
    n_min = F.size("sketch")
    # integer floor division written as expr so Spark and DuckDB agree
    est = F.when(n_min < k, n_min.cast("long")).otherwise(
        F.expr(
            f"(CAST({k - 1} AS BIGINT) * CAST({KMV_SPACE} AS BIGINT))"
            f" div greatest(element_at(sketch, size(sketch)), 1)"
        )
    )
    return agg.select(
        *gcols,
        "sketch",
        n_min.cast("long").alias("n_min"),
        F.lit(k).alias("k"),
        est.alias("estimate"),
    )


def kmv_set_ops(
    sketches: DataFrame,
    group_col: str,
    k: int = KMV_K,
) -> DataFrame:
    """Pairwise set-operation estimates from KMV sketches alone (no
    data rescan): for every group pair a < b, the union sketch X = k
    smallest of sketch_a ∪ sketch_b (valid because the k smallest of
    the true union all live in one of the two sketches), union_est by
    the same order-statistic inversion, overlap = |X ∩ sketch_a ∩
    sketch_b| (for x in X, membership in a sketch == membership in
    the full set — a fuller set's smaller hashes would have evicted x
    from X first), jaccard_micro = overlap * 1e6 div |X|,
    inter_est = overlap * union_est div |X|, plus the set-DIFFERENCE
    sample counts a_only / b_only (X members in exactly one sketch)
    and their scaled estimates. All BIGINT floor
    arithmetic ((k-1)*2^48 div h_k <= 2^48 since the k-th smallest of
    k distinct non-negatives is >= k-1, so overlap * union_est stays
    in BIGINT for k <= 4096). Exact (not estimates) whenever |X| < k.

    Scale: the sketch table is one bounded row per group (<= k longs);
    the self-join is array math over group-pair rows — for unbounded
    group counts feed a candidate pair list instead of the full
    cross."""
    a = sketches.select(
        F.col(group_col).alias("g_a"), F.col("sketch").alias("sk_a")
    )
    b = sketches.select(
        F.col(group_col).alias("g_b"), F.col("sketch").alias("sk_b")
    )
    x = F.slice(
        F.array_sort(F.array_distinct(F.concat("sk_a", "sk_b"))), 1, k
    ).alias("x")
    joined = (
        a.join(b, F.col("g_a") < F.col("g_b"))
        .select("g_a", "g_b", "sk_a", "sk_b", x)
        .select(
            "g_a",
            "g_b",
            "sk_a",
            "sk_b",
            "x",
            F.size("x").alias("sx"),
            F.size(
                F.array_intersect(F.array_intersect("x", "sk_a"), "sk_b")
            ).alias("overlap"),
            F.size(F.array_intersect("x", "sk_a")).alias("_xa"),
        )
    )
    union_est = F.when(
        F.col("sx") < k, F.col("sx").cast("long")
    ).otherwise(
        F.expr(
            f"(CAST({k - 1} AS BIGINT) * CAST({KMV_SPACE} AS BIGINT))"
            f" div greatest(element_at(x, sx), 1)"
        )
    )
    return joined.select(
        "g_a",
        "g_b",
        F.col("sx").cast("long").alias("n_union_min"),
        union_est.alias("union_est"),
        F.col("overlap").cast("long").alias("overlap"),
        F.expr("(overlap * 1000000) div sx").cast("long").alias("jaccard_micro"),
        (F.col("overlap").cast("long") * union_est).alias("_oe"),
        # X members in exactly one sketch: the set-DIFFERENCE counts
        # (for x in X, sketch membership == full-set membership, so
        # these are unbiased |A\B| / |B\A| sample counts over X)
        (F.col("_xa") - F.col("overlap")).cast("long").alias("_ao"),
        (F.col("sx") - F.col("_xa")).cast("long").alias("_bo"),
    ).select(
        "g_a",
        "g_b",
        "n_union_min",
        "union_est",
        "overlap",
        "jaccard_micro",
        F.expr("_oe div n_union_min").alias("inter_est"),
        F.col("_ao").alias("a_only"),
        F.col("_bo").alias("b_only"),
        F.expr("(_ao * union_est) div n_union_min").alias("a_only_est"),
        F.expr("(_bo * union_est) div n_union_min").alias("b_only_est"),
    )


def kmv_sketch_oracle_sql(
    values_sql: str,
    group_expr: str,
    value_expr: str,
    k: int = KMV_K,
    group_alias: str = "g",
) -> str:
    """DuckDB twin of :func:`kmv_sketch` WITHOUT the array column
    (group, n_min, k, estimate): ranks distinct 48-bit hashes per
    group and inverts the k-th order statistic with the same floor
    arithmetic. `group_alias` names the group column in the output
    (an f-string placeholder, never post-hoc substitution on the
    assembled SQL)."""
    ki = int(k)
    return f"""
WITH src AS MATERIALIZED (
  SELECT {group_expr} AS g,
         ('0x' || substr(md5(CAST({value_expr} AS VARCHAR)), 1, {KMV_NIBBLES}))::BIGINT AS h
  FROM ({values_sql})
  WHERE {value_expr} IS NOT NULL
),
d AS (SELECT DISTINCT g, h FROM src),
r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM d),
s AS (
  SELECT g, count(*)::BIGINT AS n_min, max(h) AS kth
  FROM r WHERE rk <= {ki} GROUP BY g
)
SELECT g AS {group_alias}, n_min, {ki}::INT AS k,
       CASE WHEN n_min < {ki} THEN n_min
            ELSE ({ki - 1}::BIGINT * {KMV_SPACE}::BIGINT)
                 // greatest(kth, 1) END AS estimate
FROM s
"""


def kmv_set_ops_oracle_sql(
    values_sql: str,
    group_expr: str,
    value_expr: str,
    k: int = KMV_K,
) -> str:
    """DuckDB twin of :func:`kmv_sketch` |> :func:`kmv_set_ops`:
    rebuilds each group's bottom-k hash set relationally, unions pairs
    of SKETCHES (not full sets — mirroring what the operator can see),
    and applies the identical floor arithmetic."""
    ki = int(k)
    return f"""
WITH src AS MATERIALIZED (
  SELECT {group_expr} AS g,
         ('0x' || substr(md5(CAST({value_expr} AS VARCHAR)), 1, {KMV_NIBBLES}))::BIGINT AS h
  FROM ({values_sql})
  WHERE {value_expr} IS NOT NULL
),
d AS (SELECT DISTINCT g, h FROM src),
sk AS (
  SELECT g, h FROM (
    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM d
  ) WHERE rk <= {ki}
),
pairs AS (
  SELECT a.g AS g_a, b.g AS g_b
  FROM (SELECT DISTINCT g FROM sk) a JOIN (SELECT DISTINCT g FROM sk) b
    ON a.g < b.g
),
u AS (
  SELECT p.g_a, p.g_b, s.h,
         row_number() OVER (PARTITION BY p.g_a, p.g_b ORDER BY s.h) AS rk
  FROM pairs p
  JOIN (SELECT DISTINCT x.g_a, x.g_b, y.h
        FROM pairs x JOIN sk y ON y.g IN (x.g_a, x.g_b)) s
    ON s.g_a = p.g_a AND s.g_b = p.g_b
),
x AS (SELECT g_a, g_b, h FROM u WHERE rk <= {ki}),
st AS (
  SELECT x.g_a, x.g_b,
         count(*)::BIGINT AS sx,
         max(x.h) AS kth,
         count(*) FILTER (
           WHERE EXISTS (SELECT 1 FROM sk a WHERE a.g = x.g_a AND a.h = x.h)
             AND EXISTS (SELECT 1 FROM sk b WHERE b.g = x.g_b AND b.h = x.h)
         )::BIGINT AS overlap,
         count(*) FILTER (
           WHERE EXISTS (SELECT 1 FROM sk a WHERE a.g = x.g_a AND a.h = x.h)
         )::BIGINT AS xa
  FROM x GROUP BY 1, 2
),
fin AS (
  SELECT *,
         CASE WHEN sx < {ki} THEN sx
              ELSE ({ki - 1}::BIGINT * {KMV_SPACE}::BIGINT)
                   // greatest(kth, 1) END AS union_est,
         xa - overlap AS a_only,
         sx - xa AS b_only
  FROM st
)
SELECT g_a, g_b, sx AS n_union_min, union_est, overlap,
       (overlap * 1000000) // sx AS jaccard_micro,
       (overlap * union_est) // sx AS inter_est,
       a_only, b_only,
       (a_only * union_est) // sx AS a_only_est,
       (b_only * union_est) // sx AS b_only_est
FROM fin
"""


def histogram_drift(
    hist_a: DataFrame,
    hist_b: DataFrame,
) -> DataFrame:
    """Distribution-drift monitor between two epochs' fixed-bin
    histograms (both from :func:`histogram_fixed_bins` with the SAME
    binning): per-bin exact micro-unit shares and their signed delta,
    plus a 1-row-per-bin total-variation contribution — sum(
    abs_delta_micro) div 2 over the output IS the total-variation
    distance in micro-units, the standard crawl-shift tripwire
    ("epoch 12's length distribution moved 8% of mass vs epoch 11"),
    all BIGINT so the alert threshold is bit-reproducible. Bins
    absent on one side count as zero there (full outer join).

    Scale: inputs are <= n_bins rows by construction — this is
    bounded-table arithmetic, the one place tiny frames are the
    honest design (the exact_quantiles contract class).
    """
    tot_a = hist_a.agg(F.sum("n").cast("long").alias("ta"))
    tot_b = hist_b.agg(F.sum("n").cast("long").alias("tb"))
    a = hist_a.select("bin", "lo", "hi", F.col("n").alias("n_a"))
    b = hist_b.select("bin", "lo", "hi", F.col("n").alias("n_b"))
    j = (
        a.join(b, ["bin", "lo", "hi"], "full_outer")
        .select(
            "bin",
            "lo",
            "hi",
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        )
        .crossJoin(F.broadcast(tot_a))
        .crossJoin(F.broadcast(tot_b))
    )
    return j.select(
        "bin",
        "lo",
        "hi",
        "n_a",
        "n_b",
        F.expr("(n_a * 1000000) div greatest(ta, 1)").alias("share_a_micro"),
        F.expr("(n_b * 1000000) div greatest(tb, 1)").alias("share_b_micro"),
        F.expr(
            "(n_b * 1000000) div greatest(tb, 1)"
            " - (n_a * 1000000) div greatest(ta, 1)"
        ).alias("delta_micro"),
        F.expr(
            "abs((n_b * 1000000) div greatest(tb, 1)"
            " - (n_a * 1000000) div greatest(ta, 1))"
        ).alias("abs_delta_micro"),
    )


def histogram_drift_oracle_sql(hist_a_sql: str, hist_b_sql: str) -> str:
    """DuckDB twin of :func:`histogram_drift`; inputs yield
    (bin, lo, hi, n) — typically two :func:`histogram_oracle_sql`
    results."""
    return f"""
WITH ha AS MATERIALIZED (SELECT * FROM ({hist_a_sql})),
hb AS MATERIALIZED (SELECT * FROM ({hist_b_sql})),
ta AS (SELECT greatest(sum(n), 1)::BIGINT AS t FROM ha),
tb AS (SELECT greatest(sum(n), 1)::BIGINT AS t FROM hb),
j AS (
  SELECT coalesce(ha.bin, hb.bin) AS bin,
         coalesce(ha.lo, hb.lo) AS lo,
         coalesce(ha.hi, hb.hi) AS hi,
         coalesce(ha.n, 0)::BIGINT AS n_a,
         coalesce(hb.n, 0)::BIGINT AS n_b
  FROM ha FULL OUTER JOIN hb
    ON ha.bin = hb.bin AND ha.lo = hb.lo AND ha.hi = hb.hi
)
SELECT bin, lo, hi, n_a, n_b,
       (n_a * 1000000) // ta.t AS share_a_micro,
       (n_b * 1000000) // tb.t AS share_b_micro,
       (n_b * 1000000) // tb.t - (n_a * 1000000) // ta.t AS delta_micro,
       abs((n_b * 1000000) // tb.t - (n_a * 1000000) // ta.t)
         AS abs_delta_micro
FROM j, ta, tb
"""
