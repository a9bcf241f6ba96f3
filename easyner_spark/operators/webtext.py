"""Web-corpus URL operators: the recrawl collapse, url decomposition,
recrawl change tracking, and the host-skew profile that sizes salted
host-keyed shuffles.

The north-star job runs over Common-Crawl-style pages keyed by url
(BASELINE.json input_hint: `url:string, warc_ts, html, text, lang`).
The input holds every fetch of a url, and the url HOST is the natural
key for politeness grouping and per-site caps. It is also the
canonical skew hazard: a handful of hosts hold orders of magnitude
more pages than the median site.

Scale design:

- `url_parts` is a pure per-row codegen column chain (regexp over the
  url string) that fuses into the scan, zero shuffle. It uses
  `regexp_extract` rather than Spark's `parse_url()` so the DuckDB
  oracle can run the byte-identical pattern; both engines anchor the
  same ASCII regex.
- `latest_crawl` keeps the newest fetch per url with one algebraic
  `max(struct)` aggregate, so recrawl skew is absorbed map-side.
- `crawl_delta` compares each fetch with the previous one inside a
  url-partitioned window (each url sorts only its own history).
- `host_skew_profile` ranks hosts by page share and computes the salt
  factor a host-keyed JOIN or applyInPandas would need
  (`ceil(n_docs / target_partition_rows)`); `salted_repartition_by_host`
  applies it. The rank/cumsum runs over the |hosts|-row aggregate,
  not over pages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ASCII regexes shared verbatim with the DuckDB oracle (both Java regex
# and RE2 interpret these identically; no unicode classes, no
# lookaround).
SCHEME_RE = r"^([a-z][a-z0-9+.-]*)://"          # applied to lower(url)
HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
REG_DOMAIN_RE = r"([^.]+\.[^.]+)$"


def _host_col(col: Column, host_re: str = HOST_RE) -> Column:
    """Lowercased, :port-stripped host extracted by `host_re` — the
    single normalization every host consumer shares. '' (not null) on
    no-match so group keys stay total; callers that must DROP
    malformed values filter '' explicitly. (Known simplification,
    shared with the oracle: userinfo 'user@host' and bracketed IPv6
    hosts are not special-cased.)"""
    return F.regexp_replace(F.lower(F.regexp_extract(col, host_re, 1)), r":\d+$", "")


def url_parts(
    pages: DataFrame, url_col: str = "url", keep: bool = True
) -> DataFrame:
    """Decompose `url` into scheme / host / registered domain / path as
    pure codegen columns (no shuffle, no UDF).

    `host` lowercases and strips any `:port` suffix; `reg_domain` is
    the last two dot-labels of the host (a public-suffix-list-free
    approximation that the oracle reproduces exactly — a production
    deployment would swap in a PSL broadcast join). Malformed urls
    (no scheme) yield empty-string parts rather than nulls so
    downstream group keys stay total.
    """
    url = F.col(url_col)
    host = _host_col(url)
    cols = {
        "scheme": F.regexp_extract(F.lower(url), SCHEME_RE, 1),
        "host": host,
        "reg_domain": F.regexp_extract(host, REG_DOMAIN_RE, 1),
        "path": F.regexp_extract(url, PATH_RE, 1),
    }
    out = pages
    for name, col in cols.items():
        out = out.withColumn(name, col)
    return out if keep else out.select(url_col, *cols)


def host_skew_profile(
    pages: DataFrame,
    url_col: str = "url",
    target_partition_rows: int = 1_000_000,
    rank_strategy: str = "auto",
) -> DataFrame:
    """Rank hosts by page share and compute the salt factor a
    host-keyed join/applyInPandas needs: `salt = ceil(n_docs /
    target_partition_rows)` (1 for the long tail). Downstream callers
    broadcast-join this profile back to pages and repartition on
    `(host, pmod(hash(url), salt))` — exactly the salted-repartition
    strategy the north rule names, sized from data instead of guessed.

    Two stages: the host count (one skew-immune hash agg over pages)
    then rank/cumshare over the |hosts|-row aggregate via
    sampling.global_rank — 'auto' counts the host frame once (pinned
    cache) and uses the single-reducer window only while |hosts| is
    genuinely bounded; past the threshold (a real crawl has 10^8-10^9
    hosts) it switches to the two-pass range-partitioned prefix sum
    with no serial stage. Values are identical either way (integer
    rank/cumsum; the shares divide the same BIGINTs).
    """
    counts = url_parts(pages, url_col=url_col, keep=True).groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    from easyner_spark.operators.sampling import global_rank

    ranked = global_rank(
        counts,
        [F.col("n_docs").desc(), F.col("host")],
        rank_col="host_rank",
        cumsum_cols=("n_docs",),
        strategy=rank_strategy,
    )
    # total page count: one scalar agg over the (pinned) host frame,
    # broadcast back — replaces the old whole-frame Window.partitionBy()
    tot = ranked.select(F.sum("n_docs").alias("_T"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "host",
            "n_docs",
            F.col("host_rank").cast("int").alias("host_rank"),
            F.round(F.col("n_docs") / F.col("_T"), 9).alias("share"),
            F.round(F.col("cum_n_docs") / F.col("_T"), 9).alias("cum_share"),
            F.greatest(
                F.lit(1),
                F.ceil(
                    F.col("n_docs") / F.lit(float(target_partition_rows))
                ).cast("int"),
            ).alias("salt"),
        )
    )


def latest_crawl(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    as_of=None,
) -> DataFrame:
    """Crawl-snapshot selection: one row per url — the most recent
    crawl, optionally as-of a cutoff (`warc_ts <= as_of`). This is the
    recrawl-collapse step a Common-Crawl-style corpus needs before any
    per-document stage (the input table holds every fetch of a url;
    training pipelines want exactly one).

    Contract: ties on `ts_col` break toward the LARGEST remaining
    column tuple (struct comparison over the frame's column order) —
    deterministic on null-free frames; the oracle mirrors it as
    `ORDER BY ts DESC, <cols> DESC`.

    Scale shape: `max(struct(ts, rest...))` is an ALGEBRAIC aggregate
    — partial max per input split, ONE shuffle on url. Struct-typed
    buffers aren't hash-aggregatable, so Spark plans a SortAggregate
    (local sort by url inside each split) — still strictly better
    than the row_number-window alternative, which would shuffle EVERY
    replica of every page and then sort each url's full recrawl
    history: here a hot url recrawled billions of times partially
    aggregates down to one candidate row per upstream split before
    the exchange, so recrawl skew never reaches a reducer. The as-of
    predicate is a plain comparison pushed to the scan
    (partition-prunes a warc_ts-partitioned Iceberg table).
    """
    other = [c for c in pages.columns if c not in (url_col, ts_col)]
    df = pages if as_of is None else pages.where(F.col(ts_col) <= F.lit(as_of))
    packed = df.groupBy(url_col).agg(
        F.max(F.struct(F.col(ts_col), *[F.col(c) for c in other])).alias("_s")
    )
    return packed.select(
        url_col,
        F.col(f"_s.{ts_col}").alias(ts_col),
        *[F.col(f"_s.{c}").alias(c) for c in other],
    )


def salted_repartition_by_host(
    pages: DataFrame,
    profile: DataFrame | None = None,
    url_col: str = "url",
    target_partition_rows: int = 1_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Execute the salting strategy `host_skew_profile` diagnoses:
    broadcast-join the (host, salt) profile onto pages and repartition
    on `(host, pmod(xxhash64(url), salt))`, so a hot host's pages
    spread over `salt` reduce partitions while long-tail hosts
    (salt = 1) stay on a single key — exactly the "URL-host skew via
    salted repartitioning" step of the north rule, sized from data.

    If `profile` is None it is computed from `pages` (one extra
    aggregate job — pass a cached/precomputed profile in production;
    the profile is |hosts|-sized driver-safe broadcast data either
    way). Downstream per-host work (applyInPandas politeness batches,
    host-keyed joins) inherits the partitioning; host-level AGGREGATES
    should aggregate the salted partials first (sum over salt cells)
    — a plain host groupBy's partial aggs absorb skew without salting
    (BASELINE.md skew tier).

    The salt expression reuses xxhash64 (JVM codegen, same family as
    the MinHash path) — deterministic, so two runs co-partition.
    """
    if profile is None:
        profile = host_skew_profile(
            pages, url_col=url_col, target_partition_rows=target_partition_rows
        )
    with_host = url_parts(pages, url_col=url_col, keep=True)
    joined = with_host.join(
        F.broadcast(profile.select("host", "salt")), "host", "left"
    )
    salted = joined.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(url_col)), F.coalesce(F.col("salt"), F.lit(1))),
    )
    if num_partitions is not None:
        return salted.repartition(num_partitions, "host", "_salt")
    return salted.repartition("host", "_salt")


def crawl_delta(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """Recrawl change tracking: for every fetch of every url, compare
    against the PREVIOUS fetch of the same url (by `ts_col`) and emit
    `change` in {'new','unchanged','changed'} plus `delta_chars`
    (extracted-text length delta, 0 for first fetch). This is the
    crawl-frequency/freshness signal a recrawl scheduler and an
    incremental KG both consume (only 'changed' pages need re-NER).

    Contract: ordering within a url is by `ts_col` alone — callers
    must not feed duplicate (url, ts) fetches (latest_crawl's struct
    tie-break exists for that collapse); comparison is exact string
    equality on `text_col`, with null text (failed extraction)
    coalesced to '' first — so two consecutive failed fetches compare
    'unchanged' and delta_chars is never null (the streaming twin,
    streaming.stateful_crawl_delta, hashes '' for null and matches
    row for row).

    Scale shape: ONE shuffle (window partitioned by url). Unlike a
    corpus-wide sort, each url sorts only its OWN recrawl history —
    a hot url recrawled millions of times is the bound, not the
    10^12-row table. Production note: at that extreme, compare
    sha2(text) instead of text to keep the shuffled row narrow; the
    text comparison here keeps the oracle byte-identical.
    """
    w = Window.partitionBy(url_col).orderBy(ts_col)
    # lag of the COALESCED text: '' is a real value, so _prev is null
    # ONLY on the first fetch — 'new' detection stays unambiguous
    cur = F.coalesce(F.col(text_col), F.lit(""))
    prev = F.lag(cur).over(w)
    return (
        pages.withColumn("_prev", prev)
        .withColumn(
            "change",
            F.when(F.col("_prev").isNull(), F.lit("new"))
            .when(F.col("_prev") == cur, F.lit("unchanged"))
            .otherwise(F.lit("changed")),
        )
        .withColumn(
            "delta_chars",
            F.when(F.col("_prev").isNull(), F.lit(0)).otherwise(
                F.length(cur) - F.length("_prev")
            ),
        )
        .drop("_prev")
    )
