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


# ---------------------------------------------------------------------------
# Deferred tranche: host rollups, link/anchor extraction, url policy and
# page-structure extractors that no shipped job reaches. Only their own
# tests and tools/surface.py's KEEP map hold them; the next cut deletes
# them together with those tests.
# ---------------------------------------------------------------------------


def host_stats(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Per-host corpus rollup: page count, total/mean text chars, and
    language spread. ONE hash-aggregate shuffle on host; partial
    aggregation absorbs host skew map-side (see module docstring).

    `n_langs` uses a collect_set size rather than countDistinct: the
    countDistinct Expand rewrite doubles the aggregate's input rows
    and resets partitioning (measured round-2 pitfall), while a
    set-union partial agg stays one pass. Language cardinality per
    host is tiny (<200) so the set is bounded.
    """
    df = url_parts(pages, url_col=url_col, keep=True)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(F.col(text_col))).alias("total_chars"),
    ]
    if lang_col is not None:
        aggs.append(F.size(F.collect_set(F.col(lang_col))).alias("n_langs"))
    out = df.groupBy("host").agg(*aggs)
    return out.withColumn(
        "mean_chars",
        F.round(F.col("total_chars") / F.col("n_docs"), 6),
    )
ABS_URL_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*:"   # has a scheme
PROTO_REL_HOST_RE = r"^//([^/?#]+)"


def _target_host_col(href: Column, src_host: Column | None = None) -> Column:
    """The outlink target-host classifier of extract_anchors: absolute
    http(s) and protocol-relative hrefs resolve to their own host, other
    schemes (mailto:, javascript:) to null, relative hrefs to the source
    host (the oracle mirrors the when-chain order exactly)."""
    if src_host is None:
        src_host = F.col("src_host")
    return (
        F.when(href.rlike(r"^[hH][tT][tT][pP][sS]?://"), _host_col(href))
        .when(href.startswith("//"), _host_col(href, PROTO_REL_HOST_RE))
        .when(href.rlike(ABS_URL_RE), F.lit(None).cast("string"))
        .otherwise(src_host)
    )


def host_cocitation(
    hg: DataFrame,
    max_out: int = 32,
) -> DataFrame:
    """Co-citation strength over the host graph: (host_a, host_b,
    n_sources) = how many distinct source hosts link to BOTH — the
    classic relatedness signal (Small 1973) used to cluster mirror /
    affiliate hosts and to propose same-as candidates for KG node
    merging that share no lexical alias.

    Input: a host edge table (src_host, dst_host, n_links).

    The quadratic hazard and its cap: a directory hub linking to 10^5
    hosts would alone emit ~10^10/2 pairs. Per source host we keep
    only the top `max_out` destinations by (n_links DESC, dst_host
    ASC) — a DETERMINISTIC truncation (documented, not silent: hubs
    beyond the cap contribute only their strongest endorsements, which
    is also the signal argument — a 10^5-outlink directory's co-links
    are near-noise). Pair fan-out is then bounded by
    max_out*(max_out-1)/2 per source.

    Plan shape: ONE repartition("src_host") feeds the rank window AND
    the per-source array collect (same prefix clustering — no second
    exchange); pairs come from the in-array i<j transform (bounded by
    the cap, sorted so host_a < host_b), one explode, then the
    pair-key rollup shuffle with map-side partial agg. Two shuffles
    total; no self-join of the raw edge list.
    """
    w = Window.partitionBy("src_host").orderBy(
        F.col("n_links").desc(), F.col("dst_host").asc()
    )
    kept = (
        hg.repartition("src_host")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_out)
    )
    per_src = kept.groupBy("src_host").agg(
        F.array_sort(F.collect_list("dst_host")).alias("dsts")
    )
    n = F.size("dsts")
    pairs = F.flatten(
        F.transform(
            F.col("dsts"),
            lambda x, i: F.transform(
                F.slice(F.col("dsts"), i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("host_a"), y.alias("host_b")),
            ),
        )
    )
    return (
        per_src.where(n >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.host_a").alias("host_a"), F.col("p.host_b").alias("host_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_sources"))
    )


ANCHOR_EL_RE = r'<a href="[^"]*"[^>]*>[^<]*</a>'   # oracle-shared
ANCHOR_HREF_RE = r'href="([^"]*)"'
ANCHOR_TEXT_RE = r">([^<]*)</a>"
ANCHOR_TOKEN_RE = r"[a-z0-9]+"


def extract_anchors(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Anchor extraction: one row per (page url, href, anchor text)
    with the resolved target host — the outlink plus the LINK TEXT,
    the classic web-KG signal (anchor text is how the rest of the web
    NAMES the target; Common-Crawl anchor corpora feed entity-alias
    dictionaries exactly like the reference's NEL alias table,
    EasyNER's data/dictionaries: the alias->ID lookup here is
    built FROM anchors instead of curated lists).

    Crawl-grade simplification: only double-quoted href attributes
    match; elements are matched whole
    (`<a href="..."...>text</a>`) then href/text pulled out per
    element, so the DuckDB oracle can run byte-identical patterns.
    Pure codegen: regexp_extract_all + posexplode, zero shuffle.
    """
    links = pages.select(
        F.col(url_col),
        _host_col(F.col(url_col)).alias("src_host"),
        F.explode(
            F.expr(
                f"regexp_extract_all(cast({html_col} as string), '{ANCHOR_EL_RE}', 0)"
            )
        ).alias("_el"),
    )
    out = links.select(
        F.col(url_col),
        F.col("src_host"),
        F.regexp_extract(F.col("_el"), ANCHOR_HREF_RE, 1).alias("href"),
        F.regexp_extract(F.col("_el"), ANCHOR_TEXT_RE, 1).alias("anchor"),
    )
    return out.withColumn("target_host", _target_host_col(F.col("href"))).where(
        F.col("target_host").isNotNull() & (F.col("target_host") != "")
    )


def anchor_terms(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    drop_self: bool = False,
) -> DataFrame:
    """Per-host anchor-text term profile: (dst_host, term, n) — how
    often each lowercased alphanumeric token appears in anchor text
    pointing AT that host, aggregated over every inlink in the crawl.
    This is the host-level name/alias table a web-scale KG builds its
    entity-canonicalization dictionary from.

    Scale shape: per-row anchor extraction and tokenization fuse into
    the scan (regexp_extract_all, two posexplodes — fan-out bounded by
    links-per-page x tokens-per-anchor); then ONE shuffle, the
    (dst_host, term) rollup, with map-side partial aggregation
    absorbing both hot hosts and stop-word-like common tokens the same
    way host_stats absorbs host skew (partial aggs combine hot keys
    within each split before the exchange).
    """
    a = extract_anchors(pages, html_col=html_col, url_col=url_col)
    if drop_self:
        a = a.where(F.col("src_host") != F.col("target_host"))
    toks = a.select(
        F.col("target_host").alias("dst_host"),
        F.explode(
            # Spark defaults regexp_extract_all's group idx to 1;
            # this pattern has no groups, so idx 0 must be explicit
            # (DuckDB's default IS 0 — the oracle omits it).
            F.expr(f"regexp_extract_all(lower(anchor), '{ANCHOR_TOKEN_RE}', 0)")
        ).alias("term"),
    )
    return toks.groupBy("dst_host", "term").agg(F.count(F.lit(1)).alias("n"))


def host_suffixes(host: Column | str) -> Column:
    """All dot-suffixes of a host with >= 2 labels, most-specific
    first: 'a.b.example.net' -> ['a.b.example.net', 'b.example.net',
    'example.net']. Pure codegen (split + sequence + slice HOFs);
    single-label / empty hosts yield [host] so membership tests stay
    total. Shared contract with the DuckDB oracle
    (list_transform(range(...), i -> array_to_string(parts[i:], '.')))."""
    h = F.col(host) if isinstance(host, str) else host
    parts = F.split(h, r"\.")
    n = F.size(parts)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
        ),
    ).otherwise(F.array(h))


def url_blocklist_filter(
    pages: DataFrame,
    blocked,
    url_col: str = "url",
    keep_blocked: bool = False,
) -> DataFrame:
    """Drop pages whose host matches a blocked domain OR any parent
    domain of it (UT1-blocklist semantics: blocking 'example.org'
    blocks 'blog.example.org'). `blocked` is either

      - a Python sequence of domain strings (the common small-list
        case): membership becomes `arrays_overlap(suffixes, literal)`
        — ZERO shuffle, zero join, scan-fused; or
      - a DataFrame with a `domain` column (multi-million-entry UT1
        dumps): exploded suffix candidates (bounded: label count per
        host) hash-semi-join the broadcast list, then an exact-key
        semi/anti join back — no row explosion survives the join.

    `keep_blocked=True` inverts the gate (audit mode: what WOULD be
    dropped). Hosts are extracted with the engine-wide _host_col
    normalization (lowercase, :port stripped).
    """
    host = _host_col(F.col(url_col))
    sfx = host_suffixes(host)
    if not isinstance(blocked, DataFrame):
        lst = sorted(set(blocked))
        hit = F.arrays_overlap(sfx, F.array(*[F.lit(d) for d in lst]))
        return pages.where(hit if keep_blocked else ~hit)
    cand = pages.select(F.col(url_col), F.explode(sfx).alias("domain"))
    hits = (
        cand.join(F.broadcast(blocked.select("domain")), "domain", "left_semi")
        .select(url_col)
        .distinct()
    )
    how = "left_semi" if keep_blocked else "left_anti"
    return pages.join(hits, url_col, how)


def resolve_redirects(
    redirects: DataFrame,
    max_steps: int = 8,
    url_col: str = "url",
    target_col: str = "target",
) -> DataFrame:
    """Resolve HTTP redirect chains to their final landing url by
    pointer doubling: (url, final_url, hops, status) where `status` is
    'resolved' when a terminal url (one with no outgoing redirect) is
    reached within `max_steps` redirect hops, else 'unresolved'
    (redirect cycle or over-long chain — the case a crawler's
    --max-redirs cap abandons). `hops` = exact redirect steps taken to
    the terminal for resolved rows, and exactly `max_steps` for
    unresolved rows (both engines walk exactly min(chain, max_steps)
    steps, so values hash-match the oracle).

    `redirects` is the functional edge table (url -> target, one row
    per redirecting url — a url never has two Location headers in one
    crawl snapshot; if a recrawl produced duplicates, last-wins them
    upstream with `latest_crawl`). Non-redirecting pages are simply
    absent: any target with no row of its own is terminal.

    Scale shape: log2(max_steps) self-join rounds instead of max_steps
    sequential lookups — J_k maps every url to the node it reaches
    after exactly min(2^k, chain) steps, and one equi-join of J_k with
    itself composes to J_{k+1}. Each round is ONE shuffle keyed on the
    jump target; finished rows bypass the join entirely (union back,
    no dead weight on the probe side). localCheckpoint per round
    bounds lineage the way components/bpe_merges do. At 10^12 urls a
    redirect table is a few percent of the corpus and chains are
    policy-capped (curl defaults --max-redirs 50 → 6 rounds); the
    frontier only shrinks. max_steps must be a power of two so the
    unresolved-row hop count is exact.
    """
    if max_steps < 1 or (max_steps & (max_steps - 1)) != 0:
        raise ValueError("max_steps must be a power of two >= 1")
    r = redirects.select(
        F.col(url_col).alias("url"), F.col(target_col).alias("cur")
    )
    keys = r.select(F.col("url").alias("k"))
    # J_0: one step taken; done iff the landing url has no outgoing row
    j = (
        r.join(keys, r["cur"] == keys["k"], "left")
        .select(
            "url",
            "cur",
            F.lit(1).cast("long").alias("hops"),
            F.col("k").isNull().alias("done"),
        )
        .localCheckpoint(eager=False)
    )
    rounds = max_steps.bit_length() - 1  # log2(max_steps)
    for _ in range(rounds):
        fin = j.where(F.col("done"))
        act = j.where(~F.col("done"))
        right = j.select(
            F.col("url").alias("r_url"),
            F.col("cur").alias("r_cur"),
            F.col("hops").alias("r_hops"),
            F.col("done").alias("r_done"),
        )
        # an active row's cur ALWAYS has an outgoing row (that is what
        # done=false means), so the composing join is inner
        jumped = act.join(right, act["cur"] == right["r_url"]).select(
            "url",
            F.col("r_cur").alias("cur"),
            (F.col("hops") + F.col("r_hops")).alias("hops"),
            F.col("r_done").alias("done"),
        )
        j = fin.unionByName(jumped).localCheckpoint(eager=False)
    return j.select(
        "url",
        F.col("cur").alias("final_url"),
        "hops",
        F.when(F.col("done"), F.lit("resolved"))
        .otherwise(F.lit("unresolved"))
        .alias("status"),
    )
SITEMAP_LOC_RE = r"<loc>([^<]*)</loc>"
SITEMAP_LASTMOD_RE = r"<lastmod>([^<]*)</lastmod>"


# ---------------------------------------------------------------------------
# Per-host template (site-boilerplate) detection
# ---------------------------------------------------------------------------

def host_templates(
    pages: DataFrame,
    min_host_pages: int = 3,
    min_frac_pct: int = 50,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Site-template mining: newline paragraphs that appear on at
    least `min_frac_pct`% of a host's pages (and on >= 2 pages of a
    host with >= `min_host_pages` pages) are that site's template —
    nav bars, cookie banners, footers that trafilatura-style
    extraction missed. Output: (host, para, n_pages, host_pages), one
    row per (host, template paragraph). This is the PER-SITE
    complement of dedup.paragraph_dedup's corpus-wide first-occurrence
    rule: a host's template should be dropped from EVERY page of that
    host (strip_host_templates), not kept once on the crawl-order
    first page.

    Input contract: one row per url (run latest_crawl first) —
    host_pages counts rows.

    Exactness: the fraction gate is an integer cross-multiply
    (n_pages * 100 >= min_frac_pct * host_pages); no floats anywhere.

    Scale (3 shuffles, all skew-safe): (1) per-(host, digest, url)
    collapse — a paragraph repeated WITHIN one page counts once; key
    includes url, so uniform however hot the host or the paragraph;
    (2) per-(host, digest) count over the already-collapsed rows —
    count/min are algebraic, partial aggs absorb a template shared by
    every page of a 10^8-page host; (3) the per-host page-total
    rollup, joined back on host (AQE-decided: the totals side is
    |hosts| rows). Paragraph text crosses an exchange only inside the
    min(struct) buffer, once.
    """
    host = _host_col(F.col(url_col))
    paras = pages.select(
        F.col(url_col).alias("_url"),
        host.alias("host"),
        F.explode(F.split(F.col(text_col), "\n")).alias("_para"),
    )
    per_page = paras.groupBy(
        "host", F.sha2(F.col("_para"), 256).alias("_d"), "_url"
    ).agg(F.min("_para").alias("_para"))
    counts = per_page.groupBy("host", "_d").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.min("_para").alias("para"),
    )
    totals = (
        pages.select(host.alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("host_pages"))
    )
    return (
        counts.join(totals, "host")
        .where(
            (F.col("host_pages") >= min_host_pages)
            & (F.col("n_pages") >= 2)
            & (F.col("n_pages") * 100 >= min_frac_pct * F.col("host_pages"))
        )
        .select("host", "para", "n_pages", "host_pages")
    )


def strip_host_templates(
    pages: DataFrame,
    templates: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Remove a host's template paragraphs from every page of that
    host: (url, text_stripped, n_paras, n_kept); text_stripped = ''
    when the page was pure template. Join is a LEFT ANTI on (host,
    paragraph digest) — the templates side is bounded (per-host
    template sets are small), so AQE broadcasts it; paragraph text
    never crosses the anti-join exchange, only digests do."""
    host = _host_col(F.col(url_col))
    paras = pages.select(
        F.col(url_col).alias(url_col),
        host.alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pidx", "_para"),
    )
    tmpl = templates.select(
        "host", F.sha2(F.col("para"), 256).alias("_d")
    ).distinct()
    kept = paras.withColumn("_d", F.sha2(F.col("_para"), 256)).join(
        tmpl, ["host", "_d"], "left_anti"
    )
    rebuilt = kept.groupBy(url_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("_pidx").alias("p"), F.col("_para").alias("t")
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            "\n",
        ).alias("text_stripped"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    totals = pages.select(
        F.col(url_col),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_paras"),
    )
    return totals.join(rebuilt, url_col, "left").select(
        F.col(url_col),
        F.coalesce(F.col("text_stripped"), F.lit("")).alias("text_stripped"),
        "n_paras",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )


def host_templates_oracle_sql(
    pages_sql: str,
    min_host_pages: int = 3,
    min_frac_pct: int = 50,
) -> str:
    """DuckDB twin of host_templates; `pages_sql` yields (url, text).
    Host extraction is the same HOST_RE regex (shared verbatim)."""
    return f"""
WITH pg AS ({pages_sql}),
h AS (
  SELECT url, text, regexp_replace(
           lower(regexp_extract(url, '{HOST_RE}', 1)),
           ':\\d+$', '') AS host
  FROM pg
),
paras AS (
  SELECT host, url, unnest(string_split(text, chr(10))) AS para FROM h
),
pp AS (SELECT host, url, para FROM paras GROUP BY host, url, para),
cnt AS (
  SELECT host, para, count(*)::BIGINT AS n_pages
  FROM pp GROUP BY host, para
),
tot AS (SELECT host, count(*)::BIGINT AS host_pages FROM h GROUP BY host)
SELECT c.host, c.para, c.n_pages, t.host_pages
FROM cnt c JOIN tot t ON c.host = t.host
WHERE t.host_pages >= {min_host_pages}
  AND c.n_pages >= 2
  AND c.n_pages * 100 >= {min_frac_pct} * t.host_pages
"""


def host_spam_signals(
    edges: DataFrame, drop_self: bool = True
) -> DataFrame:
    """Link-farm / spam-host signals per source host over the host
    graph (a (src_host, dst_host, n_links) edge table):
    (host, n_out, fanout, top_share_pct, reciprocity_pct) where n_out
    = total outlinks, fanout = distinct target hosts, top_share_pct =
    the single hottest target's share of all outlinks (a host pushing
    most links at one target is promoting it), reciprocity_pct = % of
    targets that link back (link-exchange rings reciprocate;
    organic linking mostly doesn't). Self-loops are dropped by
    default — a site linking to itself is navigation, not spam
    evidence. Percentages are exact BIGINT floor divisions (x * 100
    div y); no floats.

    Scale (2 shuffles + 1 bounded self-join): the per-src rollup is
    algebraic (sum/count/max partial aggs absorb a hub host's
    millions of edge rows map-side); reciprocity is a left-semi
    self-join on the COMPOSITE (src_host, dst_host) key — uniform
    however hot either host, because the edge table already collapsed
    multiplicity into n_links — followed by the same algebraic
    rollup; the final signals join is per-host rows, AQE-decided.
    """
    e = edges.select("src_host", "dst_host", "n_links")
    if drop_self:
        e = e.where(F.col("src_host") != F.col("dst_host"))
    base = e.groupBy("src_host").agg(
        F.sum("n_links").cast("long").alias("n_out"),
        F.count(F.lit(1)).cast("long").alias("fanout"),
        F.max("n_links").cast("long").alias("_mx"),
    )
    rev = e.select(
        F.col("dst_host").alias("src_host"),
        F.col("src_host").alias("dst_host"),
    )
    recip = (
        e.join(rev, ["src_host", "dst_host"], "left_semi")
        .groupBy("src_host")
        .agg(F.count(F.lit(1)).cast("long").alias("_nr"))
    )
    return (
        base.join(recip, "src_host", "left")
        .select(
            F.col("src_host").alias("host"),
            "n_out",
            "fanout",
            F.expr("_mx * 100 div n_out").alias("top_share_pct"),
            F.expr("coalesce(_nr, 0) * 100 div fanout").alias(
                "reciprocity_pct"
            ),
        )
    )


def host_spam_signals_oracle_sql(
    with_prefix: str, drop_self: bool = True
) -> str:
    """DuckDB twin of host_spam_signals; `with_prefix` is a WITH
    chain ending in a CTE `hg` that yields (src_host, dst_host,
    n_links) — the host edge table shape."""
    self_pred = "WHERE src_host != dst_host" if drop_self else ""
    return f"""{with_prefix},
e AS (SELECT src_host, dst_host, n_links FROM hg {self_pred}),
base AS (
  SELECT src_host, sum(n_links)::BIGINT AS n_out,
         count(*)::BIGINT AS fanout, max(n_links)::BIGINT AS mx
  FROM e GROUP BY src_host
),
recip AS (
  SELECT a.src_host, count(*)::BIGINT AS nr
  FROM e a JOIN e b
    ON a.src_host = b.dst_host AND a.dst_host = b.src_host
  GROUP BY a.src_host
),
j AS (SELECT b.*, coalesce(r.nr, 0) AS nr
      FROM base b LEFT JOIN recip r ON b.src_host = r.src_host)
SELECT src_host AS host, n_out, fanout,
       mx * 100 // n_out AS top_share_pct,
       nr * 100 // fanout AS reciprocity_pct
FROM j
"""


# Open Graph / social-card contract (same crawl-grade double-quoted
# fixed-attribute-order class as the other head extractors)
OG_EL_RE = r'<meta property="og:[a-z_:]+" content="[^"]*"'
OG_PROP_RE = r'property="og:([a-z_:]+)"'
OG_CONTENT_RE = r'content="([^"]*)"'


def extract_opengraph(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Open Graph metadata per page: (url, prop, content) for every
    og:* meta element — the social/entity-card layer (og:title,
    og:type, og:image, og:url, ...) that complements extract_meta's
    title/description/canonical. og:type is the poor man's entity
    typing for KG node profiles (article vs profile vs video), and
    og:url is a FOURTH url-equivalence evidence source (feed
    (url, content) rows where prop = 'url' to url_equivalence as
    redirect-shaped edges). Repeated properties (og:image galleries)
    emit one row each, document order preserved by prop_idx.

    Zero shuffle: regexp_extract_all over lower(html) + one
    posexplode, all scan-fused codegen.
    """
    els = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(
            F.expr(
                f"regexp_extract_all(lower(cast({html_col} as string)),"
                f" '{OG_EL_RE}', 0)"
            )
        ).alias("prop_idx", "_el"),
    )
    return els.select(
        "url",
        "prop_idx",
        F.regexp_extract(F.col("_el"), OG_PROP_RE, 1).alias("prop"),
        F.regexp_extract(F.col("_el"), OG_CONTENT_RE, 1).alias("content"),
    )


def extract_opengraph_oracle_sql(pages_sql: str) -> str:
    """DuckDB twin of extract_opengraph; `pages_sql` yields
    (url, html) with html TEXT."""
    return f"""
WITH pg AS ({pages_sql}),
h AS (SELECT url, lower(html) AS lh FROM pg),
e AS (SELECT url,
        regexp_extract_all(lh,
          '<meta property="og:[a-z_:]+" content="[^"]*"', 0) AS els
      FROM h)
SELECT url, u.i::INT AS prop_idx,
       regexp_extract(u.v, 'property="og:([a-z_:]+)"', 1) AS prop,
       regexp_extract(u.v, 'content="([^"]*)"', 1) AS content
FROM (SELECT url, unnest(list_transform(range(0, len(els)),
        i -> {{'i': i, 'v': els[(i+1)::INT]}})) AS u FROM e)
"""


# JSON-LD contract: the <script type="application/ld+json"> wrapper is
# matched literally (real CMSes emit it lowercase); payload text keeps
# ORIGINAL case — schema.org @type values are case-significant
# ("Person" != "person"). Field pulls are the crawl-grade regex class:
# top-level-ish string values only, nested markup/json tolerated as
# opaque text.
JSONLD_BLOCK_RE = r'(?s)<script type="application/ld\+json">(.*?)</script>'
JSONLD_TYPE_RE = r'"@type"\s*:\s*"([^"]*)"'


def url_templates(
    pages: DataFrame,
    url_col: str = "url",
    min_urls: int = 2,
) -> DataFrame:
    """URL path-template profile: (host, template, n_urls) where
    template is the path with digit runs folded to '{N}' and
    long hex runs (8+) to '{H}' — '/post/8231/comments' and
    '/post/977/comments' share '/post/{N}/comments'. The
    crawler-trap / URL-space map: a template with millions of urls on
    one host is a calendar trap, a session-id space, or a database
    enumeration — exactly what a frontier scheduler caps BEFORE
    fetching (compose with polite_quota / per_host_cap), and what
    recrawl scheduling treats as one logical collection. Query
    strings are dropped (tracking-dominated; canonical_url territory);
    templates below `min_urls` are noise and omitted.

    Scale: template derivation is a scan-fused regexp chain (zero
    shuffle); ONE algebraic (host, template) rollup — the composite
    key keeps a hot host's partitions uniform, and partial aggs
    absorb a trap template's millions of rows map-side (the rollup's
    output is the CURE for the very skew it would otherwise have).
    """
    host = _host_col(F.col(url_col))
    path = F.regexp_replace(
        F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1),
        r"^$", "/",
    )
    tmpl = F.regexp_replace(path, r"[0-9a-f]{8,}", "{H}")
    tmpl = F.regexp_replace(tmpl, r"[0-9]+", "{N}")
    return (
        pages.select(host.alias("host"), tmpl.alias("template"))
        .groupBy("host", "template")
        .agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
        .where(F.col("n_urls") >= min_urls)
    )


def url_templates_oracle_sql(pages_sql: str, min_urls: int = 2) -> str:
    """DuckDB twin of url_templates; `pages_sql` yields (url)."""
    return f"""
WITH pg AS ({pages_sql}),
t AS (
  SELECT regexp_replace(lower(regexp_extract(url, '{HOST_RE}', 1)),
           ':\\d+$', '') AS host,
    regexp_replace(regexp_replace(regexp_replace(
      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      '^$', '/'),
      '[0-9a-f]{{8,}}', '{{H}}', 'g'),
      '[0-9]+', '{{N}}', 'g') AS template
  FROM pg
)
SELECT host, template, count(*)::BIGINT AS n_urls
FROM t GROUP BY host, template
HAVING count(*) >= {min_urls}
"""


def template_cap(
    pages: DataFrame,
    cap: int = 100,
    url_col: str = "url",
) -> DataFrame:
    """Trap-aware frontier capping: keep at most `cap` urls per
    (host, path-template) — the operational consumer of
    url_templates' map: the calendar trap contributes `cap` urls to
    the fetch schedule instead of millions, while small templates
    pass through untouched. Selection is a deterministic uniform pick
    (md5(url) rank — a frontier has no quality column yet), so two
    schedulers agree on the same survivors. Output: the surviving
    (url, host, template) rows.

    ONE window shuffle on the composite (host, template) key; the
    trap template IS the hot key, which is exactly why it must be
    capped — per the sampling module's hot-key contract this is the
    single-shuffle formulation (measured against groupBy+join-back in
    tools/skew_bench.py's url tier; the window wins when every row
    needs its group's verdict).
    """
    host = _host_col(F.col(url_col))
    path = F.regexp_replace(
        F.regexp_extract(
            F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1
        ),
        r"^$", "/",
    )
    tmpl = F.regexp_replace(
        F.regexp_replace(path, r"[0-9a-f]{8,}", "{H}"), r"[0-9]+", "{N}"
    )
    base = pages.select(
        F.col(url_col).alias("url"), host.alias("host"), tmpl.alias("template")
    )
    w = Window.partitionBy("host", "template").orderBy(
        F.md5(F.col("url")), F.col("url")
    )
    return (
        base.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= cap)
        .drop("_r")
    )


def template_cap_oracle_sql(pages_sql: str, cap: int = 100) -> str:
    """DuckDB twin of template_cap; `pages_sql` yields (url)."""
    return f"""
WITH pg AS ({pages_sql}),
t AS (
  SELECT url,
    regexp_replace(lower(regexp_extract(url, '{HOST_RE}', 1)),
      ':\\d+$', '') AS host,
    regexp_replace(regexp_replace(regexp_replace(
      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      '^$', '/'),
      '[0-9a-f]{{8,}}', '{{H}}', 'g'),
      '[0-9]+', '{{N}}', 'g') AS template
  FROM pg
),
r AS (
  SELECT url, host, template,
    row_number() OVER (PARTITION BY host, template
                       ORDER BY md5(url), url) AS rn
  FROM t
)
SELECT url, host, template FROM r WHERE rn <= {cap}
"""


# heading contract: h1-h6, text is the [^<]* run (nested markup ends
# the heading — same tolerance class as the table cells)
HEADING_EL_RE = r"<h([1-6])[^>]*>([^<]*)</h[1-6]>"


def extract_headings(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Document outline extraction: (url, heading_idx, level, text)
    per h1-h6 element in document order — the structure layer for
    section-aware chunking (split training documents at h2 boundaries
    instead of blind fixed windows), TOC generation, and
    heading-based topic signals (a page's h1 is a title-grade entity
    surface next to page_entities' three sources). Text is
    whitespace-trimmed and lowercased (the canonical comparison
    form); empty headings dropped.

    Zero shuffle: one regexp_extract_all + posexplode + scan-fused
    pulls.
    """
    els = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(
            F.expr(
                f"regexp_extract_all(lower(cast({html_col} as string)),"
                f" '{HEADING_EL_RE}', 0)"
            )
        ).alias("heading_idx", "_el"),
    )
    return els.select(
        "url",
        "heading_idx",
        F.regexp_extract(F.col("_el"), r"<h([1-6])", 1)
        .cast("int")
        .alias("level"),
        F.trim(F.regexp_extract(F.col("_el"), HEADING_EL_RE, 2)).alias(
            "text"
        ),
    ).where(F.col("text") != "")


def extract_headings_oracle_sql(pages_sql: str) -> str:
    """DuckDB twin of extract_headings; `pages_sql` yields (url, html)."""
    return f"""
WITH pg AS ({pages_sql}),
e AS (SELECT url,
        regexp_extract_all(lower(html),
          '<h([1-6])[^>]*>([^<]*)</h[1-6]>', 0) AS els
      FROM pg),
x AS (SELECT url, u.i::INT AS heading_idx,
        regexp_extract(u.v, '<h([1-6])', 1)::INT AS level,
        trim(regexp_extract(u.v, '<h([1-6])[^>]*>([^<]*)</h[1-6]>', 2))
          AS text
      FROM (SELECT url, unnest(list_transform(range(0, len(els)),
              i -> {{'i': i, 'v': els[(i+1)::INT]}})) AS u FROM e))
SELECT * FROM x WHERE text != ''
"""
LIST_ITEM_RE = r"<li[^>]*>([^<]*)</li>"


# sitemap-index contract: <sitemap> blocks (the nesting level above
# sitemap_parse's <url> blocks), same element-then-field pattern
SITEMAP_IDX_RE = r"<sitemap>[\s\S]*?</sitemap>"


def sitemap_index_parse(
    indexes: DataFrame,
    url_col: str = "url",
    xml_col: str = "sitemap_xml",
) -> DataFrame:
    """Sitemap INDEX parser — the nesting level sitemap_parse doesn't
    cover: big sites shard their urls across child sitemaps and
    announce them in a <sitemapindex> of <sitemap><loc> entries (the
    spec caps each child at 50k urls, so any large site HAS an
    index). Output: (index_url, child_sitemap, lastmod) — feed the
    children back through fetch + sitemap_parse to complete the
    discovery recursion; lastmod gates which shards need refetching
    (the stale_announcements shape one level up). Entries without a
    <loc> are dropped (spec-invalid).

    Zero shuffle: one regexp_extract_all + explode per index."""
    blocks = indexes.select(
        F.col(url_col).alias("index_url"),
        F.explode(
            F.expr(
                f"regexp_extract_all(cast({xml_col} as string),"
                f" r'{SITEMAP_IDX_RE}', 0)"  # r'': keep \s\S literal
            )
        ).alias("_b"),
    )
    return blocks.select(
        "index_url",
        F.nullif(
            F.regexp_extract(F.col("_b"), SITEMAP_LOC_RE, 1), F.lit("")
        ).alias("child_sitemap"),
        F.nullif(
            F.regexp_extract(F.col("_b"), SITEMAP_LASTMOD_RE, 1), F.lit("")
        ).alias("lastmod"),
    ).where(F.col("child_sitemap").isNotNull())


def sitemap_index_parse_oracle_sql(indexes_sql: str) -> str:
    """DuckDB twin of sitemap_index_parse; `indexes_sql` yields
    (url, sitemap_xml)."""
    return f"""
WITH ix AS ({indexes_sql}),
b AS (SELECT url AS index_url,
        unnest(regexp_extract_all(sitemap_xml,
          '<sitemap>[\\s\\S]*?</sitemap>', 0)) AS blk
      FROM ix)
SELECT index_url,
  nullif(regexp_extract(blk, '<loc>([^<]*)</loc>', 1), '')
    AS child_sitemap,
  nullif(regexp_extract(blk, '<lastmod>([^<]*)</lastmod>', 1), '')
    AS lastmod
FROM b
WHERE nullif(regexp_extract(blk, '<loc>([^<]*)</loc>', 1), '') IS NOT NULL
"""


# page-declaration contract (same double-quoted fixed-format class)
DECL_HTML_LANG_RE = r'<html[^>]* lang="([^"]*)"'
DECL_OG_LOCALE_RE = r'<meta property="og:locale" content="([^"]*)"'
DECL_CHARSET_RE = r'<meta charset="([^"]*)"'


def page_declarations(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Self-declared page metadata: (url, html_lang, og_locale,
    charset) from the <html lang> attribute, og:locale, and <meta
    charset> — the DECLARED side of the declared-vs-detected QA pair:
    join against textstats.lang_id and a page whose declaration
    disagrees with its content flags mislabeled boilerplate,
    scraped/machine-translated text, or a template bug (and
    hreflang_clusters members whose html_lang contradicts their
    declared variant are mislabeled translations). Values lowercased;
    NULL when absent.

    Zero shuffle: three scan-fused pulls over lower(html).
    """
    h = F.lower(F.col(html_col).cast("string"))
    return pages.select(
        F.col(url_col).alias("url"),
        F.nullif(
            F.regexp_extract(h, DECL_HTML_LANG_RE, 1), F.lit("")
        ).alias("html_lang"),
        F.nullif(
            F.regexp_extract(h, DECL_OG_LOCALE_RE, 1), F.lit("")
        ).alias("og_locale"),
        F.nullif(
            F.regexp_extract(h, DECL_CHARSET_RE, 1), F.lit("")
        ).alias("charset"),
    )


def page_declarations_oracle_sql(pages_sql: str) -> str:
    """DuckDB twin of page_declarations; `pages_sql` yields
    (url, html)."""
    return f"""
WITH pg AS ({pages_sql}),
h AS (SELECT url, lower(html) AS lh FROM pg)
SELECT url,
  nullif(regexp_extract(lh, '<html[^>]* lang="([^"]*)"', 1), '')
    AS html_lang,
  nullif(regexp_extract(lh, '<meta property="og:locale" content="([^"]*)"', 1), '')
    AS og_locale,
  nullif(regexp_extract(lh, '<meta charset="([^"]*)"', 1), '') AS charset
FROM h
"""


# breadcrumb contract: schema.org BreadcrumbList JSON-LD, the dominant
# machine-readable breadcrumb on the web. A block is a breadcrumb
# trail iff its FIRST "@type" value (extract_jsonld's `type`
# semantics) is BreadcrumbList; items are fixed-format ListItem
# objects — double-quoted, position-then-name — matched whole, fields
# re-pulled per item (the meta-refresh tolerance class).
BREADCRUMB_ITEM_RE = (
    r'\{"@type": "ListItem", "position": (\d+), "name": "([^"]*)"\}'
)


def extract_breadcrumbs(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Site-declared taxonomy trails: (url, block_idx, position, name)
    per ListItem of every schema.org BreadcrumbList JSON-LD block —
    publishers declaring 'Home > Science > Biology > this page' hand
    the KG a curated hierarchy no NER pass can match for precision.
    Feeds breadcrumb_edges (corpus-wide parent->child rollup), which
    composes with mined_taxonomy/isa_closure exactly as sameas_clusters
    composes with NEL: declared structure first, mined structure where
    pages declare nothing. `block_idx` is the page's ld+json block
    index (document order, shared with extract_jsonld); `position` is
    the 1-based trail position the publisher declared; `name` is
    case-preserved.

    Zero shuffle: block regexp_extract_all + posexplode + first-@type
    gate + item regexp_extract_all + posexplode + scan-fused pulls.
    """
    blocks = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(
            F.expr(
                f"regexp_extract_all(cast({html_col} as string),"
                f" r'{JSONLD_BLOCK_RE}', 1)"
            )
        ).alias("block_idx", "payload"),
    ).where(
        F.regexp_extract(F.col("payload"), JSONLD_TYPE_RE, 1)
        == "BreadcrumbList"
    )
    items = blocks.select(
        "url",
        "block_idx",
        F.posexplode(
            F.expr(f"regexp_extract_all(payload, r'{BREADCRUMB_ITEM_RE}', 0)")
        ).alias("_item_idx", "_item"),
    )
    return items.select(
        "url",
        "block_idx",
        F.regexp_extract(F.col("_item"), BREADCRUMB_ITEM_RE, 1)
        .cast("int")
        .alias("position"),
        F.regexp_extract(F.col("_item"), BREADCRUMB_ITEM_RE, 2).alias(
            "name"
        ),
    )


def breadcrumb_edges(
    crumbs: DataFrame, min_pages: int = 1
) -> DataFrame:
    """Corpus-wide declared-taxonomy rollup over extract_breadcrumbs
    output: (parent, child, n_pages) for every ADJACENT pair within a
    trail (prev position == position - 1; a publisher skipping a
    position breaks the chain there by design — a gap means the trail
    is malformed, and inventing an edge across it would fabricate
    hierarchy). Names are lowercased for the rollup (the engine-wide
    canonical comparison form); n_pages counts DISTINCT urls so a
    page repeating a trail in two blocks votes once.

    Plan: one window shuffle on the fine-grained (url, block_idx)
    trail key (skew-free: a trail is a handful of rows), then the
    standard two-phase distinct rollup on (parent, child) — partial
    aggs absorb hot edges ('home' -> anything) map-side.
    """
    w = Window.partitionBy("url", "block_idx").orderBy("position")
    adj = crumbs.select(
        "url",
        F.lag("position").over(w).alias("_prev_pos"),
        F.lag("name").over(w).alias("_prev_name"),
        "position",
        "name",
    ).where(F.col("_prev_pos") == F.col("position") - 1)
    return (
        adj.select(
            F.lower("_prev_name").alias("parent"),
            F.lower("name").alias("child"),
            "url",
        )
        .distinct()
        .groupBy("parent", "child")
        .agg(F.count("*").alias("n_pages"))
        .where(F.col("n_pages") >= min_pages)
    )


# soft-404 phrase contract: lowercased alternation, shared verbatim
# with the oracle. Phrases follow the classic Bar-Yossef et al. (WWW
# 2004, "Sic transit gloria telae") observation that error pages
# self-identify textually even when the server says 200.
SOFT404_RE = (
    "(page not found|404 not found|404 error|error 404"
    "|does not exist|no longer available|nothing was found)"
)


def soft404_signals(
    pages: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    max_chars: int = 600,
) -> DataFrame:
    """Soft-404 detection: (url, n_chars, hit_phrase, url_404,
    is_soft404) — error pages served with HTTP 200 are a classic
    crawl-corpus poison (they exact-dup across every dead URL of a
    host and their text is pure noise for NER/KG). Signals: an
    error-phrase hit in the extracted text (SOFT404_RE on lower),
    a '404'/'not-found' URL path segment, and shortness
    (< max_chars). `is_soft404` = phrase hit AND short — the
    conservative gate; downstream can also group by exact content
    hash (dedup.exact_dup_groups) to catch a host's entire dead-URL
    class once one page is flagged.

    Zero shuffle: pure scan-fused codegen columns, pushdown-safe.
    """
    txt = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    hit = F.lower(txt).rlike(SOFT404_RE)
    url_404 = F.lower(F.col(url_col)).rlike("(/404([/.]|$)|not-found)")
    n = F.length(txt)
    return pages.select(
        F.col(url_col).alias("url"),
        n.alias("n_chars"),
        hit.alias("hit_phrase"),
        url_404.alias("url_404"),
        (hit & (n < max_chars)).alias("is_soft404"),
    )


# section contract: a section starts at each <h1>-<h6> open tag; the
# split sentinel is \x01 (cannot occur in page text -- WARC/parquet
# strings are control-char-free by the extraction contract). RE2 (the
# oracle) has no lookahead, so the split marker is injected with
# regexp_replace instead of a (?=...) split.
SECTION_SENTINEL = "\x01"


def section_lists(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """List-page mining, section-scoped: (url, section_idx, heading,
    item_idx, item) -- every <li> item associated with its NEAREST
    PRECEDING heading ('Top frameworks' -> [spark, flink, trino]).
    The positional association is the signal extract_lists (page-
    scoped) discards: a list is only a membership claim when a
    heading names the class. Lists before any heading carry a NULL
    heading (kept: they're still extract_lists-grade items).
    heading/item are lowercased+trimmed, empties dropped.

    Zero shuffle: mark heading starts with a sentinel
    (regexp_replace), split -> posexplode sections, first-heading +
    item pulls per section -- all scan-fused codegen.
    """
    marked = F.regexp_replace(
        F.lower(F.col(html_col).cast("string")),
        "<h([1-6])",
        SECTION_SENTINEL + "<h$1",
    )
    secs = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(F.split(marked, SECTION_SENTINEL)).alias(
            "section_idx", "_sec"
        ),
    )
    items = secs.select(
        "url",
        "section_idx",
        F.nullif(
            F.trim(F.regexp_extract(F.col("_sec"), HEADING_EL_RE, 2)),
            F.lit(""),
        ).alias("heading"),
        F.posexplode(
            F.expr(f"regexp_extract_all(_sec, '{LIST_ITEM_RE}', 1)")
        ).alias("item_idx", "_raw"),
    )
    return items.select(
        "url",
        "section_idx",
        "heading",
        "item_idx",
        F.trim(F.col("_raw")).alias("item"),
    ).where(F.col("item") != "")


def list_memberships(
    sections: DataFrame, min_pages: int = 1
) -> DataFrame:
    """Corpus-wide membership rollup over section_lists output:
    (topic, member, n_pages) -- a heading naming a class plus its list
    items is the web's bulk is-a/member-of assertion format
    ('Programming languages: - python - rust'). Composes with
    mined_taxonomy/isa_closure the same way breadcrumb_edges does:
    one more declared-structure feeder for the KG. NULL-heading
    sections are excluded (no class to assert); one vote per page.

    One rollup shuffle after the per-page distinct (partial aggs
    absorb hot topics map-side).
    """
    return (
        sections.where(F.col("heading").isNotNull())
        .select(
            F.col("heading").alias("topic"),
            F.col("item").alias("member"),
            "url",
        )
        .distinct()
        .groupBy("topic", "member")
        .agg(F.count("*").alias("n_pages"))
        .where(F.col("n_pages") >= min_pages)
    )


# microdata patterns (flat pulls; shared verbatim with the oracle)
MICRO_TYPE_RE = r'itemscope[^>]*itemtype="([^"]*)"'
MICRO_PROP_EL_RE = r'<[a-z0-9]+[^>]*itemprop="[^"]*"[^>]*>'
MICRO_PROP_RE = r'itemprop="([^"]*)"'
MICRO_CONTENT_RE = r'content="([^"]*)"'


def extract_microdata(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, item_type, prop_idx, prop, content) — schema.org
    MICRODATA pulls, the third structured-data syntax next to
    extract_jsonld and extract_opengraph (the three together cover
    essentially all schema.org deployment): every itemprop element's
    name + content attribute, tagged with the page's FIRST itemtype.

    FLAT contract, stated honestly: nested itemscopes are not scoped
    (every itemprop on the page attributes to the first itemtype;
    elements carrying their value in text rather than a content
    attribute emit content='') — the same pragmatic flattening
    page_entities applies to JSON-LD @graph. Zero shuffle: two regex
    pulls + one posexplode over lower(html), scan-fused codegen.
    """
    base = pages.select(
        F.col(url_col).alias("url"),
        F.lower(F.col(html_col).cast("string")).alias("_h"),
    )
    return base.select(
        "url",
        F.regexp_extract(F.col("_h"), MICRO_TYPE_RE, 1).alias("item_type"),
        F.posexplode(
            F.expr(f"regexp_extract_all(_h, '{MICRO_PROP_EL_RE}', 0)")
        ).alias("prop_idx", "_el"),
    ).select(
        "url",
        "item_type",
        F.col("prop_idx").cast("long").alias("prop_idx"),
        F.regexp_extract(F.col("_el"), MICRO_PROP_RE, 1).alias("prop"),
        F.regexp_extract(F.col("_el"), MICRO_CONTENT_RE, 1).alias("content"),
    )


# the five XML-predefined entities + the three numerically-common web
# ones; ORDER MATTERS (&amp; last, or '&amp;lt;' would double-decode)
_HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&#x27;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_unescape(col) -> "Column":
    """Column expression decoding the common HTML entities (&lt;
    &gt; &quot; &#39; &#x27; &nbsp; &amp;) — the normalization web
    text needs before any equality-keyed operator (exact_dedup,
    anchor_terms, alias joins: 'AT&amp;T' and 'AT&T' must hash
    identically). A fixed chain of literal replace()s — no regex, no
    UDF, stays in codegen — with &amp; decoded LAST so double-encoded
    text ('&amp;lt;') decodes one level per pass, exactly like the
    reference decoders.
    """
    c = F.col(col) if isinstance(col, str) else col
    for ent, ch in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def host_reciprocity(
    host_edges: DataFrame, src: str = "src_host", dst: str = "dst_host"
) -> DataFrame:
    """(host, n_out, n_recip, recip_micro) — per-host link reciprocity
    over the host graph: the fraction of a host's distinct outlink
    targets that link back. The classic link-farm fingerprint (organic
    sites link out far more than back; reciprocal-link rings built for
    rank manipulation sit near 1.0), complementing host_spam_signals'
    content-side tests with a pure graph-side one — TrustRank-era spam
    taxonomy (Gyongyi et al. 2004 classify reciprocal link exchange as
    the basic farm primitive).

    Contract: edges dedup to distinct directed (src, dst) host pairs,
    self-loops dropped; n_out = distinct targets, n_recip = targets t
    with (t, src) also present (left-semi against the reversed edge
    set); recip_micro = n_recip * 1e6 div n_out (exact integer
    micro-fraction, the host_lang_mix pct convention).

    Scale shape: one distinct over host pairs (bounded by the host
    graph, orders of magnitude under page count), ONE self-semi-join
    on the (dst, src) key, one partial-agg rollup per src. A hub host
    with millions of outlinks is a big GROUP, not a hot reducer row —
    count aggregates combine map-side.

    Reference parity: EasyNER has no link graph (no analog anywhere in
    scripts/); north_star crawl-hygiene surface over a host edge table.
    """
    e = (
        host_edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    recip = e.join(rev, ["s", "d"], "left_semi").groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_recip")
    )
    out = e.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("n_out"))
    return (
        out.join(recip, "s", "left")
        .select(
            F.col("s").alias("host"),
            "n_out",
            F.coalesce("n_recip", F.lit(0)).cast("long").alias("n_recip"),
            F.expr("(coalesce(n_recip, 0) * 1000000) div n_out").alias(
                "recip_micro"
            ),
        )
    )
