"""Graph analytics over the materialized KG edge table.

These are the ops `kg.KnowledgeGraph` delegates to: `pagerank`,
`k_hop`, `shortest_paths`, `kg_paths`, `ego_subgraph` and
`core_numbers` (peeling through `k_core`), plus the DuckDB twins the
tests compare them against. `sentence_pairs` builds the co-occurrence
graph the driver-scale `k_core` checks run on.

Spark-first scale notes:

* `sentence_pairs` — NO self-join: sentences collapse to sorted
  distinct term arrays in one shuffle (`collect_set` dedupes, so no
  upstream `distinct` either), and a < b pairs come from a
  slice-explode over the sorted array (plain codegen'd array
  functions — NOT lambda HOFs, which Catalyst interprets per element;
  see the round-3 ivf lesson in BASELINE.md). A sentence with k
  distinct entities emits C(k, 2) pairs in its own task — the same
  per-sentence quadratic a self-join would pay, without the join's
  shuffles.
* `pagerank` — fixed-iteration power method as DataFrame joins
  (GraphFrames-style). Ranks are rounded to 9 dp per iteration: the
  rounding IS the cross-engine float contract (sum order inside one
  iteration differs between engines/partitionings by ~1e-16; rounding
  re-synchronizes state so error cannot compound across iterations).
  `localCheckpoint` per iteration cuts the exploding join lineage,
  same as operators/components.py. Out-degrees are computed once,
  outside the loop. Skew: a celebrity node concentrates its IN-edge
  contributions on one reduce key; partial aggregation absorbs it
  (sum is algebraic — the same reason the skew tier showed unsalted
  rollups winning, BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85


def _sent_term_sets(
    mentions: DataFrame, doc_col: str, sent_col: str, term_col: str
) -> DataFrame:
    """One sorted distinct-term array per sentence — the single
    shuffle sentence_pairs derives from (collect_set dedupes,
    so no upstream distinct; sort_array fixes the a < b order)."""
    return (
        mentions.select(
            F.col(doc_col).alias("doc"),
            F.col(sent_col).alias("sent"),
            F.col(term_col).alias("term"),
        )
        .groupBy("doc", "sent")
        .agg(F.sort_array(F.collect_set("term")).alias("terms"))
    )


def _pairs_from_sets(sets: DataFrame) -> DataFrame:
    """a < b pairs via slice-explode over the sorted array: posexplode
    yields (i, a), slice(terms, i+2, size) yields every later element.
    slice/size are regular codegen'd expressions, not interpreted
    lambda HOFs."""
    return (
        sets.select(F.posexplode("terms").alias("i", "a"), "terms")
        .select(
            "a",
            F.explode(
                F.slice("terms", F.col("i") + F.lit(2), F.size("terms"))
            ).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )


def sentence_pairs(
    mentions: DataFrame,
    doc_col: str = "url",
    sent_col: str = "sent_idx",
    term_col: str = "mention_lc",
) -> DataFrame:
    """Per-sentence unordered distinct-term pairs (a < b) with counts.
    Two shuffles total (sentence grouping + pair rollup), zero joins."""
    return _pairs_from_sets(_sent_term_sets(mentions, doc_col, sent_col, term_col))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = DAMPING,
    state_round: int = 9,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Contract (mirrored verbatim by the DuckDB oracle):
      * edges are DISTINCT (src, dst) directed pairs;
      * nodes = distinct src UNION dst, N = node count;
      * r_0 = round(1/N, state_round);
      * r_{t+1}(n) = round((1-d)/N + d * sum_{m->n} r_t(m)/deg(m),
        state_round) — dangling-node mass is dropped (documented
        choice: no teleport redistribution), nodes without in-edges
        get the (1-d)/N floor.

    The per-iteration rounding is what makes an iterative float
    algorithm oracle-able at all: within one iteration the sum of k
    doubles may differ across engines by ~k ulps, rounding snaps both
    engines back to the identical state before it can compound.

    Scale: deg is computed once; each iteration is one shuffle
    (groupBy dst) plus a rank join keyed on src — with edges
    pre-partitioned on src the join reuses one exchange across all
    iterations. localCheckpoint per iteration caps lineage growth
    exactly as connected_components does.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.repartition("src").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base = (1.0 - damping) / float(n)
    ranks = nodes.select(
        "node", F.round(F.lit(1.0 / float(n)), state_round).alias("rank")
    )
    for _ in range(iters):
        contrib = (
            e.join(deg, "src")
            .join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg").cast("double")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)),
                    state_round,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def k_hop(
    edges: DataFrame,
    k: int = 2,
    sources: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded BFS over the undirected edge set: (source, node, dist)
    with dist = the MINIMUM hop count from `source` to `node`,
    0 <= dist <= k (every source reaches itself at dist 0). `sources`
    is a one-column (node) frame; None means every node of the graph —
    the full k-hop neighborhood table a KG consumer samples
    ("entities within 2 hops of X").

    Scale shape: k joins of the frontier against the symmetric edge
    list, each keyed on the node id (the standard iterative-DataFrame
    BFS — GraphFrames' bfs is the same plan), with a min-dist
    aggregate per round so the frontier never carries duplicate
    (source, node) pairs into the next join. Frontier size is bounded
    by the k-hop neighborhood, not the graph; hot hubs fan out but
    land in the next round's dedup aggregate (partial aggs absorb).
    k is a plan-time constant — no convergence loop, no driver
    checksums."""
    if k < 0:
        raise ValueError("k_hop needs k >= 0")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).where(F.col("a") != F.col("b")).distinct()
    nodes = (
        sources.select(F.col(sources.columns[0]).alias("node")).distinct()
        if sources is not None
        else sym.select(F.col("a").alias("node")).distinct()
    )
    best = nodes.select(
        F.col("node").alias("source"), "node", F.lit(0).cast("long").alias("dist")
    )
    frontier = best
    for d in range(1, k + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["a"])
            .select("source", F.col("b").alias("node"), F.lit(d).cast("long").alias("dist"))
        )
        # keep only genuinely new (source, node) pairs as the next
        # frontier (a shorter path already beat anything rediscovered,
        # so surviving rows carry their MINIMUM dist by construction)
        frontier = nxt.join(best, ["source", "node"], "left_anti").distinct()
        best = best.unionByName(frontier)
    return best


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 8,
) -> DataFrame:
    """(node, deg) — the k-core of an undirected simple graph:
    iteratively peel nodes of degree < k until none remain, emit the
    survivors with their within-core degree. The standard KG pruning
    pass before expensive downstream graph work (paths, centrality,
    embeddings): the periphery of one-off extraction-noise
    entities peels away, the dense evidence core stays.

    Contract (mirrored by the unrolled DuckDB CTE oracle,
    :func:`k_core_oracle_sql`): BOTH engines run at most `max_rounds`
    peeling rounds — a round recomputes degrees on the surviving edge
    set and keeps both-endpoint-surviving edges. Peeling is a
    monotone fixpoint, so once a round removes nothing every further
    round is a no-op; the engine early-stops on a convergence
    checksum while the oracle always unrolls `max_rounds` — identical
    output whenever convergence happens within the cap, and the
    engine CAPS at max_rounds too, so even a non-converged graph
    matches. Tests assert convergence-within-cap at driver scale.

    Scale: each round is one degree rollup (partial-agg absorbed; no
    hot-key risk — count per node, map-side combined) + two
    semi-joins of the edge list against the bounded survivor set,
    localCheckpoint-bounded lineage per round exactly as
    components/pagerank. Rounds needed = peeling depth, typically
    O(log n) on web-ish graphs; pathological chains cost rounds, not
    hot partitions (the components large-star argument).
    """
    if k < 1:
        raise ValueError(f"k_core needs k >= 1: {k}")
    cur = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = cur.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionByName(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= F.lit(k)).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        if n_nxt == n_edges:
            break
        cur, n_edges = nxt, n_nxt
    return (
        cur.select(F.col("a").alias("node"))
        .unionByName(cur.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= F.lit(k))
    )


def k_core_oracle_sql(pairs_cte: str, k: int = 2, max_rounds: int = 8) -> str:
    """DuckDB twin of :func:`k_core`: `max_rounds` peeling rounds
    unrolled as CTE pairs (the pagerank/LPA oracle recipe).
    `pairs_cte` must expose pr(a, b) canonical distinct undirected
    edges. The final WHERE deg >= k mirrors the engine's cap-without-
    convergence behavior bit-for-bit."""
    # every e{i} is referenced 3x by round i+1 — without MATERIALIZED
    # DuckDB inlines the expansion EXPONENTIALLY (3^rounds copies of
    # the base scan; observed as "Too many open files" at 8 rounds)
    parts = [pairs_cte, ",\ne0 AS MATERIALIZED (SELECT a, b FROM pr)"]
    for i in range(1, max_rounds + 1):
        parts.append(f""",
d{i} AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e{i - 1} UNION ALL SELECT b FROM e{i - 1})
  GROUP BY node
),
k{i} AS (SELECT node FROM d{i} WHERE deg >= {k}),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i - 1} e
  JOIN k{i} ka ON e.a = ka.node
  JOIN k{i} kb ON e.b = kb.node
)""")
    parts.append(f"""
SELECT node, count(*)::BIGINT AS deg FROM (
  SELECT a AS node FROM e{max_rounds} UNION ALL SELECT b FROM e{max_rounds})
GROUP BY node HAVING count(*) >= {k}
""")
    return "".join(parts)


def shortest_paths(
    edges: DataFrame,
    landmarks: tuple[str, ...],
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, landmark, dist) — bounded BFS distance from every node
    that can reach a landmark to that landmark along DIRECTED edges
    (node ->* landmark, dist <= k hops; the landmark itself appears
    at dist 0). The GraphFrames `shortestPaths` contract re-expressed
    as plain DataFrame joins — the KG "how far is every entity from
    these hub entities" primitive that k_hop (reachability only)
    doesn't expose.

    Shape: REVERSE frontier expansion — seed one row per landmark,
    then k rounds of edge-join walking edges backwards (if `b` is at
    dist d from a landmark, `a` with a->b is at d+1). First arrival
    is minimal by BFS invariant, enforced by a left_anti against the
    known table, so no min() re-aggregation is needed; each round is
    ONE equi-join + anti-join, `localCheckpoint` cuts the iterative
    lineage exactly like pagerank/components. Integer-exact end to
    end — dist is a hop count.

    Scale: the frontier is |reachable-within-k| x |landmarks| rows at
    worst; landmarks are a small explicit tuple (hub entities, seed
    pages) by contract — the landmark dimension multiplies state, so
    callers with thousands of landmarks should batch them. Hot
    landmark in-degree concentrates on the landmark's frontier rows;
    the equi-join key is the frontier node, which spreads across the
    expanding wavefront after round 1 (no single-reducer pattern).
    """
    if k < 1:
        raise ValueError("shortest_paths needs k >= 1")
    if not landmarks:
        raise ValueError("shortest_paths needs at least one landmark")
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    known = spark.createDataFrame(
        [(m, m, 0) for m in landmarks], ["node", "landmark", "dist"]
    ).select("node", "landmark", F.col("dist").cast("long").alias("dist"))
    frontier = known
    for d in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["b"])
            .select(
                e["a"].alias("node"),
                "landmark",
                F.lit(d).cast("long").alias("dist"),
            )
            .distinct()
        )
        frontier = nxt.join(known, ["node", "landmark"], "left_anti")
        # breaks the e-derived lineage so round d+1's join to e is not
        # an ambiguous self-join (and caps the iterative plan depth)
        frontier = frontier.localCheckpoint(eager=True)
        known = known.unionByName(frontier).localCheckpoint(eager=True)
    return known


def shortest_paths_oracle_sql(
    prefix_cte: str, landmarks: tuple[str, ...], k: int = 3
) -> str:
    """DuckDB twin of :func:`shortest_paths`; `prefix_cte` is a
    complete WITH RECURSIVE chain whose LAST relation is spE(a, b) —
    DISTINCT directed edges, no self loops."""
    seeds = " UNION ALL ".join(f"SELECT '{m}' AS landmark" for m in landmarks)
    return f"""{prefix_cte},
spL AS ({seeds}),
spW(node, landmark, dist) AS (
  SELECT landmark, landmark, 0 FROM spL
  UNION
  SELECT e.a, w.landmark, w.dist + 1
  FROM spW w JOIN spE e ON e.b = w.node
  WHERE w.dist < {k}
)
SELECT node, landmark, min(dist)::BIGINT AS dist
FROM spW GROUP BY node, landmark
"""


def kg_paths(
    edges: DataFrame,
    sources: tuple[str, ...],
    targets: tuple[str, ...],
    max_len: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_frontier_rows: int | None = None,
) -> DataFrame:
    """(src, dst, path, hops) — every SIMPLE directed path (no
    repeated node) of 1..max_len hops from a source-set entity to a
    target-set entity, with the full hop sequence spelled out as
    'a>b>c'. The "how is X connected to Y" explanation query: k_hop
    says THAT two entities connect, this says HOW — the provenance a
    KG consumer shows next to an inferred relation.

    Shape: iterative path-extension joins. Round i joins the round
    i-1 frontier to the edge table on the path head; the simple-path
    guard is a substring test against the '|'-fenced node list
    ('|a|b|' NOT CONTAINS '|b|'), fencing both ends so ids that are
    substrings of other ids cannot false-positive. Every path string
    encodes its complete walk, and edges are deduplicated first, so
    each path is generated exactly once — plain unionByName, no
    dedup shuffles. Integer/string-exact end to end.

    Scale: path enumeration is exponential in max_len by nature —
    this is an EXPLANATION query over a handful of query entities,
    not a corpus sweep; sources/targets are small explicit tuples by
    contract and the source-set filter is the first thing pushed into
    the edge scan. State per round is (paths alive) rows, each a
    short string; hub fan-out inside a round spreads across tasks on
    the join key (path head), the same wavefront argument as
    shortest_paths. localCheckpoint per round cuts the lineage.

    `max_frontier_rows` backstops the explanation-query contract
    (VERDICT r4 #6): each round's frontier is already materialized by
    the localCheckpoint, so counting it is free — if a round exceeds
    the cap (a hub-dense neighborhood the caller didn't expect), the
    operator raises immediately with the round and count instead of
    silently building an exponential path set. None (default) trusts
    the contract, preserving existing plans and oracles.
    """
    if max_len < 1:
        raise ValueError("kg_paths needs max_len >= 1")
    if not sources or not targets:
        raise ValueError("kg_paths needs non-empty sources and targets")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    fence = lambda c: F.concat(F.lit("|"), c, F.lit("|"))  # noqa: E731
    start = e.where(F.col("a").isin(*sources)).select(
        F.col("a").alias("first"),
        F.col("b").alias("node"),
        F.concat(fence(F.col("a")), F.col("b"), F.lit("|")).alias("fenced"),
        F.lit(1).cast("long").alias("hops"),
    )
    def guard(f: DataFrame, hops: int) -> DataFrame:
        if max_frontier_rows is not None:
            n = f.count()  # free: f is an eager localCheckpoint
            if n > max_frontier_rows:
                raise ValueError(
                    f"kg_paths frontier exploded: {n} live paths at "
                    f"{hops} hops > max_frontier_rows="
                    f"{max_frontier_rows} — a hub-dense neighborhood; "
                    f"lower max_len or shrink the source set"
                )
        return f

    paths = guard(start.localCheckpoint(eager=True), 1)
    frontier = paths
    for i in range(2, max_len + 1):
        frontier = guard(
            (
                frontier.join(e, frontier["node"] == e["a"])
                .where(~F.col("fenced").contains(fence(e["b"])))
                .select(
                    "first",
                    e["b"].alias("node"),
                    F.concat(
                        F.col("fenced"), e["b"], F.lit("|")
                    ).alias("fenced"),
                    F.lit(i).cast("long").alias("hops"),
                )
            ).localCheckpoint(eager=True),
            i,
        )
        paths = paths.unionByName(frontier)
    return paths.where(F.col("node").isin(*targets)).select(
        F.col("first").alias("src"),
        F.col("node").alias("dst"),
        F.regexp_replace(
            F.expr("trim(BOTH '|' FROM fenced)"), r"\|", ">"
        ).alias("path"),
        "hops",
    )


def kg_paths_oracle_sql(
    prefix_cte: str,
    sources: tuple[str, ...],
    targets: tuple[str, ...],
    max_len: int = 3,
) -> str:
    """DuckDB twin of :func:`kg_paths`; `prefix_cte` is a complete
    WITH RECURSIVE chain whose LAST relation is kpE(a, b) — DISTINCT
    directed edges, no self loops."""
    src_list = ", ".join(f"'{s}'" for s in sources)
    dst_list = ", ".join(f"'{t}'" for t in targets)
    return f"""{prefix_cte},
kpW(first, node, fenced, hops) AS (
  SELECT a, b, '|' || a || '|' || b || '|', 1
  FROM kpE WHERE a IN ({src_list})
  UNION ALL
  SELECT w.first, e.b, w.fenced || e.b || '|', w.hops + 1
  FROM kpW w JOIN kpE e ON w.node = e.a
  WHERE w.hops < {max_len}
    AND strpos(w.fenced, '|' || e.b || '|') = 0
)
SELECT first AS src, node AS dst,
       replace(trim(fenced, '|'), '|', '>') AS path, hops::BIGINT AS hops
FROM kpW WHERE node IN ({dst_list})
"""


def ego_subgraph(
    edges: DataFrame,
    seeds: tuple[str, ...],
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    pred: str | None = None,
) -> DataFrame:
    """(src, dst) — the k-hop EGO SUBGRAPH around a seed entity set:
    every edge whose BOTH endpoints lie within k undirected hops of
    some seed. The "show me X's neighborhood" export a KG consumer
    renders next to an entity card (entity_summaries gives the facts,
    this gives the local graph), and the standard sampling primitive
    for subgraph-level GNN training data.

    Shape: one k_hop BFS from the seeds (seed tuple is small by
    contract — this is a per-entity/per-query operation, not a corpus
    sweep) gives the member-node set; the induced edges are two
    semi-joins of the edge table against that set. The member set is
    neighborhood-sized, so AQE broadcasts it and the edge scan is
    filtered without a shuffle; hub seeds inflate the member set —
    that IS the query's answer size, and k is the explicit cost knob.
    Output is DISTINCT directed edges (self-loops dropped, matching
    every other edge contract in this module); `pred` optionally
    names a predicate column to carry through (the labeled form
    sinks.graphviz.to_dot renders).
    """
    if not seeds:
        raise ValueError("ego_subgraph needs at least one seed")
    spark = edges.sparkSession
    seed_df = spark.createDataFrame([(s,) for s in seeds], ["node"])
    members = (
        k_hop(edges, k=k, sources=seed_df, src=src, dst=dst)
        .select("node")
        .distinct()
    )
    keep = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    out_cols = ["src", "dst"]
    if pred is not None:
        keep.append(F.col(pred).alias("pred"))
        out_cols.append("pred")
    e = (
        edges.select(*keep)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return e.join(
        F.broadcast(members.withColumnRenamed("node", "src")), "src", "left_semi"
    ).join(
        F.broadcast(members.withColumnRenamed("node", "dst")), "dst", "left_semi"
    ).select(*out_cols)


def ego_subgraph_oracle_sql(
    prefix_cte: str, seeds: tuple[str, ...], k: int = 2
) -> str:
    """DuckDB twin of :func:`ego_subgraph`; `prefix_cte` is a complete
    WITH RECURSIVE chain whose LAST relation is egoE(a, b) — DISTINCT
    directed edges, no self loops."""
    seed_rows = " UNION ALL ".join(f"SELECT '{s}' AS node" for s in seeds)
    return f"""{prefix_cte},
egoSym AS (SELECT a, b FROM egoE UNION SELECT b, a FROM egoE),
egoSeed AS ({seed_rows}),
egoW(node, dist) AS (
  SELECT node, 0 FROM egoSeed
  UNION
  SELECT e.b, w.dist + 1
  FROM egoW w JOIN egoSym e ON w.node = e.a
  WHERE w.dist < {k}
),
egoN AS (SELECT DISTINCT node FROM egoW)
SELECT e.a AS src, e.b AS dst
FROM egoE e
JOIN egoN x ON e.a = x.node
JOIN egoN y ON e.b = y.node
"""


def core_numbers(
    edges: DataFrame,
    k_max: int = 6,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 8,
) -> DataFrame:
    """(node, core) — the full core-number decomposition up to k_max:
    core(n) = the largest k such that n survives k-peeling (nodes in
    deeper cores than k_max report k_max — the bounded-honesty
    contract every iterative operator here uses). The graph-ML node
    feature k_core's single-k membership can't give: coreness is the
    standard engagement/centrality tier (Kitsara et al.'s influential-
    spreader result) and a degree-noise-robust ranking signal.

    Shape: k_max successive k_core peels, each on the PREVIOUS core's
    edge set — the (k+1)-core is a subgraph of the k-core, so each
    peel starts from the already-reduced survivor graph rather than
    the full edge list (the nested-decomposition shortcut; total work
    is the peeling-depth sum, dominated by the k=1 pass). Core
    numbers come from one coalesce over the per-k survivor tables —
    node-vocabulary-sized joins, AQE-broadcast.
    """
    if k_max < 1:
        raise ValueError(f"core_numbers needs k_max >= 1: {k_max}")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("core"))
    )
    cur = e
    for k in range(1, k_max + 1):
        surv = k_core(cur, k=k, src="a", dst="b", max_rounds=max_rounds)
        if not surv.take(1):
            break
        members = surv.select("node").localCheckpoint(eager=True)
        out = (
            out.join(
                F.broadcast(
                    members.select("node", F.lit(k).cast("long").alias("_k"))
                ),
                "node",
                "left",
            )
            .select(
                "node",
                F.coalesce("_k", F.col("core")).alias("core"),
            )
        )
        # restrict the edge set to the surviving core before the
        # next, deeper peel
        cur = (
            cur.join(members.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(members.withColumnRenamed("node", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    return out


def core_numbers_oracle_sql(
    prefix_cte: str, k_max: int = 6, max_rounds: int = 8
) -> str:
    """DuckDB twin of :func:`core_numbers`; `prefix_cte` is a complete
    WITH chain whose LAST relation is cnE(a, b) — DISTINCT undirected
    canonical edges (a < b), no self loops. Unrolls k_max peels of
    max_rounds rounds each (the k_core oracle's unrolled shape,
    stacked; round edge CTEs MATERIALIZED — without it DuckDB inlines
    the multi-referenced rounds exponentially, see k_core_oracle_sql's
    note)."""
    parts = [prefix_cte]
    prev = "cnE"
    sel_terms = []
    for k in range(1, k_max + 1):
        rel = f"cn{k}"
        parts.append(
            f""",
{rel}_r0 AS MATERIALIZED (SELECT a, b FROM {prev})"""
        )
        for r in range(1, max_rounds + 1):
            parts.append(
                f""",
{rel}_d{r} AS (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT a AS node FROM {rel}_r{r - 1}
    UNION ALL SELECT b FROM {rel}_r{r - 1}
  ) GROUP BY node HAVING count(*) >= {k}
),
{rel}_r{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM {rel}_r{r - 1} e
  JOIN {rel}_d{r} x ON e.a = x.node
  JOIN {rel}_d{r} y ON e.b = y.node
)"""
            )
        parts.append(
            f""",
{rel} AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT a AS node FROM {rel}_r{max_rounds}
    UNION ALL SELECT b FROM {rel}_r{max_rounds}
  )
)"""
        )
        prev = f"{rel}_r{max_rounds}"
        sel_terms.append(f"CASE WHEN n.node IN (SELECT node FROM {rel}) THEN {k} ELSE 0 END")
    core_expr = "greatest(" + ", ".join(sel_terms) + ")"
    parts.append(
        f""",
cnN AS (SELECT DISTINCT node FROM (
  SELECT a AS node FROM cnE UNION ALL SELECT b FROM cnE))
SELECT n.node, ({core_expr})::BIGINT AS core
FROM cnN n
"""
    )
    return "".join(parts)
