"""Graph analytics over the materialized KG edge/mention tables.

The north_star materializes deduplicated node/edge tables; these
operators are the downstream KG-analytics layer a consumer runs on
them (edge weighting, centrality, cohesion). The reference pipeline
stops at frequency rollups (supplementary/experiment_scripts/
cooccurrence_analysis.py computes pair counts only); PMI / PageRank /
triangles are the standard next steps in the KG-construction
literature, added here beyond-reference with full DuckDB value
oracles.

Spark-first scale notes (100 TB framing):

* `edge_pmi` — NO self-join at all: sentences collapse to sorted
  distinct term arrays in one shuffle (`collect_set` dedupes, so no
  upstream `distinct` either), and a < b pairs come from a
  slice-explode over the sorted array (plain codegen'd array
  functions — NOT lambda HOFs, which Catalyst interprets per element;
  see the round-3 ivf lesson in BASELINE.md). Pair counts, marginals
  and the sentence total all derive from that ONE grouped
  intermediate, whose exchange canonicalizes off the parquet scan and
  is reused across the three consumers. Marginals are
  vocabulary-sized (<< corpus), so their joins are AQE-broadcast in
  practice; the scalar sentence total is a broadcast 1-row cross
  join — never `.collect()`. A sentence with k distinct entities
  emits C(k, 2) pairs in its own task — the same per-sentence
  quadratic a self-join would pay, without the join's shuffles.
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
* `triangle_counts` — canonical-ordering wedge join (a < b < c),
  the standard MapReduce triangle enumeration: ordering each wedge at
  its smallest endpoint bounds wedge generation at sum(deg_min^2)
  instead of sum(deg^2); the residual hot key (one node inside many
  triangles) is again absorbed by partial aggregation. Integer-exact
  end to end — the safest possible oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85


def _sent_term_sets(
    mentions: DataFrame, doc_col: str, sent_col: str, term_col: str
) -> DataFrame:
    """One sorted distinct-term array per sentence — the single
    shuffle every edge_pmi consumer derives from (collect_set dedupes,
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


def edge_pmi(
    mentions: DataFrame,
    doc_col: str = "url",
    sent_col: str = "sent_idx",
    term_col: str = "mention_lc",
) -> DataFrame:
    """PMI / NPMI edge weights over sentence-level co-occurrence.

    For terms a < b with pair count c_ab, marginal sentence counts
    c_a, c_b, and N = number of distinct sentences containing at
    least one term:

        pmi  = ln((c_ab * N) / (c_a * c_b))      (natural log)
        npmi = pmi / -ln(c_ab / N)

    Cross-engine float contract: every count is cast to double BEFORE
    any arithmetic, products/quotients of exactly-representable
    integers (< 2^53) are exact, and both outputs are round(·, 6) —
    the repo-wide oracle rounding (see similarity oracles). The only
    libm call is ln(), identical input both sides, <= 1 ulp apart.
    """
    sets = _sent_term_sets(mentions, doc_col, sent_col, term_col)
    pairs = _pairs_from_sets(sets)
    marg = (
        sets.select(F.explode("terms").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n_df = sets.agg(F.count(F.lit(1)).cast("double").alias("n_sents"))
    j = (
        pairs.join(marg.select(F.col("term").alias("a"), F.col("cnt").alias("ca")), "a")
        .join(marg.select(F.col("term").alias("b"), F.col("cnt").alias("cb")), "b")
        .crossJoin(F.broadcast(n_df))
    )
    ratio = (F.col("pair_cnt").cast("double") * F.col("n_sents")) / (
        F.col("ca").cast("double") * F.col("cb").cast("double")
    )
    pmi_raw = F.log(ratio)
    npmi_raw = pmi_raw / -F.log(F.col("pair_cnt").cast("double") / F.col("n_sents"))
    return j.select(
        "a",
        "b",
        F.col("pair_cnt").cast("long").alias("pair_cnt"),
        F.col("ca").cast("long").alias("cnt_a"),
        F.col("cb").cast("long").alias("cnt_b"),
        F.round(pmi_raw, 6).alias("pmi"),
        F.round(npmi_raw, 6).alias("npmi"),
    )


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


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration synchronous label propagation (community
    detection; Raghavan et al. 2007) over an undirected edge list,
    made fully deterministic so a value oracle can check it.

    Contract (mirrored verbatim by the DuckDB oracle):
      * the graph is symmetrized: (src,dst) and (dst,src), distinct,
        self-loops dropped; nodes = distinct endpoints;
      * label_0(n) = n (its own id);
      * label_{t+1}(n) = the most frequent label among n's neighbors
        at t, ties broken by SMALLEST label string — no self-vote, no
        random order (the two determinism holes in textbook LPA);
      * exactly `iters` synchronous rounds — no convergence test, so
        both engines run the identical schedule.

    vs connected_components: components converge to per-component min
    ids (pure reachability); LPA's neighbor-majority keeps densely
    linked clusters together but lets long chains fragment into
    communities — the standard alias-clustering refinement when pure
    transitivity over-merges (the "common alias" worst case in
    components.py would become ONE component; LPA splits it).

    Scale: per iteration ONE join keyed on the neighbor endpoint
    (rank-table-sized, co-partitioned with the symmetrized edge list
    which is repartitioned once outside the loop) plus one two-level
    aggregate: the (node,label) vote count partially aggregates
    map-side, and the argmin is `min(struct(-cnt, label))` — an
    algebraic aggregate, NOT a row_number window, so no node-keyed
    global sort and hub-node skew is absorbed map-side like every
    other rollup here. localCheckpoint caps the iterative lineage.
    """
    fwd = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
    rev = edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    und = (
        fwd.unionByName(rev)
        .where(F.col("node") != F.col("nbr"))
        .distinct()
        .repartition("nbr")
        .localCheckpoint(eager=True)
    )
    nodes = und.select("node").distinct().localCheckpoint(eager=True)
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iters):
        votes = (
            und.join(labels.select(F.col("node").alias("nbr"), "label"), "nbr")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
                ).alias("s")
            )
            .select("node", F.col("s.label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected graph.

    Canonicalizes to a < b, enumerates wedges at the smallest endpoint
    (a < b < c), closes them against the edge list, then credits each
    triangle to all three corners. Every node that appears in the
    (canonical) edge list is emitted, zero-count nodes included —
    integer-exact, so the oracle is hash-safe by construction."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    w1 = und.select(F.col("a"), F.col("b"))
    w2 = und.select(F.col("a"), F.col("b").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    tri = wedges.join(
        und.select(F.col("a").alias("b"), F.col("b").alias("c")), ["b", "c"]
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    all_nodes = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .distinct()
    )
    return all_nodes.join(corners, "node", "left").select(
        "node", F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles")
    )


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


def isa_closure(
    edges: DataFrame,
    src: str = "child",
    dst: str = "parent",
    max_depth: int = 16,
) -> DataFrame:
    """Transitive closure of a DIRECTED is-a / subclass-of edge set:
    (node, anc, depth) for every ancestor reachable in 1..max_depth
    steps, depth = the MINIMUM path length. The taxonomy primitive KG
    consumers query constantly ("all diseases this is a kind of") and
    the type-propagation substrate for entity_types.

    Contrast with k_hop (sequential rounds, undirected, per-source):
    this is min-plus matrix SQUARING — each round joins the path table
    with ITSELF, so paths of length <= 2^r exist after r rounds and a
    depth-16 taxonomy closes in 4 joins instead of 16 frontier
    expansions. Correctness of the recurrence: any minimal path of
    length L <= 2^(r+1) splits at floor(L/2) into halves of length
    <= 2^r, both present (inductively) with their own minimal depths;
    the min() dedup per (node, anc) keeps exactly the shortest.
    Minimal paths are simple, so dropping node==anc rows (cycle
    round-trips, a data bug in a taxonomy) each round loses nothing
    and caps blowup on cyclic garbage.

    Scale: per round ONE self-equi-join keyed on the join column (anc
    = node — uniform unless one class parents everything, in which
    case AQE skew-split handles the build side) + ONE min() groupBy
    dedup whose partial aggs absorb fan-in; the path table is
    localCheckpoint'ed each round so lineage stays O(1) across the
    log2(max_depth) rounds (pointer doubling). The closure
    table itself is the output product — its size, not the algorithm,
    is the 100-TB budget item, and `max_depth` is the explicit knob.

    Exactness: depth is an integer min over integer sums — no floats.
    """
    if max_depth < 1:
        raise ValueError("isa_closure needs max_depth >= 1")
    base = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("anc"))
        .where(F.col("node") != F.col("anc"))
        .distinct()
        .withColumn("depth", F.lit(1).cast("long"))
    )
    paths = base.localCheckpoint(eager=True)
    rounds = max(1, (max_depth - 1).bit_length())  # ceil(log2(max_depth))
    for _ in range(rounds):
        a, b = paths.alias("a"), paths.alias("b")
        ext = (
            a.join(b, F.col("a.anc") == F.col("b.node"))
            .select(
                F.col("a.node").alias("node"),
                F.col("b.anc").alias("anc"),
                (F.col("a.depth") + F.col("b.depth")).alias("depth"),
            )
            .where((F.col("depth") <= max_depth) & (F.col("node") != F.col("anc")))
        )
        paths = (
            paths.unionByName(ext)
            .groupBy("node", "anc")
            .agg(F.min("depth").alias("depth"))
            .localCheckpoint(eager=True)
        )
    return paths


def isa_closure_oracle_sql(with_prefix: str, max_depth: int = 16) -> str:
    """DuckDB twin of isa_closure; `with_prefix` is a complete WITH
    chain whose LAST relation is e(child, parent) and which MUST begin
    `WITH RECURSIVE` (the keyword attaches to the WITH list head, not
    to individual CTEs — and per the repo's pinned DuckDB quirk every
    UNION under it compiles as UNION ALL, so dedup is explicit here).
    Depth-capped recursive walk with the min() taken OUTSIDE the
    recursion; min walks are simple, so the value matches the doubling
    recurrence exactly."""
    assert with_prefix.lstrip().upper().startswith("WITH RECURSIVE"), (
        "isa_closure_oracle_sql prefix must start WITH RECURSIVE"
    )
    return f"""{with_prefix},
walk(node, anc, depth) AS (
  SELECT child, parent, 1 FROM e WHERE child <> parent
  UNION ALL
  SELECT w.node, e.parent, w.depth + 1
  FROM walk w JOIN e ON w.anc = e.child
  WHERE w.depth < {max_depth}
)
SELECT node, anc, min(depth)::BIGINT AS depth
FROM walk WHERE node <> anc
GROUP BY node, anc
"""


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """(a, b, common, aa_q6, adamic_adar) — common-neighbor /
    Adamic-Adar link prediction over an undirected simple graph: for
    every node pair that is NOT an edge but shares >= min_common
    neighbors, score how strongly the neighborhood overlap predicts a
    missing edge. The KG-completion step after extraction: entities
    that co-occur with the same partners but never with each other are
    the candidate edges a curation pass reviews (Liben-Nowell & 
    Kleinberg 2003).

        common      = |N(a) ∩ N(b)|                    (BIGINT)
        aa_q6       = sum_z floor(1e6 / ln(deg(z)))    (BIGINT, exact)
        adamic_adar = aa_q6 / 1e6                      (per-row float)

    Oracle-parity recipe 2 (quantize-before-summing): the classic
    Adamic-Adar sum of 1/ln(deg) floats is quantized to integer
    micro-units PER WEDGE CENTER before the cross-row sum, so the
    reduction is exact in any order; ln acts on an integer degree —
    identical IEEE operand and parenthesization in both engines. A
    wedge center z has >= 2 distinct neighbors by construction, so
    ln(deg) >= ln 2 and the quotient is finite — no guard needed.

    Relational shape (zero wedge JOIN — the _pairs_from_sets trick):
    canonicalize + distinct the edge list (localCheckpoint'ed: it
    feeds both candidate generation and the final anti-join, and an
    eager checkpoint stops Spark recomputing its whole upstream
    twice), collect each wedge center's sorted distinct neighbor
    array in ONE keyed shuffle — the degree is then just
    size(array), so the classic degree-rollup-plus-join disappears —
    and slice-explode the a < b pairs with the center's quantized
    weight riding along as a plain column. One more keyed shuffle for
    the (a, b) rollup, then an AQE-decided anti-join against the
    checkpointed edges. Measured against the self-join formulation:
    12 exchanges -> 4 (plan audit, BASELINE.md).

    Scale: a wedge center z explodes deg(z)^2 candidate rows inside
    one task — the SAME quadratic hot-key shape as
    name_similarity_edges' stopword grams (BASELINE.md hot-gram tier,
    1.7x at 10k rows and growing with n), and identical for the
    self-join formulation (an equi-join colocates z's rows in one
    partition too). `max_degree` is the measured answer: drop
    super-hub wedge CENTERS from candidate generation (a node
    adjacent to a third of the graph predicts nothing — its
    1/ln(deg) weight is ~0 anyway, so the cut loses the
    least-informative evidence first). At crawl scale set it;
    None = exact.
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = canon.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        canon.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    centers = adj.groupBy(F.col("node").alias("z")).agg(
        F.sort_array(F.collect_set("nbr")).alias("nbrs")
    )
    if max_degree is not None:
        centers = centers.where(F.size("nbrs") <= F.lit(max_degree))
    centers = centers.where(F.size("nbrs") >= 2).select(
        "nbrs",
        F.floor(F.lit(1_000_000.0) / F.log(F.size("nbrs").cast("double")))
        .cast("long")
        .alias("wq"),
    )
    wedges = centers.select(
        F.posexplode("nbrs").alias("i", "a"), "nbrs", "wq"
    ).select(
        "a",
        F.explode(F.slice("nbrs", F.col("i") + F.lit(2), F.size("nbrs"))).alias("b"),
        "wq",
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common"), F.sum("wq").alias("aa_q6")
    )
    return (
        scored.join(canon, ["a", "b"], "left_anti")
        .where(F.col("common") >= F.lit(min_common))
        .select(
            "a",
            "b",
            "common",
            "aa_q6",
            (F.col("aa_q6") / F.lit(1_000_000.0)).alias("adamic_adar"),
        )
    )


def link_prediction_oracle_sql(pairs_cte: str, min_common: int = 1) -> str:
    """DuckDB twin of :func:`link_prediction` (max_degree=None).
    `pairs_cte` must expose a relation `pr(a, b)` of canonical
    distinct undirected edges (a < b); the body mirrors the operator's
    wedge/quantize/anti-join shape with the identical ln operand."""
    return f"""{pairs_cte},
adj AS (SELECT a AS node, b AS nbr FROM pr UNION ALL SELECT b, a FROM pr),
deg AS (SELECT node AS z, count(*)::BIGINT AS deg FROM adj GROUP BY node),
wz AS (SELECT z, CAST(floor(1000000.0 / ln(deg::DOUBLE)) AS BIGINT) AS wq FROM deg),
hop AS (SELECT adj.nbr AS z, adj.node, wz.wq FROM adj JOIN wz ON adj.nbr = wz.z),
wedges AS (
  SELECT l.node AS a, r.node AS b, l.wq
  FROM hop l JOIN hop r ON l.z = r.z AND l.node < r.node
),
scored AS (
  SELECT a, b, count(*)::BIGINT AS common, sum(wq)::BIGINT AS aa_q6
  FROM wedges GROUP BY a, b
)
SELECT s.a, s.b, s.common, s.aa_q6, s.aa_q6 / 1000000.0 AS adamic_adar
FROM scored s ANTI JOIN pr ON s.a = pr.a AND s.b = pr.b
WHERE s.common >= {min_common}
"""


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
    pass before expensive downstream graph work (LPA, triangles,
    link prediction): the periphery of one-off extraction-noise
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


def wl_labels(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
) -> DataFrame:
    """(node, wl_label) — fixed-iteration Weisfeiler-Lehman node
    relabeling over an undirected simple graph: label_0 = degree,
    label_{t+1} = md5(own || '|' || sorted multiset of neighbor
    labels) truncated to 8 hex chars. Nodes sharing a label after t
    rounds are structurally indistinguishable to depth t — the
    classic cheap structural-role feature (1-WL / color refinement;
    Shervashidze et al. 2011): in a KG it separates hub entities,
    bridge entities and leaf noise without any embedding model, and
    the labels are JOIN keys (group structurally-equivalent entities)
    rather than floats.

    Exact by construction: labels are STRINGS built from integer
    degrees by md5 — no float anywhere, so the DuckDB oracle
    (:func:`wl_labels_oracle_sql`) matches bit-for-bit; sort order on
    hex strings is plain byte order in both engines.

    Scale: per iteration ONE keyed shuffle (neighbor-label rollup;
    collect_list is bounded by the max degree — the same hot-center
    bound as link_prediction, and the same `max_degree`-style upstream
    cut applies if a graph has super-hubs) plus an AQE-decided join of
    the bounded label table onto the adjacency; localCheckpoint per
    round caps lineage exactly as pagerank/components.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0: {iters}")
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = canon.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        canon.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    lab = (
        adj.groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select("node", F.col("deg").cast("string").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        nbr_lbl = adj.join(
            lab.select(F.col("node").alias("nbr"), F.col("lbl").alias("nlbl")), "nbr"
        )
        rolled = nbr_lbl.groupBy("node").agg(
            F.array_join(F.sort_array(F.collect_list("nlbl")), ",").alias("ns")
        )
        lab = (
            lab.join(rolled, "node")
            .select(
                "node",
                F.substring(
                    F.md5(F.concat(F.col("lbl"), F.lit("|"), F.col("ns"))), 1, 8
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    return lab.select("node", F.col("lbl").alias("wl_label"))


def wl_labels_oracle_sql(pairs_cte: str, iters: int = 2) -> str:
    """DuckDB twin of :func:`wl_labels` (unrolled rounds, MATERIALIZED
    against exponential CTE inlining — the k_core_oracle_sql lesson).
    `pairs_cte` must expose pr(a, b) canonical distinct undirected
    edges. string_agg(.. ORDER BY) = Spark's sort_array+array_join on
    ASCII labels (both byte-order)."""
    parts = [
        pairs_cte,
        """,
adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM pr UNION ALL SELECT b, a FROM pr),
l0 AS MATERIALIZED (
  SELECT node, CAST(count(*) AS VARCHAR) AS lbl FROM adj GROUP BY node
)""",
    ]
    for i in range(1, iters + 1):
        parts.append(f""",
r{i} AS (
  SELECT adj.node, string_agg(p.lbl, ',' ORDER BY p.lbl) AS ns
  FROM adj JOIN l{i - 1} p ON adj.nbr = p.node
  GROUP BY adj.node
),
l{i} AS MATERIALIZED (
  SELECT l.node, substr(md5(l.lbl || '|' || r{i}.ns), 1, 8) AS lbl
  FROM l{i - 1} l JOIN r{i} ON l.node = r{i}.node
)""")
    parts.append(f"""
SELECT node, lbl AS wl_label FROM l{iters}
""")
    return "".join(parts)


def kg_negatives(
    triples: DataFrame,
    k: int = 2,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    rank_strategy: str = "auto",
) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training
    (TransE/DistMult-style): per true triple, k object-corrupted
    candidates (subj, pred, obj_neg, slot), with accidental positives
    and self-corruptions FILTERED out (the standard filtered-LCWA
    contract — downstream loss code must not assume exactly k rows per
    triple). The replacement object is picked by a 32-bit md5 index
    into the rank-ordered object vocabulary, so sampling is
    bit-reproducible across engines, reruns, and resumes — no RNG
    state, no seed plumbing (the engine's deterministic-sample rule).

    Scale shape: the object vocabulary is one distinct shuffle; its
    rank assignment rides sampling.global_rank — 'auto' keeps the
    one-reducer window while the vocab is bounded and switches to the
    two-pass range prefix-rank past the threshold (a web-scale entity
    vocab is 10^8-10^9 rows; same values either way).
    Candidate generation is a zero-shuffle posexplode fan-out of k;
    the idx->entity lookup joins on the rank key (AQE decides
    broadcast — the vocab is small next to k*|triples|); the filter
    anti-joins the true triple set on its natural key.
    """
    from pyspark.sql import Window

    t = triples.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    )
    from easyner_spark.operators.sampling import global_rank

    vocab = global_rank(
        t.select(F.col("obj").alias("entity")).distinct(),
        [F.col("entity").asc()],
        rank_col="rank",
        strategy=rank_strategy,
    ).withColumn("rank", F.col("rank") - 1)
    n = vocab.select(F.count(F.lit(1)).cast("long").alias("_n"))
    cand = (
        t.crossJoin(F.broadcast(n))
        .select(
            "subj",
            "pred",
            "obj",
            "_n",
            F.posexplode(F.array_repeat(F.lit(1), k)).alias("slot", "_one"),
        )
        .select(
            "subj",
            "pred",
            "obj",
            F.col("slot").cast("long").alias("slot"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|", "subj", "pred", "obj", F.col("slot").cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("_n")
            ).alias("rank"),
        )
    )
    joined = cand.join(vocab, "rank").select(
        "subj", "pred", F.col("entity").alias("obj_neg"), "slot", "obj"
    )
    true_keys = t.select("subj", "pred", F.col("obj").alias("obj_neg")).distinct()
    return (
        joined.where(F.col("obj_neg") != F.col("obj"))
        .join(true_keys, ["subj", "pred", "obj_neg"], "left_anti")
        .select("subj", "pred", "obj_neg", "slot")
    )


def kg_negatives_oracle_sql(triples_sql: str, k: int = 2) -> str:
    """DuckDB twin of kg_negatives; `triples_sql` must yield
    (subj, pred, obj). Same md5-32 index, same rank-ordered vocab,
    same filtered-LCWA drops."""
    slots = ", ".join(str(i) for i in range(k))
    return f"""
WITH t AS ({triples_sql}),
vocab AS (
  SELECT entity, row_number() OVER (ORDER BY entity) - 1 AS rank
  FROM (SELECT DISTINCT obj AS entity FROM t)
),
n AS (SELECT count(*) AS nn FROM vocab),
cand AS (
  SELECT subj, pred, obj, slot,
         ('0x' || substr(md5(subj || '|' || pred || '|' || obj || '|' || slot),
                         1, 8))::BIGINT % nn AS rank
  FROM t CROSS JOIN n CROSS JOIN (SELECT unnest([{slots}]) AS slot)
),
joined AS (
  SELECT c.subj, c.pred, v.entity AS obj_neg, c.slot::BIGINT AS slot, c.obj
  FROM cand c JOIN vocab v USING (rank)
)
SELECT subj, pred, obj_neg, slot
FROM joined j
WHERE j.obj_neg != j.obj
  AND NOT EXISTS (SELECT 1 FROM t
                  WHERE t.subj = j.subj AND t.pred = j.pred
                    AND t.obj = j.obj_neg)
"""


def kg_random_walks(
    edges: DataFrame,
    walk_len: int = 3,
    walks_per_node: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DeepWalk-style random-walk corpus over the directed edge set —
    the skip-gram training input for node embeddings, in long format:
    (start, walk, step, node) with step 0..walk_len (step 0 = start).
    Walks are DETERMINISTIC: at step t the neighbor index is
    h32(md5(start|walk|t|cur)) % outdegree(cur) into the rank-ordered
    adjacency — bit-reproducible across engines/reruns (the engine's
    no-RNG sampling rule), decorrelated across walks and steps by the
    hash input. Dangling nodes (no outgoing edge) end the walk early:
    later steps are simply absent.

    Scale shape: walk_len is a plan-time constant — walk_len unrolled
    step joins, each TWO bounded equi-joins (state->degree to compute
    the index, then (node, idx)->adjacency to land on exactly one
    neighbor; never a fan-out join over a hub's whole neighbor list).
    Adjacency ranking is a row_number window PARTITIONED by the source
    node — distributed, hot hubs bounded by their own degree. The walk
    frontier is |starts| * walks_per_node rows at every step — it
    never grows.
    """
    from pyspark.sql import Window

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    ranked = e.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("a").orderBy("b")).cast("long") - 1,
    )
    deg = e.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("dg"))
    starts = (
        e.select("a")
        .distinct()
        .select(
            F.col("a").alias("start"),
            F.posexplode(F.array_repeat(F.lit(1), walks_per_node)).alias(
                "walk", "_one"
            ),
        )
        .select("start", F.col("walk").cast("long").alias("walk"))
    )
    state = starts.withColumn("cur", F.col("start"))
    parts = [
        state.select(
            "start", "walk", F.lit(0).cast("long").alias("step"),
            F.col("cur").alias("node"),
        )
    ]
    for t in range(1, walk_len + 1):
        hx = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("start"),
                        F.col("walk").cast("string"),
                        F.lit(str(t)),
                        F.col("cur"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        picked = (
            state.join(deg, state["cur"] == deg["a"])
            .select("start", "walk", "cur", (hx % F.col("dg")).alias("idx"))
        )
        state = (
            picked.join(
                ranked,
                (picked["cur"] == ranked["a"]) & (picked["idx"] == ranked["idx"]),
            )
            .select("start", "walk", F.col("b").alias("cur"))
        )
        parts.append(
            state.select(
                "start", "walk", F.lit(t).cast("long").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def kg_random_walks_oracle_sql(
    edges_sql: str, walk_len: int = 3, walks_per_node: int = 2
) -> str:
    """DuckDB twin of kg_random_walks; `edges_sql` must yield (a, b).
    Same rank-ordered adjacency, same md5-32 neighbor index, unrolled
    to walk_len steps."""
    walks = ", ".join(str(i) for i in range(walks_per_node))
    steps_sql = []
    prev = "s0"
    for t in range(1, walk_len + 1):
        steps_sql.append(f"""
s{t} AS (
  SELECT p.start, p.walk, r.b AS cur
  FROM (
    SELECT s.start, s.walk, s.cur,
           ('0x' || substr(md5(s.start || '|' || s.walk || '|{t}|' || s.cur),
                           1, 8))::BIGINT % d.dg AS idx
    FROM {prev} s JOIN deg d ON s.cur = d.a
  ) p
  JOIN ranked r ON r.a = p.cur AND r.idx = p.idx
)""")
        prev = f"s{t}"
    selects = ["SELECT start, walk, 0 AS step, cur AS node FROM s0"] + [
        f"SELECT start, walk, {t} AS step, cur AS node FROM s{t}"
        for t in range(1, walk_len + 1)
    ]
    return f"""
WITH e AS (SELECT DISTINCT a, b FROM ({edges_sql})),
ranked AS (
  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS idx
  FROM e
),
deg AS (SELECT a, count(*) AS dg FROM e GROUP BY a),
s0 AS (
  SELECT a AS start, walk, a AS cur
  FROM (SELECT DISTINCT a FROM e)
  CROSS JOIN (SELECT unnest([{walks}]) AS walk)
),{",".join(steps_sql)}
SELECT start, walk::BIGINT AS walk, step::BIGINT AS step, node
FROM ({" UNION ALL ".join(selects)})
"""


def walk_skipgrams(
    walks: DataFrame,
    window: int = 2,
) -> DataFrame:
    """Skip-gram pair counts from a random-walk corpus (the word2vec
    training input DeepWalk feeds to its embedding stage):
    (center, context, offset, cnt) for every ordered position pair
    within `window` steps inside the same (start, walk) sequence,
    offset = context_step - center_step (non-zero, |offset| <= window).

    Scale shape: ONE equi-join on the (start, walk) sequence key with
    an |i-j| band post-filter — fan-out bounded by walk_len^2 per
    walk, never by graph degree — then one partial-agg count shuffle
    on the (center, context, offset) key. Hot nodes appear in many
    walks but the join key is the WALK, so no key is hotter than one
    walk's length."""
    left = walks.select(
        F.col("start").alias("s"),
        F.col("walk").alias("w"),
        F.col("step").alias("i"),
        F.col("node").alias("center"),
    )
    right = walks.select(
        F.col("start").alias("s"),
        F.col("walk").alias("w"),
        F.col("step").alias("j"),
        F.col("node").alias("context"),
    )
    pairs = left.join(right, ["s", "w"]).where(
        (F.col("i") != F.col("j"))
        & (F.abs(F.col("i") - F.col("j")) <= window)
    )
    return (
        pairs.groupBy(
            "center", "context", (F.col("j") - F.col("i")).alias("offset")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def walk_skipgrams_oracle_sql(walks_sql: str, window: int = 2) -> str:
    """DuckDB twin of walk_skipgrams; `walks_sql` is a complete query
    (its own WITH allowed) yielding (start, walk, step, node)."""
    return f"""
WITH walks AS MATERIALIZED ({walks_sql})
SELECT l.node AS center, r.node AS context,
       (r.step - l.step)::BIGINT AS offset,
       count(*)::BIGINT AS cnt
FROM walks l
JOIN walks r ON l.start = r.start AND l.walk = r.walk
WHERE l.step != r.step AND abs(l.step - r.step) <= {window}
GROUP BY 1, 2, 3
"""


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = DAMPING,
    state_round: int = 9,
) -> DataFrame:
    """Personalized PageRank: topic-seed expansion over the KG ("which
    entities matter relative to THESE seeds") — teleport mass lands
    only on the seed set instead of uniformly:

      * S = seeds ∩ graph nodes (a seed outside the graph is inert);
      * tele(n) = 1/|S| for n in S else 0;
      * r_0(n) = round(tele(n), state_round);
      * r_{t+1}(n) = round((1-d)*tele(n) + d * sum_{m->n} r_t(m)/deg(m),
        state_round) — same dangling-mass-drop and per-iteration
        rounding contract as :func:`pagerank` (that rounding is what
        keeps an iterative float algorithm value-oracle-able; the
        expression trees here mirror the oracle's term for term).

    Scale shape identical to pagerank (one shuffle per iteration on
    the dst rollup, rank join keyed on the src-partitioned edges,
    localCheckpoint-capped lineage); the seed table is broadcast-small
    by definition (a query's topic seeds), joined once to build tele.
    See :func:`ppr` below for the integer-exact walk-with-restart twin
    (plan-time seed literals, no float in the loop).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.repartition("src").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    s = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
        .localCheckpoint(eager=True)
    )
    ns = s.count()
    if ns == 0:
        raise ValueError("personalized_pagerank: no seed is a graph node")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    tele = nodes.join(
        F.broadcast(s.withColumn("_is_seed", F.lit(True))), "node", "left"
    ).select(
        "node",
        F.when(F.col("_is_seed"), F.lit(1.0 / float(ns)))
        .otherwise(F.lit(0.0))
        .alias("tele"),
    ).localCheckpoint(eager=True)
    ranks = tele.select(
        "node", F.round(F.col("tele"), state_round).alias("rank")
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
            tele.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    (F.lit(1.0) - F.lit(damping)) * F.col("tele")
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0)),
                    state_round,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def personalized_pagerank_oracle_sql(
    e_sql: str,
    seeds_sql: str,
    iters: int = 3,
) -> str:
    """DuckDB twin of personalized_pagerank; `e_sql` must yield
    DISTINCT (src, dst), `seeds_sql` one column (node). Expression
    trees mirror the operator term for term (same parenthesization,
    same coalesce/rounding order)."""
    parts = [
        f"""
WITH e AS ({e_sql}),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
s AS (SELECT DISTINCT node FROM ({seeds_sql})
      WHERE node IN (SELECT node FROM nodes)),
nsn AS (SELECT count(*)::DOUBLE AS ns FROM s),
deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
tele AS (
  SELECT nodes.node,
         CASE WHEN s.node IS NOT NULL THEN 1.0 / nsn.ns ELSE 0.0 END AS tele
  FROM nodes CROSS JOIN nsn LEFT JOIN s ON nodes.node = s.node
),
it0 AS (SELECT node, round(tele, 9) AS rank FROM tele)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
it{t} AS (
  SELECT tele.node,
         round((1.0 - 0.85) * tele.tele
               + 0.85 * coalesce(x.inflow, 0.0), 9) AS rank
  FROM tele
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / deg.deg) AS inflow
    FROM e
    JOIN deg ON e.src = deg.src
    JOIN it{t - 1} r ON e.src = r.node
    GROUP BY e.dst
  ) x ON tele.node = x.node
)"""
        )
    parts.append(f"\nSELECT node, round(rank, 6) AS rank FROM it{iters}\n")
    return "".join(parts)


# ---------------------------------------------------------------------------
# KG-embedding evaluation: filtered ranking metrics (MRR / Hits@k)
# ---------------------------------------------------------------------------

def ranking_eval(
    candidates: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    score_col: str = "score_micro",
    gold_col: str = "is_gold",
) -> DataFrame:
    """Filtered link-prediction ranking (the standard KG-embedding
    eval protocol, Bordes et al. 2013): `candidates` holds, per
    (subj, pred) query, the gold object(s) plus corrupted candidates
    (kg_negatives output is already 'filtered' — accidental positives
    removed), each with an INTEGER score (micro-units — the engine's
    no-floats-across-engines rule). Output: one row per gold triple
    with its rank among the query's candidates:
      rank = 1 + |better| where better = higher score, ties broken by
      lexicographically smaller object id (deterministic across
      engines; the 'realistic' tie protocol needs randomness, the
      optimistic/pessimistic ones hide score collisions).

    Scale: ONE equi-join on the (subj, pred) query key — fan-out per
    key is the candidate-set size (k+1-ish, bounded by construction,
    never by graph degree) — then one partial-agg count on the gold
    triple key. No windows, no collects.
    """
    g = candidates.where(F.col(gold_col).cast("int") == 1).select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
        F.col(score_col).cast("long").alias("score_micro"),
    )
    c = candidates.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("_c_obj"),
        F.col(score_col).cast("long").alias("_c_score"),
        F.col(gold_col).cast("int").alias("_c_gold"),
    )
    # 'filtered' protocol: OTHER gold objects of the same query never
    # count as competitors (only corruptions can outrank the gold).
    beats = (F.col("_c_gold") == 0) & (
        (F.col("_c_score") > F.col("score_micro"))
        | (
            (F.col("_c_score") == F.col("score_micro"))
            & (F.col("_c_obj") < F.col("obj"))
        )
    )
    return (
        g.join(c, ["subj", "pred"])
        .groupBy("subj", "pred", "obj", "score_micro")
        .agg(
            (1 + F.sum(beats.cast("long"))).cast("long").alias("rank")
        )
    )


def ranking_summary(
    ranks: DataFrame,
    ks: tuple[int, ...] = (1, 3, 10),
) -> DataFrame:
    """One-row corpus rollup of ranking_eval: n_gold, hits@k counts,
    sum of reciprocal ranks in micro-units (1000000 div rank — exact
    integer division, identical across engines) and their integer-mean
    mrr_micro. All BIGINT; divide by n_gold downstream for floats."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_gold")]
    for k in ks:
        aggs.append(
            F.sum((F.col("rank") <= k).cast("long"))
            .cast("long")
            .alias(f"hits{k}")
        )
    aggs.append(
        F.sum(F.expr("1000000 div rank")).cast("long").alias("sum_rr_micro")
    )
    out = ranks.agg(*aggs)
    return out.withColumn(
        "mrr_micro", F.expr("sum_rr_micro div n_gold").cast("long")
    )


def ranking_eval_oracle_sql(candidates_sql: str) -> str:
    """DuckDB twin of ranking_eval; `candidates_sql` yields
    (subj, pred, obj, score_micro, is_gold)."""
    return f"""
WITH cand AS MATERIALIZED ({candidates_sql})
SELECT g.subj, g.pred, g.obj, g.score_micro::BIGINT AS score_micro,
       (1 + count(*) FILTER (
          WHERE c.is_gold = 0
            AND (c.score_micro > g.score_micro
                 OR (c.score_micro = g.score_micro AND c.obj < g.obj))
        ))::BIGINT AS rank
FROM (SELECT * FROM cand WHERE is_gold = 1) g
JOIN cand c ON c.subj = g.subj AND c.pred = g.pred
GROUP BY g.subj, g.pred, g.obj, g.score_micro
"""


def ranking_summary_oracle_sql(
    candidates_sql: str,
    ks: tuple[int, ...] = (1, 3, 10),
) -> str:
    """DuckDB twin of ranking_eval |> ranking_summary."""
    hit_cols = ",\n       ".join(
        f"sum(CASE WHEN rank <= {k} THEN 1 ELSE 0 END)::BIGINT AS hits{k}"
        for k in ks
    )
    return f"""
WITH ranks AS MATERIALIZED ({ranking_eval_oracle_sql(candidates_sql)})
SELECT count(*)::BIGINT AS n_gold,
       {hit_cols},
       sum(1000000 // rank)::BIGINT AS sum_rr_micro,
       (sum(1000000 // rank) // count(*))::BIGINT AS mrr_micro
FROM ranks
"""


# ---------------------------------------------------------------------------
# Graph cohesion QA: local clustering coefficient, modularity and
# snapshot edge diffs
# ---------------------------------------------------------------------------

def clustering_coeff(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, degree, triangles, coeff) — the LOCAL clustering
    coefficient per node over the undirected simple graph:
    coeff = 2*T / (d*(d-1)), 0.0 when d < 2.

    The per-node companion to :func:`triangle_counts`' raw counts: a
    KG entity whose neighbors densely interlink (coeff -> 1) sits in
    a coherent topic clique; a hub with coeff -> 0 is a star — often
    an extraction artifact ("study", "patient") that links everything
    and means nothing. That split is exactly what a downstream
    curator prunes on, and neither count alone exposes it.

    Exactness: T and d are integers; 2.0*T / (d*(d-1)) is one double
    division of exact integer products (both < 2^53 for any sane
    degree), round(·, 6) — bit-identical cross-engine. Scale: reuses
    triangle_counts' wedge join (the a < b < c canonical enumeration
    that never materializes a hub's full neighborhood square) plus
    ONE degree rollup whose partial aggs absorb hot nodes.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_counts(und, src="a", dst="b")
    dd = (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double")
    return deg.join(tri, "node").select(
        "node",
        "degree",
        "triangles",
        F.when(
            F.col("degree") >= 2,
            F.round(
                (F.lit(2.0) * F.col("triangles").cast("double")) / dd, 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("coeff"),
    )


def clustering_coeff_oracle_sql(pairs_cte: str) -> str:
    """DuckDB twin of :func:`clustering_coeff`; `pairs_cte` must
    expose pr(a, b) canonical distinct undirected edges (the
    k_core/wl_labels oracle convention)."""
    return f"""{pairs_cte},
ccdeg AS (
  SELECT node, count(*)::BIGINT AS degree FROM (
    SELECT a AS node FROM pr UNION ALL SELECT b FROM pr)
  GROUP BY node
),
cctri AS (
  SELECT w1.a, w1.b, w2.b AS c
  FROM pr w1
  JOIN pr w2 ON w1.a = w2.a AND w1.b < w2.b
  JOIN pr e ON e.a = w1.b AND e.b = w2.b
),
cccorn AS (
  SELECT node, count(*)::BIGINT AS triangles FROM (
    SELECT a AS node FROM cctri
    UNION ALL SELECT b FROM cctri
    UNION ALL SELECT c FROM cctri)
  GROUP BY node
)
SELECT d.node, d.degree,
       coalesce(t.triangles, 0)::BIGINT AS triangles,
       CASE WHEN d.degree >= 2
            THEN round((2.0 * coalesce(t.triangles, 0)::DOUBLE)
                       / (d.degree * (d.degree - 1))::DOUBLE, 6)
            ELSE 0.0 END AS coeff
FROM ccdeg d LEFT JOIN cccorn t ON d.node = t.node
"""


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """(community, n_nodes, degree_sum, intra_edges, q_term) — the
    Newman modularity decomposition of a community assignment over
    the undirected simple graph: q_term_c = e_c/m - (D_c/(2m))^2,
    global Q = sum of q_term (the caller's one-liner). The QA metric
    for :func:`label_propagation`'s output — "did LPA find structure
    or noise?" — emitted PER COMMUNITY instead of as one global float
    so every row is computed from exact integers (e_c, D_c, m) in one
    double expression and stays value-oracle-able; a cross-engine
    global SUM of doubles would be addition-order-dependent.

    Scale: two label joins keyed on node (broadcast-or-AQE decided),
    one intra-edge rollup and one degree rollup, both partial-agg
    absorbed; m comes from a one-row agg cross join, never a driver
    collect.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("community")
    )
    m = und.agg(F.count(F.lit(1)).cast("double").alias("m"))
    el = (
        und.join(lab.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("community", "ca")
        .join(
            lab.select(F.col("node").alias("b"), F.col("community").alias("cb")),
            "b",
        )
    )
    intra = (
        el.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    degc = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .join(lab, "node")
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("degree_sum"))
    )
    nn = lab.groupBy("community").agg(
        F.countDistinct("node").cast("long").alias("n_nodes")
    )
    half = F.coalesce(F.col("degree_sum"), F.lit(0)).cast("double") / (
        F.lit(2.0) * F.col("m")
    )
    return (
        nn.join(degc, "community", "left")
        .join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("degree_sum"), F.lit(0)).cast("long").alias(
                "degree_sum"
            ),
            F.coalesce(F.col("intra_edges"), F.lit(0)).cast("long").alias(
                "intra_edges"
            ),
            F.round(
                F.coalesce(F.col("intra_edges"), F.lit(0)).cast("double")
                / F.col("m")
                - half * half,
                6,
            ).alias("q_term"),
        )
    )


def modularity_oracle_sql(prefix_cte: str) -> str:
    """DuckDB twin of :func:`modularity`; `prefix_cte` must expose
    pr(a, b) canonical distinct undirected edges AND lab(node,
    community) — e.g. the unrolled LPA chain's final iteration
    re-aliased. Expression mirrors the operator term for term."""
    return f"""{prefix_cte},
qm AS (SELECT count(*)::DOUBLE AS m FROM pr),
qel AS (
  SELECT la.community AS ca, lb.community AS cb
  FROM pr
  JOIN lab la ON pr.a = la.node
  JOIN lab lb ON pr.b = lb.node
),
qintra AS (SELECT ca AS community, count(*)::BIGINT AS intra_edges
           FROM qel WHERE ca = cb GROUP BY ca),
qdeg AS (
  SELECT l.community, count(*)::BIGINT AS degree_sum
  FROM (SELECT a AS node FROM pr UNION ALL SELECT b FROM pr) s
  JOIN lab l ON s.node = l.node
  GROUP BY l.community
),
qnn AS (SELECT community, count(DISTINCT node)::BIGINT AS n_nodes
        FROM lab GROUP BY community)
SELECT qnn.community, qnn.n_nodes,
       coalesce(qdeg.degree_sum, 0)::BIGINT AS degree_sum,
       coalesce(qintra.intra_edges, 0)::BIGINT AS intra_edges,
       round(coalesce(qintra.intra_edges, 0)::DOUBLE / qm.m
             - (coalesce(qdeg.degree_sum, 0)::DOUBLE / (2.0 * qm.m))
               * (coalesce(qdeg.degree_sum, 0)::DOUBLE / (2.0 * qm.m)),
             6) AS q_term
FROM qnn
LEFT JOIN qdeg ON qnn.community = qdeg.community
LEFT JOIN qintra ON qnn.community = qintra.community
CROSS JOIN qm
"""


def edge_diff(
    old: DataFrame,
    new: DataFrame,
    keys: tuple[str, ...] = ("subj", "pred", "obj"),
    weight_col: str = "weight",
    keep_same: bool = False,
) -> DataFrame:
    """(*keys, old_weight, new_weight, delta, status) — the snapshot
    diff between two KG edge tables: status 'added' (new only),
    'removed' (old only), 'changed' (weight moved), 'same' (dropped
    unless `keep_same`). The audit product an INCREMENTAL KG build
    publishes next to each checkpoint epoch ("what did this crawl
    batch change?") — SnapshotTable gives resumability, this gives
    reviewability, and downstream consumers re-process exactly the
    'added'+'changed' slice instead of the full edge table.

    One full-outer join keyed on the edge identity (uniform — edge
    keys are near-unique by construction); delta is exact BIGINT
    arithmetic on coalesced weights.
    """
    kcols = list(keys)
    o = old.select(
        *kcols, F.col(weight_col).cast("long").alias("old_weight")
    )
    n = new.select(
        *kcols, F.col(weight_col).cast("long").alias("new_weight")
    )
    j = o.join(n, kcols, "full_outer")
    status = (
        F.when(F.col("old_weight").isNull(), F.lit("added"))
        .when(F.col("new_weight").isNull(), F.lit("removed"))
        .when(F.col("old_weight") != F.col("new_weight"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    out = j.select(
        *kcols,
        "old_weight",
        "new_weight",
        (
            F.coalesce(F.col("new_weight"), F.lit(0))
            - F.coalesce(F.col("old_weight"), F.lit(0))
        ).cast("long").alias("delta"),
        status.alias("status"),
    )
    return out if keep_same else out.where(F.col("status") != "same")


def edge_diff_oracle_sql(
    old_sql: str,
    new_sql: str,
    keys: tuple[str, ...] = ("subj", "pred", "obj"),
    keep_same: bool = False,
    continuation: bool = False,
) -> str:
    """DuckDB twin of :func:`edge_diff`; old_sql/new_sql must yield
    (*keys, weight) each. `continuation=True` emits a leading ', '
    CTE continuation instead of a standalone WITH (so the chain can
    follow an existing prefix like the entry's _PRELUDE)."""
    kl = ", ".join(keys)
    kc = ", ".join(f"coalesce(o.{k}, n.{k}) AS {k}" for k in keys)
    on = " AND ".join(f"o.{k} = n.{k}" for k in keys)
    where = "" if keep_same else "WHERE status != 'same'"
    head = ",\n" if continuation else "\nWITH "
    return f"""{head}dfo AS (SELECT {kl}, weight::BIGINT AS old_weight FROM ({old_sql})),
dfn AS (SELECT {kl}, weight::BIGINT AS new_weight FROM ({new_sql})),
dfj AS (
  SELECT {kc}, o.old_weight, n.new_weight,
         (coalesce(n.new_weight, 0) - coalesce(o.old_weight, 0))::BIGINT
           AS delta,
         CASE WHEN o.old_weight IS NULL THEN 'added'
              WHEN n.new_weight IS NULL THEN 'removed'
              WHEN o.old_weight != n.new_weight THEN 'changed'
              ELSE 'same' END AS status
  FROM dfo o FULL OUTER JOIN dfn n ON {on}
)
SELECT * FROM dfj {where}
"""


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One row (m2, sum_x, sum_xx, sum_xy, r) — the degree
    assortativity coefficient of the undirected simple graph: the
    Pearson correlation of endpoint degrees over the SYMMETRIC edge
    list (each undirected edge contributes both orientations, the
    standard convention, Newman 2002, public). r > 0: hubs link hubs
    (social-network shape); r < 0: hubs link leaves (web/biology
    shape) — the one-number structural fingerprint that tells a KG
    curator which pruning strategy (k_core vs per-template capping) fits.

    Exactness: every sum is BIGINT over integer degree products —
    by symmetry sum_x = sum_y and sum_xx = sum_yy, so r reduces to
    (m2*sum_xy - sum_x^2) / (m2*sum_xx - sum_x^2), one double
    division of exact integers, round(·, 6). Overflow bound: sums of
    deg^2 over edges stay under 2^63 while sum(deg^3) < 9.2e18 —
    holds for any host graph whose max degree is under ~2 million at
    10^9 edges; beyond that, pre-scale degrees or accept DECIMAL.
    Scale: one degree rollup + two degree joins keyed on node, one
    global single-row agg (partial aggs reduce everything map-side —
    a one-row result, not a one-partition shuffle of rows).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    pairs = (
        sym.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("x")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("y")), "b")
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_xx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
    )
    num = (
        F.col("m2").cast("double") * F.col("sum_xy").cast("double")
        - F.col("sum_x").cast("double") * F.col("sum_x").cast("double")
    )
    den = (
        F.col("m2").cast("double") * F.col("sum_xx").cast("double")
        - F.col("sum_x").cast("double") * F.col("sum_x").cast("double")
    )
    return agg.select(
        "m2",
        "sum_x",
        "sum_xx",
        "sum_xy",
        F.when(den > 0, F.round(num / den, 6))
        .otherwise(F.lit(0.0))
        .alias("r"),
    )


def degree_assortativity_oracle_sql(pairs_cte: str) -> str:
    """DuckDB twin of :func:`degree_assortativity`; `pairs_cte` must
    expose pr(a, b) canonical distinct undirected edges."""
    return f"""{pairs_cte},
dadeg AS (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT a AS node FROM pr UNION ALL SELECT b FROM pr)
  GROUP BY node
),
dasym AS (SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr),
dapairs AS (
  SELECT da.deg AS x, db.deg AS y
  FROM dasym
  JOIN dadeg da ON dasym.a = da.node
  JOIN dadeg db ON dasym.b = db.node
),
daagg AS (
  SELECT count(*)::BIGINT AS m2,
         sum(x)::BIGINT AS sum_x,
         sum(x * x)::BIGINT AS sum_xx,
         sum(x * y)::BIGINT AS sum_xy
  FROM dapairs
)
SELECT m2, sum_x, sum_xx, sum_xy,
       CASE WHEN (m2::DOUBLE * sum_xx::DOUBLE
                  - sum_x::DOUBLE * sum_x::DOUBLE) > 0
            THEN round((m2::DOUBLE * sum_xy::DOUBLE
                        - sum_x::DOUBLE * sum_x::DOUBLE)
                       / (m2::DOUBLE * sum_xx::DOUBLE
                          - sum_x::DOUBLE * sum_x::DOUBLE), 6)
            ELSE 0.0 END AS r
FROM daagg
"""


def harmonic_centrality(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(source, hc, n_reached) — k-bounded harmonic centrality:
    hc(s) = sum over reachable nodes of 1/dist(s, n), dist <= k. The
    standard centrality for DISCONNECTED graphs (closeness diverges,
    harmonic just scores unreachable as 0) and the locality-bounded
    variant is the only one that scales: exact all-pairs harmonic is
    O(V*E), the k-bounded table is :func:`k_hop`'s output — already
    the neighborhood product a KG consumer materializes — plus one
    rollup.

    Float determinism: instead of sum(1.0/dist) over an engine-chosen
    row order, the rollup counts nodes PER INTEGER DISTANCE (exact
    BIGINTs) and evaluates n_1*(1/1) + n_2*(1/2) + ... in one fixed
    left-to-right expression — both engines produce the identical
    double, round(·, 6).
    """
    if k < 1:
        raise ValueError("harmonic_centrality needs k >= 1")
    hops = k_hop(edges, k=k, src=src, dst=dst).where(F.col("dist") > 0)
    counts = hops.groupBy("source").agg(
        *[
            F.sum(F.when(F.col("dist") == d, 1).otherwise(0))
            .cast("long")
            .alias(f"n{d}")
            for d in range(1, k + 1)
        ],
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )
    expr = F.col("n1").cast("double") * F.lit(1.0)
    for d in range(2, k + 1):
        expr = expr + F.col(f"n{d}").cast("double") * F.lit(1.0 / float(d))
    return counts.select(
        "source", F.round(expr, 6).alias("hc"), "n_reached"
    )


def harmonic_centrality_oracle_sql(prefix_cte: str, k: int = 2) -> str:
    """DuckDB twin of :func:`harmonic_centrality`; `prefix_cte` is a
    complete WITH chain whose LAST relation is hcw(source, node, dist)
    with dist the MINIMUM hop count, 0..k (the k_hop oracle's min-dist
    rollup, pinned flat per the repo's nested-WITH DuckDB quirk). The
    1/d factors are Python-side float literals repr'd at full
    precision — the identical doubles the engine multiplies by."""
    terms = " + ".join(
        f"n{d}::DOUBLE * {1.0 / float(d)!r}" for d in range(1, k + 1)
    )
    sums = ",\n         ".join(
        f"sum(CASE WHEN dist = {d} THEN 1 ELSE 0 END)::BIGINT AS n{d}"
        for d in range(1, k + 1)
    )
    return f"""{prefix_cte},
hcc AS (
  SELECT source,
         {sums},
         count(*)::BIGINT AS n_reached
  FROM hcw WHERE dist > 0 GROUP BY source
)
SELECT source, round({terms}, 6) AS hc, n_reached FROM hcc
"""


def window_cooc(
    mentions: DataFrame,
    window: int = 5,
    doc_col: str = "doc_id",
    sent_col: str = "sent_idx",
    term_col: str = "term",
    pos_col: str = "begin_tok",
) -> DataFrame:
    """(a, b, n_pairs) — TOKEN-WINDOW entity co-occurrence: distinct
    mention positions of two different terms in the same sentence at
    token distance <= `window`, counted per ordered pair a < b. The
    tighter-evidence edge weighting sentence_pairs can't express: in
    a 60-token sentence, adjacent entities and opposite-end entities
    are very different co-occurrence claims, and PMI over windowed
    pairs sharpens exactly the edges triple extraction missed.

    One self-join keyed on (doc, sent) — per-sentence mention counts
    are bounded, so the join is skew-safe by construction — then a
    band filter and ONE rollup shuffle (partial aggs absorb hot
    pairs).
    """
    occ = mentions.select(
        F.col(doc_col).alias("d"),
        F.col(sent_col).alias("s"),
        F.col(term_col).alias("t"),
        F.col(pos_col).alias("p"),
    ).distinct()
    x = occ.select("d", "s", F.col("t").alias("a"), F.col("p").alias("pa"))
    y = occ.select("d", "s", F.col("t").alias("b"), F.col("p").alias("pb"))
    return (
        x.join(y, ["d", "s"])
        .where(
            (F.col("a") < F.col("b"))
            & (F.abs(F.col("pa") - F.col("pb")) <= window)
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def window_cooc_oracle_sql(occ_sql: str, window: int = 5) -> str:
    """DuckDB twin of :func:`window_cooc`; `occ_sql` yields DISTINCT
    (d, s, t, p) mention positions."""
    return f"""
WITH wco AS ({occ_sql})
SELECT x.t AS a, y.t AS b, count(*)::BIGINT AS n_pairs
FROM wco x JOIN wco y
  ON x.d = y.d AND x.s = y.s AND x.t < y.t
     AND abs(x.p - y.p) <= {window}
GROUP BY x.t, y.t
"""


def ppr(
    edges: DataFrame,
    seeds: tuple[str, ...],
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    d_num: int = 17,
    d_den: int = 20,
    unit_exp: int = 9,
) -> DataFrame:
    """(node, score, is_seed) — personalized PageRank from a seed set:
    random walk with restart to `seeds`, the seed-relative entity
    relatedness ranker (disambiguation priors, "entities related to X"
    panels, local KG exploration) that global :func:`pagerank` cannot
    express — its stationary mass is query-independent.

    Relationship to :func:`personalized_pagerank` (the round-snap
    float formulation above): same algorithm family, DIFFERENT
    determinism class and seed contract — this one iterates in exact
    BIGINT micro-units (no rounding-boundary exposure at all), takes
    seeds as plan-time literals (a user query, not a joined table),
    and keeps out-of-graph seeds as isolated restart nodes instead of
    raising. Prefer this formulation for new work; the float twin
    stays as the teleport-normalized (1/|S| mass) variant whose
    scores are comparable across seed-set sizes.

    Contract (mirrored verbatim by the DuckDB oracle):
      * edges are DISTINCT directed (src, dst); nodes = src UNION dst
        UNION seeds; dangling-node mass is dropped (same documented
        choice as pagerank);
      * ALL-BIGINT iteration in micro-units U = 10^unit_exp with
        damping the exact rational d_num/d_den (the textrank recipe —
        the round-snap contract provably hits half-grid rounding
        boundaries on O(1)-scale states, so no float enters the loop):
          restart_u(n) = U div |seeds| if n in seeds else 0
          s_0 = restart_u
          inc_i = sum_{j->i} (s_j div deg_j)            -- exact BIGINT
          s_{t+1} = ((d_den-d_num) * restart_u) div d_den
                    + (d_num * inc) div d_den            -- exact BIGINT
      * score = s / U (one division of exact integers, correctly
        rounded; the only float anywhere).

    Scale shape: deg computed once; per iteration ONE src-keyed rank
    join (edges pre-partitioned on src, exchange reused every round)
    + one dst agg (partial-agg absorbed — a hub's in-edges combine
    map-side); localCheckpoint per iteration caps lineage exactly as
    pagerank/components. The seed set is a plan-time literal
    (F.isin), never a joined table — seeds are user queries, not data.

    Reference parity: EasyNER has no graph analytics at all
    (scripts/analysis.py stops at frequency); north_star KG surface.
    """
    if iters < 1:
        raise ValueError(f"ppr needs iters >= 1: {iters}")
    if not seeds:
        raise ValueError("ppr needs at least one seed")
    if not (0 < d_num < d_den):
        raise ValueError(f"damping must satisfy 0 < d_num < d_den: {d_num}/{d_den}")
    unit = 10**unit_exp
    share = unit // len(seeds)
    seed_list = [str(s) for s in seeds]
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.repartition("src").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .unionByName(
            e.sparkSession.createDataFrame(
                [(s,) for s in seed_list], "node string"
            )
        )
        .distinct()
        .select(
            "node",
            F.when(F.col("node").isin(*seed_list), F.lit(share))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("restart_u"),
        )
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.select("node", F.col("restart_u").alias("s"))
    for _ in range(iters):
        inc = (
            e.join(deg, "src")
            .join(ranks.select(F.col("node").alias("src"), "s"), "src")
            .select(F.col("dst").alias("node"), F.expr("(s div deg)").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = (
            nodes.join(inc, "node", "left")
            .select(
                "node",
                "restart_u",
                F.expr(
                    f"(({d_den - d_num} * restart_u) div {d_den})"
                    f" + (({d_num} * coalesce(inc, 0L)) div {d_den})"
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "node",
        (F.col("s").cast("double") / F.lit(float(unit))).alias("score"),
        F.col("restart_u").cast("long").alias("restart_u"),
    ).select(
        "node", "score", (F.col("restart_u") > 0).alias("is_seed")
    )


def ppr_oracle_sql(
    with_prefix: str,
    seeds: tuple[str, ...],
    iters: int = 3,
    d_num: int = 17,
    d_den: int = 20,
    unit_exp: int = 9,
) -> str:
    """DuckDB twin of :func:`ppr`; `with_prefix` is a complete WITH
    chain whose LAST relation is e(src, dst) (distinct directed
    edges). Iterations unrolled; all-BIGINT state."""
    if iters < 1:
        raise ValueError(f"ppr needs iters >= 1: {iters}")
    if not seeds:
        raise ValueError("ppr needs at least one seed")
    if not (0 < d_num < d_den):
        raise ValueError(f"damping must satisfy 0 < d_num < d_den: {d_num}/{d_den}")
    unit = 10**unit_exp
    share = unit // len(seeds)
    seed_rows = ", ".join("('" + str(s).replace("'", "''") + "')" for s in seeds)
    parts = [
        with_prefix,
        f""",
seedv(node) AS (VALUES {seed_rows}),
nodes AS (
  SELECT node,
         CASE WHEN node IN (SELECT node FROM seedv)
              THEN {share}::BIGINT ELSE 0::BIGINT END AS restart_u
  FROM (
    SELECT src AS node FROM e
    UNION
    SELECT dst FROM e
    UNION
    SELECT node FROM seedv
  )
),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
p0 AS (SELECT node, restart_u AS s FROM nodes)""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
inc{i} AS (
  SELECT e.dst AS node, sum(p.s // d.deg)::BIGINT AS inc
  FROM e JOIN deg d ON e.src = d.src
  JOIN p{i - 1} p ON e.src = p.node
  GROUP BY e.dst
),
p{i} AS (
  SELECT n.node,
         (({d_den - d_num} * n.restart_u) // {d_den}
          + ({d_num} * coalesce(i.inc, 0)) // {d_den})::BIGINT AS s
  FROM nodes n LEFT JOIN inc{i} i ON n.node = i.node
)""",
        )
    parts.append(
        f"""
SELECT n.node, p.s::DOUBLE / {float(unit)!r} AS score,
       (n.restart_u > 0) AS is_seed
FROM p{iters} p JOIN nodes n ON p.node = n.node
""",
    )
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
    these hub entities" primitive that k_hop (reachability only) and
    harmonic_centrality (aggregate only) don't expose.

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
