"""Connected components for cross-document entity merging
(SURVEY.md section 4.3.2 / 7.2.9; north_star "GraphFrames-style
iterative DataFrame joins").

No Spark built-in exists; this is the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — public literature), expressed purely
as DataFrame groupBy/join rounds:

  large-star: every node points its LARGER neighbors at its minimum
              neighbor (incl. itself);
  small-star: every node points its smaller neighbors (and itself) at
              that minimum.

Converges in O(log n) rounds to a star per component whose center is
the component's lexicographically minimal node id — deterministic at
any parallelism. Each round is two shuffles (groupBy min + join) on the
node id; `localCheckpoint` after every round cuts the exploding lineage
(SURVEY section 7.4: required for iterative DataFrame algorithms).

Skew note: a giant component (common alias) concentrates its edges on
the component-min key. large-star specifically bounds that: high-degree
centers delegate to subtree minima before small-star recenters, and AQE
skew-join splitting handles the residual hot key.

Plan-iteration record (round 2, interleaved A/B at bench scale):
  - large_star's trailing distinct REMOVED (redundant with small_star's
    canon distinct): 5.6 -> 5.3 s, one fewer shuffle per round;
  - checkpoint every round vs every 2: every-round WINS (4.6 vs 5.9 s —
    the un-checkpointed round re-executes lineage in the convergence
    checksum AND the next round);
  - skipping canon's distinct inside the loop (defer dedup to the final
    distinct): LOSES slightly (5.2 vs 5.4 s — the fatter join offsets
    the saved shuffle). Current shape kept: 5 exchanges/round with 3
    reused, measured locally optimal among the variants tried.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected canonical edge list (big -> small), self-loops dropped."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.withColumn("m", F.least("src", "mn")).select("src", "m")
    # NO trailing distinct: the output is already (src > dst)-oriented
    # (m <= old_src < old_dst), and the next step — small_star's
    # _canon — dedups anyway; a distinct here would be a redundant
    # extra shuffle every round (measured in the round-2 plan audit)
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    dir_e = _canon(edges)  # src > dst for every row
    mins = dir_e.groupBy("src").agg(F.min("dst").alias("m"))
    to_min = dir_e.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_e = mins.select("src", F.col("m").alias("dst"))
    return (
        to_min.unionByName(self_e)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _checkpoint(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Eager local checkpoint of `edges` and its (count, bit_xor of
    xxhash64) signature, observed on the checkpoint job itself — no
    separate aggregate. bit_xor: order-insensitive, overflow-free under
    ANSI mode; rows are distinct so xor cancellation can't mask a real
    change."""
    sig = Observation()
    cp = edges.observe(
        sig,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).localCheckpoint(eager=True)
    m = sig.get
    return cp, (m["n"], m["h"])


def _local_finish(cur: DataFrame) -> DataFrame:
    """Union-find over a COLLECTED edge list (Arrow transfer), root =
    min node id — bit-identical output to the distributed fixpoint.
    Only called when the current edge count is below the driver
    threshold (the same bounded-driver-data class as IVF centroids).
    The result goes back as a pandas frame, over Arrow."""
    spark = cur.sparkSession
    node_type = cur.schema["src"].dataType.simpleString()
    pdf = cur.toPandas()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    nodes = list(parent)
    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "component": [find(v) for v in nodes]}),
        f"node {node_type}, component {node_type}",
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    stats: dict | None = None,
    local_finish_edges: int = 200_000,
    n_edges: int | None = None,
) -> DataFrame:
    """edges -> (node, component) with component = min node id of the
    component. Isolated endpoints appear (an edge list has no isolated
    nodes; union extra singletons upstream if needed).

    Hybrid execution (the standard shape for iterative graph jobs):
    alternating-star rounds run DISTRIBUTED while the edge list is
    large; each round contracts the graph toward one star per
    component, and as soon as the surviving edge count drops to
    `local_finish_edges` the remainder is finished with a
    driver-side union-find over a bounded collect (~16 bytes/edge; the
    default 200k caps it at a few MB, the same driver-data class as
    the IVF centroid list). At 10^12 documents the first rounds do the
    real work and stay distributed; on small/contracted graphs this
    removes whole per-round job waves — measured interleaved
    same-window at the bench tier (65k raw edges, 12 nodes, persisted
    input): distributed fixpoint 2.3 s median vs hybrid 1.1 s.
    Pass local_finish_edges=0 to force the pure distributed fixpoint
    (the value oracle runs that path; a pytest pins local ==
    distributed on random graphs).

    Every eager `localCheckpoint` carries an `Observation` of the
    checkpointed edge list's signature, (count, bit_xor of xxhash64):
    the count decides the local finish, and an unchanged signature ends
    the fixpoint — both without a job of their own.

    `n_edges`, when the caller already knows it, is an upper bound on
    the row count of `edges` (the kg job passes its edge snapshot's
    observed count). At or under `local_finish_edges` the raw edge
    list, self-loops dropped, goes straight to the union-find: no
    canonicalization shuffle and no checkpoint, one collect. The
    canonical list is never longer than the raw one, so this is the
    same decision the checkpoint's count would make, and union-find
    ignores duplicates and edge direction, so the output is the same.

    Pass `stats={}` to receive {"rounds": n, "local_finish": bool} —
    the skew/stress tooling reports round counts alongside wall time
    (a giant component costs extra ROUNDS, not a hot reducer; see
    tools/components_stress.py)."""
    edges = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rounds = 0
    if stats is not None:
        stats["rounds"] = rounds
        stats["local_finish"] = False
    if n_edges is not None and n_edges <= local_finish_edges:
        if stats is not None:
            stats["local_finish"] = True
        return _local_finish(edges.where(F.col("src") != F.col("dst")))
    cur, sig = _checkpoint(_canon(edges))
    for _ in range(max_iter):
        if sig[0] <= local_finish_edges:
            if stats is not None:
                stats["local_finish"] = True
            return _local_finish(cur)
        cur, new_sig = _checkpoint(_small_star(_large_star(cur)))
        rounds += 1
        if stats is not None:
            stats["rounds"] = rounds
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")

    # post-state: src > dst = component center. membership = pointers +
    # centers themselves.
    members = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    centers = cur.select(F.col("dst").alias("node"), F.col("dst").alias("component")).distinct()
    return members.unionByName(centers).distinct()


def alias_component_nodes(alias: DataFrame) -> DataFrame:
    """Entity-merge graph from the alias table (north_star:
    cross-document entity merging): bipartite term <-> KB-id edges;
    components merge entities that share any alias (reference analog:
    the NEL lookup's synonym groups, scripts/nel.py:13)."""
    edges = alias.select(
        F.concat(F.lit("term:"), F.lower("term")).alias("src"),
        F.concat(F.lit("id:"), F.col("ID")).alias("dst"),
    )
    return connected_components(edges)


def incremental_components(
    mapping: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    **cc_kwargs,
) -> DataFrame:
    """Maintain a component map under a NEW batch of edges without the
    old graph: given a valid (node, component) map of graph G1 and the
    batch E2, returns the (node, component) map of G1 ∪ E2.

    Correctness: the map rows are a spanning STAR of every old
    component (each node is connected to its label, and labels are
    real nodes), so cc(star(M) ∪ E2) has exactly the connectivity of
    cc(G1 ∪ E2); labels stay "min node id of the component" because
    every old node appears in the star.

    This is the incremental-KG maintenance step the north rule's
    resumable pipeline needs: per crawl epoch, the entity-merge map is
    updated from the persisted map + the epoch's new alias/co-occurrence
    edges — the full historical edge list is never re-read or
    re-shuffled. Cost: the star is one edge per known node and is
    ALREADY contracted (depth 1), so the alternating-star rounds
    converge in one or two rounds plus whatever the delta requires,
    instead of the full graph's O(log n); nodes untouched by E2 ride
    through as already-canonical pointers. Output covers the union of
    both node universes (old singletons survive via their self-star,
    which edge canonicalization drops, hence the map left-join)."""
    star = mapping.select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    # self-loops carry no connectivity and full cc() drops them during
    # edge canonicalization — filter them BEFORE the universe union or
    # a self-loop-only node in the delta would appear here but not in
    # a full recompute (exact-equality contract)
    delta = new_edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).where(F.col("src") != F.col("dst"))
    merged = connected_components(star.unionByName(delta), **cc_kwargs)
    universe = (
        mapping.select("node")
        .unionByName(delta.select(F.col("src").alias("node")))
        .unionByName(delta.select(F.col("dst").alias("node")))
        .distinct()
    )
    return universe.join(merged, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )
