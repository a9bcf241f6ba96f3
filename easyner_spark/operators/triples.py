"""Triples: linked mentions -> (subj, pred, obj) edges, and the
queries the KG product answers over them.

Generalizes the reference's germ of relation extraction —
`hasCoOccurrence = len(entities) >= 2` per sentence
(scripts/entity_parser.py:41-42) — into ordered co-occurrence pairs:
for each sentence, the DISTINCT canonical entity ids in span order
(first occurrence; ties (begin, end, id)); emit (id_i,
'co_occurs_with', id_j) for i < j (SURVEY.md section 7.0.4).
`extract_triples` and `aggregate_edges` are the kg job's triples and
edges stages.

The rest serves `--mode query` and `kg.KnowledgeGraph`: the
SPARQL-BGP engine (`match_patterns`, its planner `bgp_stats`, and
the epoch-stamped `match_patterns_when`), and the facade's KG ops
(`functional_violations`, `entity_summaries`, `schema_graph`,
`metapath_join`), plus `metapath_pathsim`, the PathSim measure built
on `metapath_join`. Each of those but `bgp_stats` has a `*_oracle_sql`
DuckDB twin that the oracle gate compares it against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

PRED_CO_OCCURS = "co_occurs_with"


def extract_triples(
    linked_mentions: DataFrame,
    pred: str = PRED_CO_OCCURS,
) -> DataFrame:
    """linked mentions (url, sent_idx, entity_id, begin, end) ->
    per-sentence ordered co-occurrence triples.

    Plan shape (chosen over the window+self-join formulation after
    profiling at 600k docs — that one cost ~4x the CPU in sort-merge
    sorts and row_number):
      1. groupBy (url, sent_idx, entity_id) min(first_span) — first
         occurrence per id;
      2. groupBy (url, sent_idx) collect the (span, id) structs and
         `sort_array` them in-memory (sentences hold a handful of
         entities, so the sort is trivially cheap and bounded);
      3. the i<j pairs: `posexplode(ids)` gives each subject with its
         index i, then `explode(slice(ids, i+2, n-i-1))` its objects.
    Both generators and `sort_array` run in generated code; a nested
    `transform` or `array_sort`'s default comparator would be a lambda
    function, which Spark evaluates interpreted, per element.
    ONE shuffle: the explicit repartition on `url` satisfies BOTH
    groupBys' clustering requirements (hash on a subset of the grouping
    key co-locates every group), so EnsureRequirements inserts no
    further exchange — verified 2 Exchanges -> 1 in the physical plan.
    The output stays clustered by `url`, which `aggregate_edges`'
    per-document level reuses. No join, no window state.
    """
    ids = (
        linked_mentions.where(F.col("entity_id") != "")
        .repartition(F.col("url"))
        .groupBy("url", "sent_idx", "entity_id")
        # lexicographic-min (begin, end): the id's FIRST occurrence in
        # canonical mention order, not independent per-column minima
        .agg(F.min(F.struct("begin", "end")).alias("first_span"))
    )
    per_sent = ids.groupBy("url", "sent_idx").agg(
        F.sort_array(
            F.collect_list(F.struct("first_span", "entity_id"))
        ).getField("entity_id").alias("ids")
    )
    i = F.col("i")
    return (
        per_sent.where(F.size("ids") >= 2)
        .select("url", "sent_idx", "ids", F.posexplode("ids").alias("i", "subj_id"))
        .select(
            "url",
            "sent_idx",
            "subj_id",
            F.lit(pred).alias("pred"),
            F.explode(F.slice("ids", i + 2, F.size("ids") - i - 1)).alias("obj_id"),
        )
    )


def aggregate_edges(triples: DataFrame, exact_sets: bool = False) -> DataFrame:
    """Deduplicated edge table with provenance (SURVEY section 7.2.8):
    (subj_id, pred, obj_id) -> support count + distinct-doc count
    (+ exemplar urls in the test profile — unbounded sets are gated off
    at web scale, same policy as analysis.entity_frequency).

    Two levels instead of `countDistinct`'s Expand: per (edge, url) a
    count, then per edge `sum` = support and `count` = doc_count. On
    `extract_triples`' output, clustered by `url`, the first level runs
    without a shuffle, so the table costs one exchange."""
    per_doc = triples.groupBy("subj_id", "pred", "obj_id", "url").agg(
        F.count(F.lit(1)).alias("n")
    )
    aggs = [
        # coalesce: non-null like the count it sums (sum() is nullable)
        F.coalesce(F.sum("n"), F.lit(0)).alias("support"),
        F.count(F.lit(1)).alias("doc_count"),
    ]
    if exact_sets:
        # the urls are distinct per edge at this level
        aggs.append(
            F.slice(F.sort_array(F.collect_list("url")), 1, 16).alias("example_urls")
        )
    return per_doc.groupBy("subj_id", "pred", "obj_id").agg(*aggs)


# ---------------------------------------------------------------------------
# Conjunctive triple-pattern queries (SPARQL-BGP-lite over the KG product)
# ---------------------------------------------------------------------------

def _pattern_vars(patterns: list[tuple[str, str, str]]) -> list[str]:
    """Variable names ('?x' -> 'x') in first-appearance order."""
    seen: list[str] = []
    for pat in patterns:
        for term in pat:
            if term.startswith("?") and term[1:] not in seen:
                seen.append(term[1:])
    return seen


def _validate_patterns(patterns: list[tuple[str, str, str]]) -> None:
    if not patterns:
        raise ValueError("at least one triple pattern required")
    for pat in patterns:
        if len(pat) != 3:
            raise ValueError(f"pattern must be (s, p, o): {pat!r}")
        if not any(t.startswith("?") for t in pat):
            raise ValueError(f"pattern binds no variable: {pat!r}")
        for t in pat:
            if t.startswith("?") and not t[1:].isidentifier():
                raise ValueError(f"bad variable name: {t!r}")
    # Reject disconnected pattern sets: a pattern sharing no variable
    # with the rest would plan a cross join — never what a KG query
    # means, and a scale trap (|result| = product of the parts).
    joined = {t[1:] for t in patterns[0] if t.startswith("?")}
    pending = list(range(1, len(patterns)))
    while pending:
        for i in list(pending):
            pv = {t[1:] for t in patterns[i] if t.startswith("?")}
            if pv & joined:
                joined |= pv
                pending.remove(i)
                break
        else:
            raise ValueError(
                "disconnected pattern set (would require a cross join): "
                f"{[patterns[i] for i in pending]!r} share no variable "
                "with the rest"
            )


def _validate_optionals(
    req_vars: list[str],
    optionals: list[list[tuple[str, str, str]]] | None,
) -> list[tuple[list[str], list[str]]]:
    """(shared, new) variables per OPTIONAL group. Each group must
    share a variable with the required block, and its new variables
    must be disjoint from the required block's and every earlier
    group's (one output column per variable)."""
    seen = set(req_vars)
    out = []
    for group in optionals or []:
        _validate_patterns(group)
        gvars = _pattern_vars(group)
        shared = [v for v in gvars if v in req_vars]
        new = [v for v in gvars if v not in req_vars]
        if not shared:
            raise ValueError(
                f"optional group shares no variable with the required "
                f"block: {group!r}"
            )
        clash = [v for v in new if v in seen]
        if clash:
            raise ValueError(
                f"optional groups must introduce disjoint new "
                f"variables; clash on {clash!r}"
            )
        seen.update(new)
        out.append((shared, new))
    return out


_FILTER_OPS = {
    "=", "!=", "<", "<=", ">", ">=", "prefix", "contains", "regex",
}


def _validate_filters(
    filters: dict[str, list[tuple[str, str]]] | None,
    req_vars: list[str],
) -> None:
    """Shared by match_patterns and its oracle twin: FILTER predicates
    may only name required variables and known operators, and every
    operand must be a string (the KG term type)."""
    for v, preds in (filters or {}).items():
        if v not in req_vars:
            raise ValueError(
                f"filter variable '?{v}' is not bound by the required "
                f"patterns"
            )
        if not preds:
            raise ValueError(f"filters for '?{v}' are empty")
        for entry in preds:
            if len(entry) != 2:
                raise ValueError(f"filter must be (op, operand): {entry!r}")
            op, val = entry
            if op not in _FILTER_OPS:
                raise ValueError(
                    f"unknown filter op {op!r}; expected one of "
                    f"{sorted(_FILTER_OPS)!r}"
                )
            if not isinstance(val, str):
                raise ValueError(
                    f"filter operand for '?{v}' must be a string: {val!r}"
                )


_AGG_FNS = {"count", "count_distinct", "min", "max"}


def _validate_aggregates(
    group_by: list[str] | None,
    aggregates: dict[str, tuple[str, str]] | None,
    out_vars: list[str],
) -> tuple[list[str], dict[str, tuple[str, str]]]:
    """Shared by match_patterns and its oracle twin: normalize the
    (group_by, aggregates) pair — group_by vars must be output
    variables; aggregate inputs must be output variables (or '*' for
    count); aggregates default to {"n": ("count", "*")}; an empty
    group_by is the SPARQL global-aggregate (one-row) shape."""
    gb = list(group_by or [])
    for v in gb:
        if v not in out_vars:
            raise ValueError(
                f"group_by variable '?{v}' is not an output variable"
            )
    aggs = dict(aggregates) if aggregates else {"n": ("count", "*")}
    for name, entry in aggs.items():
        if not isinstance(name, str) or not name.isidentifier():
            raise ValueError(f"bad aggregate output name: {name!r}")
        if len(entry) != 2:
            raise ValueError(f"aggregate must be (fn, var): {entry!r}")
        fn, var = entry
        if fn not in _AGG_FNS:
            raise ValueError(
                f"unknown aggregate fn {fn!r}; expected one of "
                f"{sorted(_AGG_FNS)!r}"
            )
        if var == "*":
            if fn != "count":
                raise ValueError(f"'*' is only valid with count: {entry!r}")
        elif var not in out_vars:
            raise ValueError(
                f"aggregate input '?{var}' is not an output variable"
            )
        if name in gb:
            raise ValueError(
                f"aggregate output {name!r} collides with a group_by "
                f"variable"
            )
    return gb, aggs


def _validate_order(
    order_by: list[tuple[str, str]] | None,
    limit: int | None,
    out_cols: list[str],
) -> list[tuple[str, str]]:
    """Shared by match_patterns and its oracle twin: order_by and
    limit must arrive together; keys must be output columns with
    'asc'/'desc' directions; the returned key list is made TOTAL by
    appending every remaining output column ascending (deterministic
    surviving-k set — see the match_patterns docstring)."""
    if order_by is None or limit is None:
        raise ValueError(
            "order_by and limit must be used together (a limit without "
            "a total order returns arbitrary rows; an order without a "
            "limit is lost downstream — use .orderBy at display time)"
        )
    if not order_by:
        raise ValueError("order_by is empty")
    if int(limit) < 1:
        raise ValueError(f"limit must be >= 1: {limit!r}")
    keys = []
    seen = set()
    for entry in order_by:
        if len(entry) != 2:
            raise ValueError(f"order_by entry must be (col, dir): {entry!r}")
        c, d = entry
        if c not in out_cols:
            raise ValueError(f"order_by column {c!r} is not an output column")
        if d not in ("asc", "desc"):
            raise ValueError(f"order_by direction must be asc|desc: {d!r}")
        if c in seen:
            raise ValueError(f"duplicate order_by column {c!r}")
        seen.add(c)
        keys.append((c, d))
    keys.extend((c, "asc") for c in out_cols if c not in seen)
    return keys


def _pattern_estimate(
    pat: tuple[str, str, str],
    stats: dict[str, tuple[int, int, int]],
) -> int:
    """System-R-style cardinality estimate of one triple pattern from
    per-predicate stats {pred: (n_edges, n_subj, n_obj)}: a literal
    predicate starts at its edge count; a literal subject/object
    divides by the predicate's distinct-participant count (uniformity
    assumption, ceil so estimates stay >= 1); a variable predicate
    sums over the whole table. Unknown predicates estimate 0 — the
    empty scan is the BEST possible seed, it zeroes the query."""
    s, p, o = pat
    if p.startswith("?"):
        cards = [v for v in stats.values()] or [(0, 1, 1)]
        n = sum(v[0] for v in cards)
        ns = sum(v[1] for v in cards)
        no = sum(v[2] for v in cards)
    else:
        # a '+' property path estimates from its base predicate,
        # doubled — a rough closure-growth factor for the bounded-
        # depth hierarchy predicates the contract allows
        base = p[:-1] if p.endswith("+") else p
        n, ns, no = stats.get(base, (0, 1, 1))
        if p.endswith("+"):
            n *= 2
    est = n
    if not s.startswith("?") and ns > 0:
        est = -(-est // ns)
    if not o.startswith("?") and no > 0:
        est = -(-est // no)
    return est


def _join_order(
    patterns: list[tuple[str, str, str]],
    stats: dict[str, tuple[int, int, int]] | None = None,
) -> list[int]:
    """Greedy selectivity order: start at the most selective pattern,
    then repeatedly add the connected pattern with the most
    already-bound variables (ties: more selective, then input order).
    Catalyst cannot reorder inner joins across the var-renaming
    projections we build, so the logical order we emit matters; AQE
    still picks the physical strategy (broadcast vs shuffle) per join.

    Selectivity: without `stats`, literal count (the syntactic
    heuristic — more constants, fewer rows). With `stats` (per-
    predicate (n_edges, n_subj, n_obj), see bgp_stats), the System-R
    uniform-selectivity estimate replaces it: a 3-literal pattern on
    a billion-edge predicate no longer beats a 1-literal pattern on a
    ten-edge predicate.
    """
    def lits(i: int) -> int:
        return sum(0 if t.startswith("?") else 1 for t in patterns[i])

    def sel(i: int) -> int:
        # higher = more selective (max() keys on it)
        if stats is None:
            return lits(i)
        return -_pattern_estimate(patterns[i], stats)

    def pvars(i: int) -> set:
        return {t[1:] for t in patterns[i] if t.startswith("?")}

    order = [max(range(len(patterns)), key=lambda i: (sel(i), -i))]
    bound = pvars(order[0])
    while len(order) < len(patterns):
        rest = [i for i in range(len(patterns)) if i not in order]
        nxt = max(
            rest,
            key=lambda i: (len(pvars(i) & bound), sel(i), -i),
        )
        if not pvars(nxt) & bound:  # pragma: no cover - _validate guards
            raise ValueError("disconnected pattern set")
        order.append(nxt)
        bound |= pvars(nxt)
    return order


def bgp_stats(
    edges: DataFrame,
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
) -> dict[str, tuple[int, int, int]]:
    """{pred: (n_edges, n_subj, n_obj)} — the per-predicate statistics
    match_patterns' cost-based join ordering consumes. Computed once
    per KG snapshot and reused across queries (the ANALYZE step of
    this mini query planner; schema_graph is the same numbers at
    type granularity).

    Driver contract: the result is PREDICATE-VOCABULARY-sized (tens
    to thousands of relations in any real KG) — this is a bounded
    `.collect()` by the same argument as IVF centroids. Each distinct
    count is a distinct() on a uniform composite key + bounded count
    rollup; no Expand rewrite of the full edge stream."""
    e = edges.select(
        F.col(subj).alias("s"), F.col(pred).alias("p"), F.col(obj).alias("o")
    )
    n_edges = e.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    n_subj = (
        e.select("p", "s").distinct().groupBy("p")
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    n_obj = (
        e.select("p", "o").distinct().groupBy("p")
        .agg(F.count(F.lit(1)).alias("no"))
    )
    rows = n_edges.join(n_subj, "p").join(n_obj, "p").collect()
    return {r.p: (r.n, r.ns, r.no) for r in rows}


def match_patterns(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
    distinct: bool = False,
    stats: dict[str, tuple[int, int, int]] | None = None,
    optionals: list[list[tuple[str, str, str]]] | None = None,
    minus: list[list[tuple[str, str, str]]] | None = None,
    bindings: dict[str, tuple[str, ...]] | None = None,
    unions: list[list[tuple[str, str, str]]] | None = None,
    max_closure_depth: int = 10,
    filters: dict[str, list[tuple[str, str]]] | None = None,
    max_frontier_rows: int | None = None,
    group_by: list[str] | None = None,
    aggregates: dict[str, tuple[str, str]] | None = None,
    order_by: list[tuple[str, str]] | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Conjunctive triple-pattern matching (the SPARQL basic-graph-
    pattern core) over the materialized KG edge table: each pattern is
    (s, p, o) where a term is either a literal string or a '?var';
    the result has one column per variable (first-appearance order)
    and one row per satisfying binding (bag semantics; `distinct=True`
    for set semantics). This is the KG QUERY surface the north-star's
    node/edge tables exist to serve — "which ?x inhibits something
    that binds ?z" becomes two joins instead of bespoke code.

    Spark shape: each pattern scans the edge table with its literal
    positions pushed down as scan predicates (Catalyst folds them into
    PushedFilters on a parquet-backed KG) and its variable positions
    renamed to the variable; patterns then equi-join on shared
    variables in greedy most-bound-first order. Conjunctive queries
    are join-order independent in bag semantics, so the DuckDB oracle
    can verify with a naive formulation while this side plans
    selectively. Joins on entity-id keys are uniform unless the KG has
    hub entities; AQE skew-split handles those (the same contract as
    every entity-keyed join in this engine).

    A variable repeated WITHIN one pattern (e.g. ('?x', 'knows',
    '?x')) becomes an intra-pattern equality filter, also pushed to
    the scan.

    `stats` (from :func:`bgp_stats`, computed once per KG snapshot)
    upgrades the greedy order from the syntactic literal-count
    heuristic to System-R cardinality estimates — on skewed predicate
    distributions (every real KG) the seed pattern choice is the
    difference between starting from ten rows and starting from a
    billion. Results are identical either way (conjunctive queries
    are join-order independent); only the plan changes.

    `optionals` adds SPARQL OPTIONAL semantics: each entry is its own
    connected pattern group left-joined onto the required block on
    their shared variables — bindings that have no optional match
    keep their required columns and take NULLs for the group's new
    variables (bag semantics throughout: an optional group matching k
    ways multiplies its row k-fold, exactly as SPARQL defines it).
    Groups must each share >= 1 variable with the required block and
    introduce disjoint new variables.

    `bindings` adds SPARQL VALUES semantics: {var: allowed values}
    restricts a required variable to an explicit literal set — the
    parameterized-query surface ("run this shape for THESE 50
    entities"). Emitted as isin() predicates, which Catalyst pushes
    through the joins to the scans; at KG scale this is what turns a
    corpus-wide pattern sweep into an indexed lookup.

    `unions` adds SPARQL UNION semantics: each entry is an ALTERNATE
    required pattern group binding exactly the same variable set as
    `patterns`; the result is the bag union of all alternates (after
    VALUES restriction, before MINUS/OPTIONAL, which then apply to
    the union — the SPARQL algebra's group ordering). "x inhibits y
    OR x suppresses y" without running the query twice and stitching.

    `minus` adds SPARQL MINUS semantics: each entry is a connected
    pattern group; required bindings for which the group has ANY
    match on the shared variables are REMOVED (left anti-join — the
    "entities with no English label", "pairs not already linked"
    exclusion queries). Groups must share >= 1 variable with the
    required block; variables private to a MINUS group are
    existentially quantified and never appear in the output.

    `group_by` + `aggregates` add the SPARQL aggregation core
    (SELECT ?g (COUNT(*) AS ?n) ... GROUP BY ?g): `group_by` names
    output variables; `aggregates` is {out_col: (fn, var)} with fn in
    {'count', 'count_distinct', 'min', 'max'} and var an output
    variable or '*' (count only). Defaults to {"n": ("count", "*")}
    when only group_by is given. Applied AFTER the full algebra
    (UNION -> VALUES/FILTER -> MINUS -> OPTIONAL -> DISTINCT), i.e.
    over the solution bag the un-aggregated query would return —
    exactly the SPARQL group-graph-pattern ordering. One keyed
    shuffle; partial aggs absorb hub groups (count/min/max are
    algebraic; count_distinct rides Spark's Expand rewrite). Result
    ordering is the consumer's `.orderBy` — DataFrames are unordered.

    `order_by` + `limit` add the SPARQL ORDER BY / LIMIT top-k shape:
    `order_by` is [(col, 'asc'|'desc'), ...] over the FINAL output
    columns (variables, or aggregate names when group_by/aggregates
    ran); `limit` keeps the first k rows of that order. The sort is
    made TOTAL by appending every remaining output column ascending —
    without it, rows tied on the caller's keys would make the
    surviving-k set nondeterministic (engine-, partitioning-, and
    run-dependent), which breaks resumability and the oracle contract
    alike. A limit plans TakeOrderedAndProject (per-partition top-k,
    one tiny merge — never a global sort of the solution bag);
    `limit` without `order_by` is rejected rather than returning
    arbitrary rows. DataFrames are unordered downstream of any later
    operator, so `order_by` without `limit` is also rejected — use
    the consumer's own .orderBy for display ordering.

    `filters` adds the SPARQL FILTER core: {var: [(op, operand),
    ...]} with op in {'=', '!=', '<', '<=', '>', '>=', 'prefix',
    'contains', 'regex'} restricts a REQUIRED variable by a scalar
    predicate over its (string) value — the "?year >= '2020'",
    "STRSTARTS(?id, 'Q')", "regex(?name, 'ase$')" class. Each
    predicate is applied INSIDE every pattern frame that binds the
    variable (required block and every UNION alternate) before any
    join, so Catalyst folds it into the scan (PushedFilters for
    =/!=/range/prefix/contains on a parquet-backed KG; regex filters
    at the first projection) — pattern-local filtering cuts the seed
    cardinality the join-order estimator reasons about, instead of
    trimming the joined result. Equi-joined occurrences make one
    application sufficient; applying at all binding sites is the
    pushdown-maximizing equivalent. String comparisons are binary
    (ASCII-safe, both engines' default collation); 'regex' uses the
    RE2-compatible subset shared by Java and DuckDB regex — keep
    oracle-shared patterns in that subset.

    A literal predicate ending in '+' is a SPARQL property path
    (one-or-more): the pattern matches the predicate's transitive
    closure, bounded at `max_closure_depth` hops (bounded honestly —
    the closure table is materialized once per such predicate by
    fixed BFS pair-expansion rounds with first-arrival pruning, then
    reused by every pattern that names it). Contract: '+' paths are
    for HIERARCHY predicates (located_in, isa — bounded depth, tree
    fan-in); the closure of a dense social predicate is quadratic by
    nature and this operator will faithfully build it —
    `max_frontier_rows` backstops that contract (VERDICT r4 #6): the
    per-round closure frontier is already materialized by its
    localCheckpoint, so counting it is free; if a BFS round's NEW
    pair count exceeds the cap, the closure raises with the
    predicate, depth, and count instead of silently going quadratic.
    None (default) trusts the contract.
    """
    _validate_patterns(patterns)
    _validate_filters(filters, _pattern_vars(patterns))
    cols = {"s": subj, "p": pred, "o": obj}
    closures: dict[str, DataFrame] = {}

    def filter_pred(col: Column, op: str, val: str) -> Column:
        if op == "=":
            return col == val
        if op == "!=":
            return col != val
        if op == "<":
            return col < val
        if op == "<=":
            return col <= val
        if op == ">":
            return col > val
        if op == ">=":
            return col >= val
        if op == "prefix":
            return col.startswith(val)
        if op == "contains":
            return col.contains(val)
        return col.rlike(val)  # 'regex' — validated upstream

    def closure_frame(term: str) -> DataFrame:
        # transitive closure of base predicate term[:-1], presented
        # under the SAME (subj, pred, obj) column names so the
        # generic pattern machinery applies unchanged
        if term not in closures:
            base = (
                edges.where(F.col(pred) == term[:-1])
                .select(F.col(subj).alias("a"), F.col(obj).alias("b"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            reach = base
            frontier = base
            for depth in range(1, max_closure_depth):
                nxt = (
                    frontier.join(
                        base.select(
                            F.col("a").alias("b"), F.col("b").alias("c")
                        ),
                        "b",
                    )
                    .select("a", F.col("c").alias("b"))
                    .distinct()
                )
                frontier = nxt.join(
                    reach, ["a", "b"], "left_anti"
                ).localCheckpoint(eager=True)
                if max_frontier_rows is not None:
                    n = frontier.count()  # free: eager localCheckpoint
                    if n > max_frontier_rows:
                        raise ValueError(
                            f"property-path closure of "
                            f"'{term[:-1]}' exploded: {n} new pairs "
                            f"at depth {depth + 1} > "
                            f"max_frontier_rows={max_frontier_rows} "
                            f"— a dense predicate; '+' paths are for "
                            f"bounded-depth hierarchy predicates"
                        )
                reach = reach.unionByName(frontier).localCheckpoint(
                    eager=True
                )
            closures[term] = reach.select(
                F.col("a").alias(subj),
                F.lit(term).alias(pred),
                F.col("b").alias(obj),
            )
        return closures[term]

    def block(
        pats: list[tuple[str, str, str]], apply_filters: bool = False
    ) -> DataFrame:
        frames = []
        for pat in pats:
            p_term = pat[1]
            if not p_term.startswith("?") and p_term.endswith("+"):
                df = closure_frame(p_term)
            else:
                df = edges
            rename: dict[str, str] = {}  # var -> source col (1st position)
            for pos, term in zip(("s", "p", "o"), pat):
                c = cols[pos]
                if not term.startswith("?"):
                    df = df.where(F.col(c) == term)
                else:
                    v = term[1:]
                    if v in rename:  # repeated var inside one pattern
                        df = df.where(F.col(c) == F.col(rename[v]))
                    else:
                        rename[v] = c
            if apply_filters:
                for v, preds in (filters or {}).items():
                    if v in rename:
                        for op, val in preds:
                            df = df.where(
                                filter_pred(F.col(rename[v]), op, val)
                            )
            frames.append(
                df.select(*[F.col(c).alias(v) for v, c in rename.items()])
            )
        order = _join_order(pats, stats)
        out = frames[order[0]]
        for i in order[1:]:
            shared = [c for c in frames[i].columns if c in out.columns]
            out = out.join(frames[i], shared)
        return out

    out = block(patterns, apply_filters=True)
    req_vars = _pattern_vars(patterns)
    for group in unions or []:
        _validate_patterns(group)
        gvars = _pattern_vars(group)
        if set(gvars) != set(req_vars):
            raise ValueError(
                f"union group must bind exactly the required variables "
                f"{sorted(req_vars)!r}; got {sorted(gvars)!r}"
            )
        out = out.unionByName(
            block(group, apply_filters=True).select(*req_vars)
        )
    for v, vals in (bindings or {}).items():
        if v not in req_vars:
            raise ValueError(
                f"bindings variable '?{v}' is not bound by the "
                f"required patterns"
            )
        if not vals:
            raise ValueError(f"bindings for '?{v}' are empty")
        out = out.where(F.col(v).isin(*vals))
    for group in minus or []:
        _validate_patterns(group)
        shared = [v for v in _pattern_vars(group) if v in req_vars]
        if not shared:
            raise ValueError(
                f"minus group shares no variable with the required "
                f"block: {group!r}"
            )
        out = out.join(
            block(group).select(*shared).distinct(), shared, "left_anti"
        )
    all_vars = list(req_vars)
    opt_vars = _validate_optionals(req_vars, optionals)
    for group, (shared, new) in zip(optionals or [], opt_vars):
        out = out.join(block(group).select(*shared, *new), shared, "left")
        all_vars.extend(new)
    out = out.select(*all_vars)
    if distinct:
        out = out.distinct()
    if group_by is not None or aggregates is not None:
        gb, aggs = _validate_aggregates(group_by, aggregates, all_vars)
        exprs = []
        for name, (fn, var) in aggs.items():
            if fn == "count":
                col = F.count(F.lit(1)) if var == "*" else F.count(var)
            elif fn == "count_distinct":
                col = F.countDistinct(var)
            elif fn == "min":
                col = F.min(var)
            else:  # 'max' — validated upstream
                col = F.max(var)
            exprs.append(col.alias(name))
        out = out.groupBy(*gb).agg(*exprs)
    if order_by is not None or limit is not None:
        keys = _validate_order(order_by, limit, out.columns)
        # NULLS pinned explicitly (asc -> first, desc -> last): Spark's
        # defaults, but DuckDB defaults the OPPOSITE way — the oracle
        # twin emits the same explicit placement so OPTIONAL-produced
        # NULLs cannot flip the surviving-k set between engines
        out = out.orderBy(
            *[
                F.col(c).asc_nulls_first()
                if d == "asc"
                else F.col(c).desc_nulls_last()
                for c, d in keys
            ]
        ).limit(int(limit))
    return out


def match_patterns_oracle_sql(
    triples_sql: str,
    patterns: list[tuple[str, str, str]],
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
    distinct: bool = False,
    optionals: list[list[tuple[str, str, str]]] | None = None,
    minus: list[list[tuple[str, str, str]]] | None = None,
    bindings: dict[str, tuple[str, ...]] | None = None,
    unions: list[list[tuple[str, str, str]]] | None = None,
    max_closure_depth: int = 10,
    filters: dict[str, list[tuple[str, str]]] | None = None,
    group_by: list[str] | None = None,
    aggregates: dict[str, tuple[str, str]] | None = None,
    order_by: list[tuple[str, str]] | None = None,
    limit: int | None = None,
) -> str:
    """DuckDB twin of match_patterns, generated from the SAME pattern
    list (repo oracle policy: one definition per side). Emits the
    naive conjunctive formulation — cross product + WHERE — which is
    bag-equivalent to any join order, so it checks the Spark side's
    greedy plan without replicating it; OPTIONAL groups become LEFT
    JOINs of their own naive blocks on the shared variables; MINUS
    groups become NOT EXISTS anti-conditions; '+' property paths
    become depth-bounded WITH RECURSIVE closure CTEs (flat chain, per
    the repo's nested-WITH DuckDB quirk — so `triples_sql` must be a
    plain SELECT, not itself a WITH). `triples_sql` yields
    (subj, pred, obj)-shaped rows under the given column names.
    `filters` mirrors match_patterns' FILTER dict — emitted as WHERE
    conditions on the variable's first-occurrence column inside the
    required block and every UNION alternate (string comparison /
    prefix / contains / regexp_matches; same binary-collation and
    shared-regex-subset contract as the Spark side)."""
    _validate_patterns(patterns)
    _validate_filters(filters, _pattern_vars(patterns))
    cols = {"s": subj, "p": pred, "o": obj}

    def filter_cond(ref: str, op: str, val: str) -> str:
        lit = "'" + val.replace("'", "''") + "'"
        if op in {"=", "<", "<=", ">", ">="}:
            return f"{ref} {op} {lit}"
        if op == "!=":
            return f"{ref} <> {lit}"
        if op == "prefix":
            return f"starts_with({ref}, {lit})"
        if op == "contains":
            return f"contains({ref}, {lit})"
        return f"regexp_matches({ref}, {lit})"  # 'regex'

    closure_preds: list[str] = []
    for grp in [patterns, *(optionals or []), *(minus or []), *(unions or [])]:
        for pat in grp:
            p_term = pat[1]
            if (
                not p_term.startswith("?")
                and p_term.endswith("+")
                and p_term not in closure_preds
            ):
                closure_preds.append(p_term)

    def closure_rel(term: str) -> str:
        return f"tc{closure_preds.index(term)}"

    def naive(
        pats: list[tuple[str, str, str]], apply_filters: bool = False
    ) -> str:
        conds: list[str] = []
        first_occ: dict[str, str] = {}
        froms: list[str] = []
        for i, pat in enumerate(pats):
            p_term = pat[1]
            is_closure = not p_term.startswith("?") and p_term.endswith("+")
            if is_closure:
                froms.append(
                    f"(SELECT a AS {subj}, b AS {obj} "
                    f"FROM {closure_rel(p_term)}) p{i}"
                )
            else:
                froms.append(f"t p{i}")
            for pos, term in zip(("s", "p", "o"), pat):
                if pos == "p" and is_closure:
                    continue  # the closure relation IS the predicate
                ref = f"p{i}.{cols[pos]}"
                if not term.startswith("?"):
                    lit = term.replace("'", "''")
                    conds.append(f"{ref} = '{lit}'")
                elif term[1:] in first_occ:
                    conds.append(f"{ref} = {first_occ[term[1:]]}")
                else:
                    first_occ[term[1:]] = ref
        if apply_filters:
            for v, preds in (filters or {}).items():
                if v in first_occ:
                    for op, val in preds:
                        conds.append(filter_cond(first_occ[v], op, val))
        sel = ", ".join(
            f"{first_occ[v]} AS {v}" for v in _pattern_vars(pats)
        )
        where = f"\nWHERE {' AND '.join(conds)}" if conds else ""
        return f"SELECT {sel}\nFROM {', '.join(froms)}{where}"

    recursive = "RECURSIVE " if closure_preds else ""
    ctes = [f"t AS MATERIALIZED ({triples_sql})"]
    for term in closure_preds:
        rel = closure_rel(term)
        base = term[:-1].replace("'", "''")
        ctes.append(
            f"""{rel}_w(a, b, d) AS (
  SELECT DISTINCT {subj}, {obj}, 1 FROM t WHERE {pred} = '{base}'
  UNION
  SELECT w.a, e.{obj}, w.d + 1
  FROM {rel}_w w JOIN t e ON w.b = e.{subj}
  WHERE e.{pred} = '{base}' AND w.d < {max_closure_depth}
),
{rel} AS (SELECT DISTINCT a, b FROM {rel}_w)"""
        )
    with_block = f"WITH {recursive}" + ",\n".join(ctes)

    kw = "DISTINCT " if distinct else ""
    req_vars = _pattern_vars(patterns)
    req_src = naive(patterns, apply_filters=True)
    if unions:
        cast = ", ".join(req_vars)
        alts = [f"SELECT {cast} FROM ({naive(patterns, True)}) u0"]
        for ui, group in enumerate(unions, start=1):
            _validate_patterns(group)
            alts.append(f"SELECT {cast} FROM ({naive(group, True)}) u{ui}")
        req_src = "\nUNION ALL\n".join(alts)
    out_cols = [f"req.{v}" for v in req_vars]
    joins = []
    opt_vars = _validate_optionals(req_vars, optionals)
    for gi, (group, (shared, new)) in enumerate(zip(optionals or [], opt_vars)):
        on = " AND ".join(f"req.{v} = g{gi}.{v}" for v in shared)
        joins.append(f"LEFT JOIN ({naive(group)}) g{gi} ON {on}")
        out_cols.extend(f"g{gi}.{v}" for v in new)
    antis = []
    for v, vals in (bindings or {}).items():
        in_list = ", ".join(
            "'" + val.replace("'", "''") + "'" for val in vals
        )
        antis.append(f"req.{v} IN ({in_list})")
    for mi, group in enumerate(minus or []):
        _validate_patterns(group)
        shared = [v for v in _pattern_vars(group) if v in req_vars]
        on = " AND ".join(f"m{mi}.{v} = req.{v}" for v in shared)
        antis.append(
            f"NOT EXISTS (SELECT 1 FROM ({naive(group)}) m{mi} WHERE {on})"
        )
    nl = "\n"
    where = f"\nWHERE {' AND '.join(antis)}" if antis else ""
    core = f"""
{with_block}
SELECT {kw}{", ".join(out_cols)}
FROM ({req_src}) req
{nl.join(joins)}{where}
"""
    all_out = list(req_vars) + [v for _, new in opt_vars for v in new]
    final_cols = all_out
    if group_by is not None or aggregates is not None:
        gb, aggs = _validate_aggregates(group_by, aggregates, all_out)
        agg_sql = {
            "count": lambda v: "COUNT(*)" if v == "*" else f"COUNT({v})",
            "count_distinct": lambda v: f"COUNT(DISTINCT {v})",
            "min": lambda v: f"MIN({v})",
            "max": lambda v: f"MAX({v})",
        }
        sel = ", ".join(
            gb
            + [
                f"{agg_sql[fn](var)} AS {name}"
                for name, (fn, var) in aggs.items()
            ]
        )
        grp = f"\nGROUP BY {', '.join(gb)}" if gb else ""
        core = f"SELECT {sel}\nFROM ({core}) aggq{grp}"
        final_cols = gb + list(aggs)
    if order_by is not None or limit is not None:
        keys = _validate_order(order_by, limit, final_cols)
        ob = ", ".join(
            f"{c} {'ASC NULLS FIRST' if d == 'asc' else 'DESC NULLS LAST'}"
            for c, d in keys
        )
        core = (
            f"SELECT * FROM ({core}) ordq\nORDER BY {ob}\nLIMIT {int(limit)}"
        )
    return core


def functional_violations(
    edges: DataFrame,
    constraints: list[tuple[str, str]],
) -> DataFrame:
    """KG consistency QA: rows that break declared OWL-style property
    constraints. `constraints` is [(pred, kind)] with kind
    'functional' (a subject may have at most ONE object — capital_of)
    or 'inverse_functional' (an object may have at most one subject).
    Output: (pred, kind, entity, n_values, first_value, last_value) —
    one row per violating entity with its exact conflicting-value
    count and the lexicographic min/max values as repair anchors.
    This is the contradiction table a KG-construction pipeline reviews
    before promoting extracted edges to the canonical store.

    Exactness: input must be DISTINCT per (subj_id, pred, obj_id) —
    pass aggregate_edges output — so count(*) per key IS the distinct-
    value count; all integers, CASE on strings, no floats.

    Scale: the constrained-predicate filter is a tiny isin pushed to
    the scan (only declared predicates survive); each kind is ONE
    composite-key shuffle ((pred, entity) — uniform unless one entity
    violates massively, which partial aggs absorb since min/max/count
    are algebraic). The two kinds union without a further shuffle.
    No collect_set: conflicting-value sets can be hub-sized, so state
    stays O(1) per key.
    """
    kinds = {k for _, k in constraints}
    bad = kinds - {"functional", "inverse_functional"}
    if bad:
        raise ValueError(f"unknown constraint kind(s): {sorted(bad)!r}")

    def _side(kind: str, key: str, val: str) -> DataFrame:
        preds = sorted(p for p, k in constraints if k == kind)
        return (
            edges.where(F.col("pred").isin(preds))
            .groupBy("pred", F.col(key).alias("entity"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_values"),
                F.min(val).alias("first_value"),
                F.max(val).alias("last_value"),
            )
            .where(F.col("n_values") > 1)
            .select(
                "pred",
                F.lit(kind).alias("kind"),
                "entity",
                "n_values",
                "first_value",
                "last_value",
            )
        )

    parts = []
    if any(k == "functional" for _, k in constraints):
        parts.append(_side("functional", "subj_id", "obj_id"))
    if any(k == "inverse_functional" for _, k in constraints):
        parts.append(_side("inverse_functional", "obj_id", "subj_id"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def functional_violations_oracle_sql(
    with_prefix: str,
    constraints: list[tuple[str, str]],
) -> str:
    """DuckDB twin of functional_violations; `with_prefix` is a WITH
    chain whose last relation is e(subj_id, pred, obj_id), DISTINCT.
    Generated from the SAME constraints list (repo oracle policy)."""
    def _in(kind: str) -> str:
        preds = sorted(p for p, k in constraints if k == kind)
        return ", ".join("'" + p.replace("'", "''") + "'" for p in preds)

    selects = []
    if any(k == "functional" for _, k in constraints):
        selects.append(f"""
SELECT pred, 'functional' AS kind, subj_id AS entity,
       count(*)::BIGINT AS n_values,
       min(obj_id) AS first_value, max(obj_id) AS last_value
FROM e WHERE pred IN ({_in("functional")})
GROUP BY pred, subj_id HAVING count(*) > 1""")
    if any(k == "inverse_functional" for _, k in constraints):
        selects.append(f"""
SELECT pred, 'inverse_functional' AS kind, obj_id AS entity,
       count(*)::BIGINT AS n_values,
       min(subj_id) AS first_value, max(subj_id) AS last_value
FROM e WHERE pred IN ({_in("inverse_functional")})
GROUP BY pred, obj_id HAVING count(*) > 1""")
    return f"{with_prefix}\n" + "\nUNION ALL\n".join(selects)


def entity_summaries(
    edges: DataFrame,
    k: int = 5,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Entity cards: per subject entity the top-k facts ranked by
    predicate INFORMATIVENESS — a rarer predicate says more about its
    subject than a ubiquitous one (the predicate-level IDF intuition,
    integer-exact: rank ascending on the predicate's global edge
    count, ties (pred, obj) ascending so cards are deterministic).
    The serving-layer projection of the node/edge tables: "show me
    the k facts that best characterize this entity".

    Scale: predicate totals are a bounded broadcast table; the only
    shuffle is the per-entity rank window, partitioned BY entity — a
    hub entity sorts its own facts inside one task (degree-bounded,
    the bounded-per-key window class), never the corpus.

    Reference parity: no analog (the reference's analysis ends at
    frequency rollups, scripts/analysis.py:40-80).
    """
    t = edges.select(
        F.col(subj).alias("entity_id"),
        F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    ).distinct()
    ptot = t.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("pred_count")
    )
    w = Window.partitionBy("entity_id").orderBy("pred_count", "pred", "obj")
    return (
        t.join(F.broadcast(ptot), "pred")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("entity_id", "rank", "pred", "obj", "pred_count")
    )


def entity_summaries_oracle_sql(triples_sql: str, k: int = 5) -> str:
    """DuckDB twin of :func:`entity_summaries`."""
    return f"""
WITH t AS MATERIALIZED (
  SELECT DISTINCT subj AS entity_id, pred, obj FROM ({triples_sql})
),
pt AS (SELECT pred, count(*)::BIGINT AS pred_count FROM t GROUP BY pred),
r AS (
  SELECT t.entity_id, t.pred, t.obj, pt.pred_count,
         row_number() OVER (
           PARTITION BY t.entity_id
           ORDER BY pt.pred_count, t.pred, t.obj
         )::BIGINT AS rank
  FROM t JOIN pt ON pt.pred = t.pred
)
SELECT entity_id, rank, pred, obj, pred_count FROM r WHERE rank <= {int(k)}
"""


def schema_graph(
    triples: DataFrame,
    types: DataFrame,
    subj: str = "subj",
    obj: str = "obj",
    id_col: str = "entity_id",
    type_col: str = "ent_type",
) -> DataFrame:
    """(subj_type, pred, obj_type, n_edges, n_subj, n_obj) — the
    TYPE-LEVEL quotient of the instance KG: every edge mapped to its
    endpoint types and rolled up, with exact distinct-participant
    counts per quotient edge. The schema summary a KG consumer reads
    FIRST (what relates to what, and how broadly), and the
    size-estimation input a BGP planner (match_patterns) would use,
    as the full type x pred x type matrix. Untyped entities
    roll up under 'unknown' rather than dropping edges — the quotient
    must cover the instance graph.

    Shape: the type table is entity-vocabulary-sized (<< edges), so
    both endpoint joins broadcast; then THREE skew-free aggregates —
    n_edges is one algebraic count rollup, and each distinct-
    participant count is a distinct() on a uniform composite key
    followed by a schema-cardinality count — joined back broadcast
    (the quotient is small by definition). countDistinct's Expand
    rewrite (which would triple the map-side stream of the ONE big
    pass) is deliberately avoided; partial aggs absorb hot predicates
    everywhere. Integer-exact end to end.
    """
    ty = F.broadcast(
        types.select(
            F.col(id_col).alias("_e"), F.col(type_col).alias("_t")
        )
    )
    typed = (
        triples.select(subj, "pred", obj)
        .join(ty.withColumnRenamed("_e", subj), subj, "left")
        .withColumnRenamed("_t", "subj_type")
        .join(
            ty.withColumnRenamed("_e", obj).withColumnRenamed("_t", "_ot"),
            obj,
            "left",
        )
        .select(
            F.coalesce("subj_type", F.lit("unknown")).alias("subj_type"),
            "pred",
            F.coalesce("_ot", F.lit("unknown")).alias("obj_type"),
            F.col(subj).alias("_s"),
            F.col(obj).alias("_o"),
        )
    )
    keys = ["subj_type", "pred", "obj_type"]
    n_edges = typed.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    n_subj = (
        typed.select(*keys, "_s")
        .distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("n_subj"))
    )
    n_obj = (
        typed.select(*keys, "_o")
        .distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("n_obj"))
    )
    return n_edges.join(F.broadcast(n_subj), keys).join(
        F.broadcast(n_obj), keys
    )


def schema_graph_oracle_sql(triples_sql: str, types_sql: str) -> str:
    """DuckDB twin of :func:`schema_graph`; `triples_sql` yields
    (subj, pred, obj), `types_sql` yields (entity_id, ent_type)."""
    return f"""
WITH sg_t AS ({triples_sql}),
sg_ty AS ({types_sql}),
sg_typed AS (
  SELECT coalesce(ts.ent_type, 'unknown') AS subj_type, t.pred,
         coalesce(tyo.ent_type, 'unknown') AS obj_type,
         t.subj AS s, t.obj AS o
  FROM sg_t t
  LEFT JOIN sg_ty ts ON t.subj = ts.entity_id
  LEFT JOIN sg_ty tyo ON t.obj = tyo.entity_id
)
SELECT subj_type, pred, obj_type,
       count(*)::BIGINT AS n_edges,
       count(DISTINCT s)::BIGINT AS n_subj,
       count(DISTINCT o)::BIGINT AS n_obj
FROM sg_typed GROUP BY subj_type, pred, obj_type
"""


def metapath_join(
    triples: DataFrame,
    path: tuple[str, ...],
    subj: str = "subj",
    obj: str = "obj",
) -> DataFrame:
    """(src, dst, n_paths) — the composed relation along a PREDICATE
    SEQUENCE: src --p1--> x --p2--> ... --pk--> dst, with the exact
    count of distinct intermediate instantiations. The heterogeneous-
    network metapath primitive (PathSim's building block): composing
    works_for>located_in materializes "person connected to city via
    an employer", a typed multi-hop relation kg_paths (which
    enumerates over ALL predicates) cannot express. n_paths is the
    natural edge weight for downstream similarity or rule evidence.

    Shape: each hop filters the triple table to ONE predicate (the
    filter pushes to the scan) and deduplicates to its distinct
    (subj, obj) pairs — multiplicities from repeated extraction must
    not multiply path counts — then k-1 equi-joins chain hops on the
    shared intermediate node, and ONE rollup counts instantiations
    per endpoint pair. Hot intermediate nodes (a hub employer) fan
    out inside the joins — that is the semantics, the count IS the
    fan-out — while the final count rollup absorbs them map-side.
    Each hop is localCheckpoint'ed so chained self-joins of the same
    source never trip ambiguous-lineage resolution. Integer-exact.
    """
    if not path:
        raise ValueError("metapath_join needs at least one predicate")

    def hop(p: str) -> DataFrame:
        return (
            triples.where(F.col("pred") == p)
            .select(F.col(subj).alias("a"), F.col(obj).alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    cur = hop(path[0]).select(F.col("a").alias("src"), F.col("b").alias("cur"))
    for p in path[1:]:
        nxt = hop(p)
        cur = (
            cur.join(nxt, cur["cur"] == nxt["a"])
            .select("src", F.col("b").alias("cur"))
        )
    return (
        cur.groupBy("src", F.col("cur").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )


def metapath_join_oracle_sql(triples_sql: str, path: tuple[str, ...]) -> str:
    """DuckDB twin of :func:`metapath_join`; `triples_sql` yields
    (subj, pred, obj)."""
    cte_body, joins = _metapath_hop_ctes(triples_sql, path)
    last = len(path) - 1
    return f"""
WITH {cte_body}
SELECT h0.a AS src, h{last}.b AS dst, count(*)::BIGINT AS n_paths
FROM {joins}
GROUP BY h0.a, h{last}.b
"""


def _metapath_hop_ctes(
    triples_sql: str, path: tuple[str, ...]
) -> tuple[str, str]:
    """(cte_body, final_join) shared by the metapath oracles."""
    ctes = [f"mp_t AS ({triples_sql})"]
    for i, p in enumerate(path):
        ctes.append(
            f"mp_h{i} AS (SELECT DISTINCT subj AS a, obj AS b FROM mp_t "
            f"WHERE pred = '{p}')"
        )
    joins = "mp_h0 h0"
    for i in range(1, len(path)):
        joins += f" JOIN mp_h{i} h{i} ON h{i - 1}.b = h{i}.a"
    return ",\n".join(ctes), joins


def metapath_pathsim(
    triples: DataFrame,
    path: tuple[str, ...],
    subj: str = "subj",
    obj: str = "obj",
) -> DataFrame:
    """(a, b, n_paths, sim_micro) — PathSim similarity (Sun et al.,
    VLDB 2011) between same-type entities under a SYMMETRIC metapath:

        sim(x, y) = 2·M(x, y) / (M(x, x) + M(y, y))

    where M counts distinct metapath instantiations (metapath_join).
    The normalization is what makes this the standard "peers, not
    just neighbors of hubs" measure: a tiny startup sharing its only
    employer-path with you scores higher than a megacorp sharing one
    of its thousands. Caller contract: `path` must be symmetric (a
    sequence composed with its inverse, e.g. works_for>employs) so
    M is symmetric and the diagonal exists for every connected node;
    each unordered pair reports once (a < b).

    Exactness: sim is the BIGINT micro-unit floor
    (2e6·M(x,y)) div (M(x,x)+M(y,y)) — no floats. Shape: one
    metapath_join (hop joins + count rollup), then the diagonal
    (node-vocabulary-sized by definition) broadcasts onto the pair
    table twice; pairs without both diagonals are dropped (inner
    join), which under the symmetry contract cannot happen.
    """
    m = metapath_join(triples, path, subj=subj, obj=obj)
    m = m.localCheckpoint(eager=True)
    diag = m.where(F.col("src") == F.col("dst")).select(
        F.col("src").alias("_n"), F.col("n_paths").alias("_self")
    )
    pairs = m.where(F.col("src") < F.col("dst"))
    return (
        pairs.join(
            F.broadcast(diag.withColumnRenamed("_n", "src")), "src"
        )
        .withColumnRenamed("_self", "_sa")
        .join(
            F.broadcast(diag.withColumnRenamed("_n", "dst")), "dst"
        )
        .withColumnRenamed("_self", "_sb")
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            "n_paths",
            F.expr("(2000000 * n_paths) div (_sa + _sb)")
            .cast("long")
            .alias("sim_micro"),
        )
    )


def metapath_pathsim_oracle_sql(
    triples_sql: str, path: tuple[str, ...]
) -> str:
    """DuckDB twin of :func:`metapath_pathsim` (flat CTE chain)."""
    cte_body, joins = _metapath_hop_ctes(triples_sql, path)
    last = len(path) - 1
    return f"""
WITH {cte_body},
mp_m AS (
  SELECT h0.a AS src, h{last}.b AS dst, count(*)::BIGINT AS n_paths
  FROM {joins}
  GROUP BY h0.a, h{last}.b
),
mp_diag AS (SELECT src AS n, n_paths AS self_n FROM mp_m WHERE src = dst)
SELECT m.src AS a, m.dst AS b, m.n_paths,
       ((2000000 * m.n_paths) // (da.self_n + db.self_n))::BIGINT
         AS sim_micro
FROM mp_m m
JOIN mp_diag da ON m.src = da.n
JOIN mp_diag db ON m.dst = db.n
WHERE m.src < m.dst
"""


def match_patterns_when(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    epoch_col: str = "epoch",
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
) -> DataFrame:
    """STANDING-QUERY matching over an epoch-stamped triple stream:
    the distinct bindings of a conjunctive pattern set plus
    `first_epoch` — the earliest crawl epoch at which the WHOLE
    binding held. A binding holds once every constituent triple has
    been asserted, so first_epoch = greatest over the matched
    triples' own first-assertion epochs. diff two epochs of a
    standing query by filtering this one table (`first_epoch = e` IS
    the per-epoch delta feed) — the incremental-KG monitor
    ("alert me when X starts inhibiting something that binds Z")
    without re-running the query per epoch and anti-joining histories.

    Contract: required conjunctive patterns only (no OPTIONAL/MINUS/
    closure — a standing query is a materialized view; keep it
    deterministic and monotone). Bindings are SET semantics (distinct
    triples by construction: the per-(s,p,o) min-epoch rollup is the
    dedup). Integer-exact.

    Shape: ONE rollup of the stream to distinct (s, p, o, min epoch)
    — then the standard pattern
    equi-joins with each frame carrying its _e column, and
    first_epoch = greatest(...) in the final projection. Join order
    via the same greedy planner as match_patterns.
    """
    _validate_patterns(patterns)
    for pat in patterns:
        if pat[1].endswith("+") and not pat[1].startswith("?"):
            raise ValueError(
                "match_patterns_when supports plain predicates only "
                f"(no '+' closure): {pat!r}"
            )
    rolled = (
        edges.groupBy(
            F.col(subj).alias("_s"),
            F.col(pred).alias("_p"),
            F.col(obj).alias("_o"),
        )
        .agg(F.min(F.col(epoch_col).cast("long")).alias("_e"))
        .localCheckpoint(eager=True)
    )
    cols = {"s": "_s", "p": "_p", "o": "_o"}
    frames = []
    for i, pat in enumerate(patterns):
        df = rolled
        rename: dict[str, str] = {}
        for pos, term in zip(("s", "p", "o"), pat):
            c = cols[pos]
            if not term.startswith("?"):
                df = df.where(F.col(c) == term)
            else:
                v = term[1:]
                if v in rename:
                    df = df.where(F.col(c) == F.col(rename[v]))
                else:
                    rename[v] = c
        sel = [F.col(c).alias(v) for v, c in rename.items()]
        frames.append(df.select(*sel, F.col("_e").alias(f"_e{i}")))
    order = _join_order(patterns)
    out = frames[order[0]]
    for i in order[1:]:
        shared = [
            c for c in frames[i].columns
            if c in out.columns and not c.startswith("_e")
        ]
        out = out.join(frames[i], shared)
    first = F.greatest(*[F.col(f"_e{i}") for i in range(len(patterns))]) \
        if len(patterns) > 1 else F.col("_e0")
    # a binding may arise from SEVERAL triple combinations (different
    # join witnesses); it first holds at the EARLIEST complete one
    pvars = _pattern_vars(patterns)
    return (
        out.select(*pvars, first.cast("long").alias("_fe"))
        .groupBy(*pvars)
        .agg(F.min("_fe").alias("first_epoch"))
    )


def match_patterns_when_oracle_sql(
    triples_sql: str,
    patterns: list[tuple[str, str, str]],
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
) -> str:
    """DuckDB twin of :func:`match_patterns_when`; `triples_sql`
    yields (subj, pred, obj, epoch)-shaped rows under the given
    column names."""
    _validate_patterns(patterns)
    cols = {"s": "s", "p": "p", "o": "o"}
    conds: list[str] = []
    first_occ: dict[str, str] = {}
    e_terms = []
    for i, pat in enumerate(patterns):
        e_terms.append(f"p{i}.e")
        for pos, term in zip(("s", "p", "o"), pat):
            ref = f"p{i}.{cols[pos]}"
            if not term.startswith("?"):
                lit = term.replace("'", "''")
                conds.append(f"{ref} = '{lit}'")
            elif term[1:] in first_occ:
                conds.append(f"{ref} = {first_occ[term[1:]]}")
            else:
                first_occ[term[1:]] = ref
    sel = ", ".join(f"{first_occ[v]} AS {v}" for v in _pattern_vars(patterns))
    fe = (
        f"greatest({', '.join(e_terms)})" if len(e_terms) > 1 else e_terms[0]
    )
    froms = ", ".join(f"mw p{i}" for i in range(len(patterns)))
    where = f"\nWHERE {' AND '.join(conds)}" if conds else ""
    group = ", ".join(_pattern_vars(patterns))
    return f"""
WITH mw AS MATERIALIZED (
  SELECT {subj} AS s, {pred} AS p, {obj} AS o,
         min(epoch)::BIGINT AS e
  FROM ({triples_sql}) GROUP BY 1, 2, 3
)
SELECT {sel}, min({fe})::BIGINT AS first_epoch
FROM {froms}{where}
GROUP BY {group}
"""
