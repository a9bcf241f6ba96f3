"""Triple extraction: linked mentions -> (subj, pred, obj) edges.

Generalizes the reference's germ of relation extraction —
`hasCoOccurrence = len(entities) >= 2` per sentence
(scripts/entity_parser.py:41-42) — into ordered co-occurrence pairs:
for each sentence, the DISTINCT canonical entity ids in span order
(first occurrence; ties (begin, end, id)); emit (id_i,
'co_occurs_with', id_j) for i < j (SURVEY.md section 7.0.4).

Spark shape: one groupBy (url, sent_idx, entity_id) for first-occurrence
spans, a row_number window on the same key, then a per-sentence
self-equi-join on (url, sent_idx). All three reuse ONE hash partitioning
on (url, sent_idx) — Catalyst/AQE sees the shared clustering, and
sentence groups are tiny (a handful of entities), so the self-join
never explodes. Skewed hosts spread across partitions because the key
includes sent_idx and url (full url, not host).
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
      2. groupBy (url, sent_idx) collect the (span, id) structs, sort
         the ARRAY in-memory (sentences hold a handful of entities, so
         the sort is trivially cheap and bounded);
      3. nested array transform emits the i<j pairs; one explode.
    ONE shuffle: the explicit repartition on (url, sent_idx) satisfies
    BOTH groupBys' clustering requirements (hash on a PREFIX of the
    grouping key co-locates every group), so EnsureRequirements inserts
    no further exchange — verified 2 Exchanges -> 1 in the physical
    plan. No join, no window state. `extract_triples_join` keeps the
    relational formulation as a cross-validation path.
    """
    ids = (
        linked_mentions.where(F.col("entity_id") != "")
        .repartition(F.col("url"), F.col("sent_idx"))
        .groupBy("url", "sent_idx", "entity_id")
        # lexicographic-min (begin, end): the id's FIRST occurrence in
        # canonical mention order, not independent per-column minima
        .agg(F.min(F.struct("begin", "end")).alias("first_span"))
    )
    per_sent = ids.groupBy("url", "sent_idx").agg(
        F.array_sort(
            F.collect_list(F.struct("first_span", "entity_id"))
        ).getField("entity_id").alias("ids")
    )
    n = F.size("ids")
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("subj_id"), y.alias("obj_id")),
            ),
        )
    )
    return (
        per_sent.where(n >= 2)
        .select("url", "sent_idx", F.explode(pairs).alias("p"))
        .select(
            "url",
            "sent_idx",
            F.col("p.subj_id").alias("subj_id"),
            F.lit(pred).alias("pred"),
            F.col("p.obj_id").alias("obj_id"),
        )
    )


def extract_triples_join(
    linked_mentions: DataFrame,
    pred: str = PRED_CO_OCCURS,
) -> DataFrame:
    """Relational formulation of extract_triples (row_number window +
    per-sentence self-join) — slower at scale, kept as the
    cross-validation twin; results are identical (tested)."""
    ids = (
        linked_mentions.where(F.col("entity_id") != "")
        .groupBy("url", "sent_idx", "entity_id")
        .agg(F.min(F.struct("begin", "end")).alias("first_span"))
    )
    w = Window.partitionBy("url", "sent_idx").orderBy("first_span", "entity_id")
    ranked = ids.withColumn("ord", F.row_number().over(w)).select(
        "url", "sent_idx", "entity_id", "ord"
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.url") == F.col("b.url"))
            & (F.col("a.sent_idx") == F.col("b.sent_idx"))
            & (F.col("a.ord") < F.col("b.ord")),
        )
        .select(
            F.col("a.url").alias("url"),
            F.col("a.sent_idx").alias("sent_idx"),
            F.col("a.entity_id").alias("subj_id"),
            F.lit(pred).alias("pred"),
            F.col("b.entity_id").alias("obj_id"),
        )
    )


def aggregate_edges(triples: DataFrame, exact_sets: bool = False) -> DataFrame:
    """Deduplicated edge table with provenance (SURVEY section 7.2.8):
    (subj_id, pred, obj_id) -> support count + distinct-doc count
    (+ exemplar urls in the test profile — unbounded sets are gated off
    at web scale, same policy as analysis.entity_frequency)."""
    aggs = [
        F.count(F.lit(1)).alias("support"),
        F.countDistinct("url").alias("doc_count"),
    ]
    if exact_sets:
        aggs.append(
            F.slice(F.sort_array(F.collect_set("url")), 1, 16).alias("example_urls")
        )
    return triples.groupBy("subj_id", "pred", "obj_id").agg(*aggs)


# Dependency-pattern predicate extraction (north_star: "dependency-
# pattern triple extraction (subj, pred, obj)"). The reference never
# ships a dependency parser — its relation signal is bare co-occurrence
# (scripts/entity_parser.py:41-42) — so the pinned contract here is a
# deterministic PATTERN rule, the classic dep-parse surrogate:
#   pred(subj, obj) = canonical form of the FIRST relation-verb token
#   in the text strictly BETWEEN subj's and obj's first occurrences,
#   else the co-occurrence fallback.
# A statistical parser (spaCy/stanza) can be slotted in behind the same
# output contract via a pandas-UDF variant; the rule form keeps the hot
# path 100% JVM (whole-stage codegen, zero Python).
PRED_LEXICON: dict[str, str] = {}
for _canon, _forms in {
    "activates": ("activate", "activates", "activated", "activating"),
    "inhibits": ("inhibit", "inhibits", "inhibited", "inhibiting"),
    "binds": ("bind", "binds", "bound"),
    "regulates": ("regulate", "regulates", "regulated", "regulating"),
    "induces": ("induce", "induces", "induced", "inducing"),
    "suppresses": ("suppress", "suppresses", "suppressed", "suppressing"),
    "phosphorylates": ("phosphorylate", "phosphorylates", "phosphorylated"),
    "encodes": ("encode", "encodes", "encoded", "encoding"),
    "targets_": ("targets", "targeted", "targeting"),
    "blocks": ("block", "blocks", "blocked", "blocking"),
    "promotes": ("promote", "promotes", "promoted", "promoting"),
    "mediates": ("mediate", "mediates", "mediated", "mediating"),
    "modulates": ("modulate", "modulates", "modulated", "modulating"),
    "causes": ("cause", "causes", "caused", "causing"),
    "treats": ("treat", "treats", "treated", "treating"),
    "interacts_with": ("interacts", "interacting", "interact"),
}.items():
    for _f in _forms:
        PRED_LEXICON[_f] = _canon.rstrip("_")


def extract_predicate_triples(
    linked_mentions: DataFrame,
    sentences: DataFrame,
    lexicon: dict[str, str] | None = None,
    fallback: str = PRED_CO_OCCURS,
) -> DataFrame:
    """linked mentions + sentences -> (url, sent_idx, subj_id, pred,
    obj_id) with pattern-extracted predicates.

    Plan: the same two-shuffle array formulation as extract_triples,
    but pairs carry the inter-span char window (subj.end, obj.begin);
    ONE extra equi-join on (url, sent_idx) attaches the sentence text
    (co-clustered with the groupBys — AQE reuses the partitioning),
    then the predicate rule is pure column algebra: substring ->
    lowercase -> non-letter split -> first lexicon hit via a literal
    map. Overlapping/nested spans yield an empty window -> fallback.
    """
    lex = PRED_LEXICON if lexicon is None else lexicon
    lex_map = F.create_map(
        *[F.lit(x) for surface, canon in sorted(lex.items()) for x in (surface, canon)]
    )

    ids = (
        linked_mentions.where(F.col("entity_id") != "")
        # one shuffle feeds both groupBys — see extract_triples
        .repartition(F.col("url"), F.col("sent_idx"))
        .groupBy("url", "sent_idx", "entity_id")
        .agg(F.min(F.struct("begin", "end")).alias("first_span"))
    )
    per_sent = ids.groupBy("url", "sent_idx").agg(
        F.array_sort(F.collect_list(F.struct("first_span", "entity_id"))).alias("ents")
    )
    n = F.size("ents")
    pairs = F.flatten(
        F.transform(
            F.col("ents"),
            lambda x, i: F.transform(
                F.slice(F.col("ents"), i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x.getField("entity_id").alias("subj_id"),
                    y.getField("entity_id").alias("obj_id"),
                    x.getField("first_span").getField("end").alias("gap_begin"),
                    y.getField("first_span").getField("begin").alias("gap_end"),
                ),
            ),
        )
    )
    exploded = (
        per_sent.where(n >= 2)
        .select("url", "sent_idx", F.explode(pairs).alias("p"))
        .join(sentences.select("url", "sent_idx", "sentence"), ["url", "sent_idx"])
    )
    gap = F.expr(
        "substring(sentence, p.gap_begin + 1, greatest(p.gap_end - p.gap_begin, 0))"
    )
    toks = F.split(F.lower(gap), r"[^\p{L}]+")
    # try_element_at: ANSI-safe on missing map keys / empty hit arrays
    canon = F.try_element_at(
        F.filter(
            F.transform(toks, lambda t: F.try_element_at(lex_map, t)),
            lambda c: c.isNotNull(),
        ),
        F.lit(1),
    )
    return exploded.select(
        "url",
        "sent_idx",
        F.col("p.subj_id").alias("subj_id"),
        F.coalesce(canon, F.lit(fallback)).alias("pred"),
        F.col("p.obj_id").alias("obj_id"),
    )


def predicate_cardinality(edges: DataFrame) -> DataFrame:
    """Per-predicate functional-property profile over the DISTINCT
    edge table: (pred, n_edges, n_subj, n_obj, max_fanout, max_fanin,
    card_class) where card_class classifies the relation as
    '1:1' / '1:N' / 'N:1' / 'N:M' from the max objects-per-subject
    (fanout) and max subjects-per-object (fanin).

    This is the schema-induction step of KG construction (north_star:
    "materializing deduplicated node/edge tables"): functional
    predicates ('1:N' fanin==1, e.g. capital_of) become UNIQUE
    constraints / conflict-resolution keys downstream, and the profile
    is the standard input to cardinality-aware link-prediction
    sampling (Bordes et al. 2013's bern heuristic).

    Exactness: the input is deduplicated per (subj, pred, obj) — pass
    `aggregate_edges` output or dedup first — so every count is an
    exact integer; card_class is a CASE on integers. No floats.

    Scale: the edge table is localCheckpoint'ed (it is the
    materialized KG product anyway) so the fanout and fanin branches
    scan it once each instead of recomputing the full extraction
    lineage twice. Each branch is two keyed shuffles: the heavy one on
    the UNIFORM composite key ((pred, subj_id) / (pred, obj_id)) with
    map-side partial agg, then a second shuffle of the already-
    collapsed per-(pred, key) rollup onto pred. The alternative single
    shuffle — repartition("pred") serves both aggs via the key-prefix
    rule — is deliberately rejected: the predicate vocabulary is tiny
    and Zipf-skewed (co_occurs_with alone carries most of a real KG),
    so hashing the raw edge stream by pred alone sends ~all rows to
    one task. Composite-key first, collapse, THEN the skewed-but-tiny
    key. The per-pred rollups are vocabulary-sized, so the final join
    on pred is AQE-broadcast. Plan-audited: 4 exchanges (2 per
    branch) + 1 broadcast, none carrying the raw stream on a skewed
    key.
    """
    e = edges.select("subj_id", "pred", "obj_id").localCheckpoint(eager=True)
    fanout = (
        e.groupBy("pred", "subj_id")
        .agg(F.count(F.lit(1)).alias("n_obj_per_subj"))
        .groupBy("pred")
        .agg(
            F.sum("n_obj_per_subj").cast("long").alias("n_edges"),
            F.count(F.lit(1)).cast("long").alias("n_subj"),
            F.max("n_obj_per_subj").cast("long").alias("max_fanout"),
        )
    )
    fanin = (
        e.groupBy("pred", "obj_id")
        .agg(F.count(F.lit(1)).alias("n_subj_per_obj"))
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obj"),
            F.max("n_subj_per_obj").cast("long").alias("max_fanin"),
        )
    )
    card = (
        F.when((F.col("max_fanout") == 1) & (F.col("max_fanin") == 1), "1:1")
        .when(F.col("max_fanin") == 1, "1:N")
        .when(F.col("max_fanout") == 1, "N:1")
        .otherwise("N:M")
    )
    return fanout.join(fanin, "pred").select(
        "pred",
        "n_edges",
        "n_subj",
        "n_obj",
        "max_fanout",
        "max_fanin",
        card.alias("card_class"),
    )


def predicate_cardinality_oracle_sql(with_prefix: str) -> str:
    """DuckDB mirror of predicate_cardinality; `with_prefix` is a
    complete WITH chain whose LAST relation is e(subj_id, pred,
    obj_id), already DISTINCT — lets callers feed shared preludes
    without nesting WITHs (the entity_bursts pattern). Kept beside the
    operator so the expression trees cannot drift (repo oracle
    policy)."""
    return f"""{with_prefix},
fanout AS (
  SELECT pred, subj_id, count(*) AS n_obj_per_subj
  FROM e GROUP BY pred, subj_id
),
fo AS (
  SELECT pred,
         sum(n_obj_per_subj)::BIGINT AS n_edges,
         count(*)::BIGINT AS n_subj,
         max(n_obj_per_subj)::BIGINT AS max_fanout
  FROM fanout GROUP BY pred
),
fanin AS (
  SELECT pred, obj_id, count(*) AS n_subj_per_obj
  FROM e GROUP BY pred, obj_id
),
fi AS (
  SELECT pred,
         count(*)::BIGINT AS n_obj,
         max(n_subj_per_obj)::BIGINT AS max_fanin
  FROM fanin GROUP BY pred
)
SELECT fo.pred, fo.n_edges, fo.n_subj, fi.n_obj, fo.max_fanout, fi.max_fanin,
       CASE WHEN fo.max_fanout = 1 AND fi.max_fanin = 1 THEN '1:1'
            WHEN fi.max_fanin = 1 THEN '1:N'
            WHEN fo.max_fanout = 1 THEN 'N:1'
            ELSE 'N:M' END AS card_class
FROM fo JOIN fi ON fo.pred = fi.pred
"""


def entity_types(
    edges: DataFrame,
    type_rules: list[tuple[str, str, str, int]],
) -> DataFrame:
    """Entity-type inference by predicate-signature voting: each rule
    (pred, role, type, weight) says "the `role` ('subj'|'obj') of
    `pred` is evidence `weight` for `type`" — e.g. the subject of
    'inhibits' votes chemical, the object of 'treats' votes disease.
    Every edge casts its rule-matched votes; per entity the winning
    type is argmax(total weight), ties broken by type ascending.
    Output: (entity_id, ent_type, votes, total_votes, n_types).

    This is the untyped-web answer to the reference's per-model NER
    class column (scripts/ner_inference.py labels come from the
    model): once triples are canonicalized, the KG's own predicate
    usage types its nodes (ontology-lite schema induction).

    Exactness: weights are integers, votes are SUMs of integers, the
    argmax is a min(struct(-votes, type)) — all BIGINT/string, no
    floats (repo oracle rule).

    Scale: the rule table is O(|preds| x roles x types) — broadcast by
    construction. Vote emission is two broadcast equi-joins (subj
    role, obj role) unioned — zero shuffle. Then the
    predicate_cardinality shuffle shape, same reasoning: groupBy
    (entity, type) WITHOUT a pre-repartition so map-side partial agg
    absorbs hot entities (a hub node's votes collapse to <= n_types
    rows per map task), then the per-entity rollup reshuffles the
    already-collapsed (entity, type) table. Two shuffles, the heavy
    one combine-absorbed, never the raw edge stream on a hot entity
    key.
    """
    spark = edges.sparkSession
    rules = spark.createDataFrame(
        type_rules, "pred string, role string, ent_type string, weight long"
    )
    subj_votes = edges.join(
        F.broadcast(rules.where(F.col("role") == "subj")), "pred"
    ).select(F.col("subj_id").alias("entity_id"), "ent_type", "weight")
    obj_votes = edges.join(
        F.broadcast(rules.where(F.col("role") == "obj")), "pred"
    ).select(F.col("obj_id").alias("entity_id"), "ent_type", "weight")
    per_type = (
        subj_votes.unionByName(obj_votes)
        .groupBy("entity_id", "ent_type")
        .agg(F.sum("weight").alias("votes"))
    )
    rolled = per_type.groupBy("entity_id").agg(
        F.min(F.struct((-F.col("votes")).alias("neg"), F.col("ent_type"))).alias("_w"),
        F.sum("votes").cast("long").alias("total_votes"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    return rolled.select(
        "entity_id",
        F.col("_w.ent_type").alias("ent_type"),
        (-F.col("_w.neg")).cast("long").alias("votes"),
        "total_votes",
        "n_types",
    )


def entity_types_oracle_sql(
    with_prefix: str,
    type_rules: list[tuple[str, str, str, int]],
) -> str:
    """DuckDB twin of entity_types; `with_prefix` is a complete WITH
    chain whose LAST relation is e(subj_id, pred, obj_id). The rule
    table is inlined as VALUES from the SAME python list the Spark
    side consumes — the two vote tables cannot drift."""
    vals = ", ".join(
        f"('{p}', '{r}', '{t}', {w})" for p, r, t, w in type_rules
    )
    return f"""{with_prefix},
ty_rules(pred, role, ent_type, weight) AS (VALUES {vals}),
ty_votes AS (
  SELECT e.subj_id AS entity_id, r.ent_type, r.weight
  FROM e JOIN ty_rules r ON e.pred = r.pred AND r.role = 'subj'
  UNION ALL
  SELECT e.obj_id, r.ent_type, r.weight
  FROM e JOIN ty_rules r ON e.pred = r.pred AND r.role = 'obj'
),
ty_per_type AS (
  SELECT entity_id, ent_type, sum(weight) AS votes
  FROM ty_votes GROUP BY entity_id, ent_type
),
ty_ranked AS (
  SELECT entity_id, ent_type, votes,
         row_number() OVER (PARTITION BY entity_id
                            ORDER BY votes DESC, ent_type ASC) AS rn,
         sum(votes) OVER (PARTITION BY entity_id) AS total_votes,
         count(*) OVER (PARTITION BY entity_id) AS n_types
  FROM ty_per_type
)
SELECT entity_id, ent_type, votes::BIGINT AS votes,
       total_votes::BIGINT AS total_votes, n_types::BIGINT AS n_types
FROM ty_ranked WHERE rn = 1
"""


def edge_history(triples: DataFrame, epoch_col: str = "epoch") -> DataFrame:
    """(subj_id, pred, obj_id, first_epoch, last_epoch, n_epochs,
    support, status) — per-edge temporal lifecycle over an epoch-
    stamped triple stream: the maintenance view an INCREMENTAL KG
    (north_star: resumable per-epoch crawl ingestion) diffs each
    round. status relative to the corpus-wide latest epoch:

        new    first seen in the latest epoch
        stale  not seen in the latest epoch (re-crawl candidate)
        active seen in the latest epoch and before

    Exactness: epochs are integers; min/max/count are exact; status
    is a CASE on integers — no float anywhere. n_epochs uses
    size(collect_set(epoch)) rather than countDistinct: epochs are
    bounded (crawl rounds), so the set state is tiny and the plan
    avoids countDistinct's Expand rewrite, which would double the
    triple stream map-side just to dedup a handful of values.

    Scale: ONE keyed shuffle (the edge rollup, partial-agg absorbed);
    the rolled-up edge table is localCheckpoint'ed (it is the
    north-star's materialized edges product anyway) so the 1-row
    global-max epoch and the status projection read the
    materialization instead of recomputing the rollup twice; the max
    rides back as a broadcast 1-row cross join, never a collect and
    never a partitionBy-less window (the Exchange SinglePartition
    trap).
    """
    g = (
        triples.groupBy("subj_id", "pred", "obj_id")
        .agg(
            F.min(epoch_col).cast("long").alias("first_epoch"),
            F.max(epoch_col).cast("long").alias("last_epoch"),
            F.size(F.collect_set(epoch_col)).cast("long").alias("n_epochs"),
            F.count(F.lit(1)).alias("support"),
        )
        .localCheckpoint(eager=True)
    )
    mx = g.agg(F.max("last_epoch").alias("m"))
    status = (
        F.when(F.col("first_epoch") == F.col("m"), F.lit("new"))
        .when(F.col("last_epoch") < F.col("m"), F.lit("stale"))
        .otherwise(F.lit("active"))
    )
    return g.crossJoin(F.broadcast(mx)).select(
        "subj_id",
        "pred",
        "obj_id",
        "first_epoch",
        "last_epoch",
        "n_epochs",
        "support",
        status.alias("status"),
    )


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
    before promoting extracted edges to the canonical store (the
    downstream consumer of predicate_cardinality's induced classes:
    induce there, DECLARE here, enforce on ingest).

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


def edge_evidence(
    triples: DataFrame,
    sentences: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Evidence sentences per KG edge: (subj_id, pred, obj_id,
    evidence_rank, url, sent_idx, sentence) — up to `k` deterministic
    examples per edge, the human-verification / error-analysis surface
    the node-profile and edge tables link out to (and the context a
    distant-supervision relation trainer reads). Selection is the
    lexicographic-min (url, sent_idx) per edge — stable across runs
    and engines, no sampling.

    `sentences` is the splitter output (url, sent_idx, sentence).

    Scale (2 shuffles + the evidence join): (1) per-(edge, url,
    sent_idx) collapse rides the triples' existing dedup semantics —
    a triple emitted once per sentence pair keeps keys uniform; (2)
    the top-k window on the edge key — a hot edge's partition is
    bounded by its DISTINCT evidence sentences, and k rows survive;
    per BASELINE.md's hot-canonical-url tier the single-shuffle window
    beats groupBy-min+join-back when every surviving row needs the
    group verdict. The sentence TEXT joins in AFTER the k-filter on
    the uniform (url, sent_idx) key — text never crosses the edge-key
    exchange and the join's left side is |edges| * k rows.
    """
    ev = triples.select(
        "subj_id", "pred", "obj_id", "url", "sent_idx"
    ).dropDuplicates(["subj_id", "pred", "obj_id", "url", "sent_idx"])
    w = Window.partitionBy("subj_id", "pred", "obj_id").orderBy(
        "url", "sent_idx"
    )
    top = (
        ev.withColumn("evidence_rank", F.row_number().over(w))
        .where(F.col("evidence_rank") <= k)
    )
    return top.join(
        sentences.select("url", "sent_idx", "sentence"),
        ["url", "sent_idx"],
    ).select(
        "subj_id", "pred", "obj_id",
        F.col("evidence_rank").cast("long").alias("evidence_rank"),
        "url", "sent_idx", "sentence",
    )


def edge_evidence_oracle_sql(
    triples_sql: str, sentences_sql: str, k: int = 3
) -> str:
    """DuckDB twin of edge_evidence; `triples_sql` yields (subj_id,
    pred, obj_id, url, sent_idx), `sentences_sql` yields (url,
    sent_idx, sentence)."""
    return f"""
WITH tr AS ({triples_sql}),
sn AS ({sentences_sql}),
ev AS (SELECT DISTINCT subj_id, pred, obj_id, url, sent_idx FROM tr),
rk AS (
  SELECT subj_id, pred, obj_id, url, sent_idx,
    row_number() OVER (PARTITION BY subj_id, pred, obj_id
                       ORDER BY url, sent_idx) AS evidence_rank
  FROM ev
)
SELECT r.subj_id, r.pred, r.obj_id, r.evidence_rank::BIGINT AS evidence_rank,
       r.url, r.sent_idx, s.sentence
FROM rk r JOIN sn s ON r.url = s.url AND r.sent_idx = s.sent_idx
WHERE r.evidence_rank <= {k}
"""


# temporal-qualifier contract, shared with the oracle: ISO dates
# yyyy-mm-dd first, else bare years 1900-2099 as yyyy; the FIRST match
# in the sentence qualifies every edge the sentence evidences.
DATE_ISO_RE = r"\b(19|20)\d{2}-\d{2}-\d{2}\b"
DATE_YEAR_RE = r"\b(19|20)\d{2}\b"


def edge_temporal(
    triples: DataFrame,
    sentences: DataFrame,
) -> DataFrame:
    """In-text temporal qualifiers per KG edge: (subj_id, pred,
    obj_id, first_date, last_date, n_dated, n_evidence) — the EVENT
    time axis (dates written in the evidence sentences), as opposed to
    entity_bursts' crawl-time axis (warc_ts epochs). first/last_date
    are the min/max qualifier over all dated evidence (ISO yyyy-mm-dd
    preferred, bare year as 'yyyy' fallback — string-comparable
    forms); n_dated counts dated evidence sentences, n_evidence all
    distinct evidence, so n_dated/n_evidence is the edge's temporal
    support ratio. Undated edges keep NULL first/last.

    Scale (2 shuffles): per-(edge, sentence) dedup on the uniform
    composite key, then ONE algebraic edge rollup (min/max/count
    absorb hot edges map-side); the date pull is a scan-fused regex
    on the sentence join (uniform sentence key, text dropped before
    the edge exchange — only the extracted date string crosses).
    """
    ev = triples.select(
        "subj_id", "pred", "obj_id", "url", "sent_idx"
    ).dropDuplicates(["subj_id", "pred", "obj_id", "url", "sent_idx"])
    dated = sentences.select(
        "url",
        "sent_idx",
        F.nullif(
            F.coalesce(
                F.regexp_extract(F.col("sentence"), DATE_ISO_RE, 0),
                F.lit(""),
            ),
            F.lit(""),
        ).alias("_iso"),
        F.nullif(
            F.regexp_extract(F.col("sentence"), DATE_YEAR_RE, 0), F.lit("")
        ).alias("_yr"),
    ).select(
        "url", "sent_idx", F.coalesce(F.col("_iso"), F.col("_yr")).alias("qdate")
    )
    joined = ev.join(dated, ["url", "sent_idx"], "left")
    return joined.groupBy("subj_id", "pred", "obj_id").agg(
        F.min("qdate").alias("first_date"),
        F.max("qdate").alias("last_date"),
        F.count("qdate").cast("long").alias("n_dated"),
        F.count(F.lit(1)).cast("long").alias("n_evidence"),
    )


def edge_temporal_oracle_sql(triples_sql: str, sentences_sql: str) -> str:
    """DuckDB twin of edge_temporal; same shapes as
    edge_evidence_oracle_sql's inputs."""
    return f"""
WITH tr AS ({triples_sql}),
sn AS ({sentences_sql}),
ev AS (SELECT DISTINCT subj_id, pred, obj_id, url, sent_idx FROM tr),
dt AS (
  SELECT url, sent_idx,
    coalesce(
      nullif(regexp_extract(sentence, '\\b(19|20)\\d{{2}}-\\d{{2}}-\\d{{2}}\\b', 0), ''),
      nullif(regexp_extract(sentence, '\\b(19|20)\\d{{2}}\\b', 0), ''))
      AS qdate
  FROM sn
)
SELECT e.subj_id, e.pred, e.obj_id,
       min(d.qdate) AS first_date, max(d.qdate) AS last_date,
       count(d.qdate)::BIGINT AS n_dated,
       count(*)::BIGINT AS n_evidence
FROM ev e LEFT JOIN dt d ON e.url = d.url AND e.sent_idx = d.sent_idx
GROUP BY e.subj_id, e.pred, e.obj_id
"""


# negation-cue contract, shared with the oracle (lowercased word-
# boundary alternation; "n't" rides the \w+ boundary as 't')
NEG_CUE_RE = r"\b(not|no|never|none|neither|nor|without|cannot)\b"


def edge_negation(
    triples: DataFrame,
    sentences: DataFrame,
    cue_re: str = NEG_CUE_RE,
) -> DataFrame:
    """Negation QA per KG edge: (subj_id, pred, obj_id, n_negated,
    n_evidence) — how many of an edge's evidence sentences carry a
    negation cue. The classic IE false-positive class: "X does NOT
    inhibit Y" co-occurs exactly like "X inhibits Y"; an edge whose
    evidence is mostly negated should be downgraded or dropped before
    the KG ships (filter n_negated * 2 >= n_evidence, or join the
    counts into an edge-confidence formula). Cue matching is a
    word-boundary regex over the lowercased sentence — a cheap,
    documented heuristic (scope resolution needs a parser; this is
    the zero-dependency tier).

    Scale: identical shape to edge_temporal — per-(edge, sentence)
    dedup, scan-fused cue probe on the uniform sentence join, ONE
    algebraic edge rollup; only a boolean crosses the edge exchange.
    """
    ev = triples.select(
        "subj_id", "pred", "obj_id", "url", "sent_idx"
    ).dropDuplicates(["subj_id", "pred", "obj_id", "url", "sent_idx"])
    probed = sentences.select(
        "url",
        "sent_idx",
        F.lower(F.col("sentence")).rlike(cue_re).cast("long").alias("_neg"),
    )
    joined = ev.join(probed, ["url", "sent_idx"], "left")
    return joined.groupBy("subj_id", "pred", "obj_id").agg(
        F.sum(F.coalesce(F.col("_neg"), F.lit(0))).cast("long").alias(
            "n_negated"
        ),
        F.count(F.lit(1)).cast("long").alias("n_evidence"),
    )


def edge_negation_oracle_sql(
    triples_sql: str, sentences_sql: str, cue_re: str = NEG_CUE_RE
) -> str:
    """DuckDB twin of edge_negation; same input shapes as
    edge_temporal_oracle_sql."""
    return f"""
WITH tr AS ({triples_sql}),
sn AS ({sentences_sql}),
ev AS (SELECT DISTINCT subj_id, pred, obj_id, url, sent_idx FROM tr),
pb AS (SELECT url, sent_idx,
         regexp_matches(lower(sentence), '{cue_re}')::BIGINT AS neg
       FROM sn)
SELECT e.subj_id, e.pred, e.obj_id,
       sum(coalesce(p.neg, 0))::BIGINT AS n_negated,
       count(*)::BIGINT AS n_evidence
FROM ev e LEFT JOIN pb p ON e.url = p.url AND e.sent_idx = p.sent_idx
GROUP BY e.subj_id, e.pred, e.obj_id
"""


def edge_confidence(
    triples: DataFrame,
    sentences: DataFrame,
    doc_clamp: int = 5,
) -> DataFrame:
    """Composed edge confidence: (subj_id, pred, obj_id, support,
    doc_count, n_negated, n_evidence, conf_micro) where conf_micro =
    (non-negated evidence share) x (doc-diversity clamp), in exact
    1e6 micro-units:

        conf_micro = ((n_evidence - n_negated) * 1_000_000
                      div n_evidence) * least(doc_count, doc_clamp)
                      div doc_clamp

    The two facts a KG consumer always asks of an edge — "is the
    claim asserted, not denied?" and "do INDEPENDENT documents say
    it?" — folded into one rankable integer (1e6 = unanimous positive
    evidence across >= doc_clamp docs). All-BIGINT, so the table
    value-matches across engines; the formula is deliberately simple
    and documented rather than learned — swap in a trained scorer
    behind the same output contract when one exists.

    Scale: two algebraic rollups over the same uniform keys
    (support/doc_count over raw triples; negation over deduped
    evidence + the scan-fused cue probe), joined on the edge key
    (AQE-decided, both sides already edge-keyed).
    """
    stats = triples.groupBy("subj_id", "pred", "obj_id").agg(
        F.count(F.lit(1)).cast("long").alias("support"),
        F.countDistinct("url").cast("long").alias("doc_count"),
    )
    neg = edge_negation(triples, sentences)
    return (
        stats.join(neg, ["subj_id", "pred", "obj_id"])
        .select(
            "subj_id", "pred", "obj_id", "support", "doc_count",
            "n_negated", "n_evidence",
            F.expr(
                f"((n_evidence - n_negated) * 1000000 div n_evidence)"
                f" * least(doc_count, {doc_clamp}) div {doc_clamp}"
            ).alias("conf_micro"),
        )
    )


def edge_confidence_oracle_sql(
    triples_sql: str, sentences_sql: str, doc_clamp: int = 5,
    cue_re: str = NEG_CUE_RE,
) -> str:
    """DuckDB twin of edge_confidence."""
    neg = edge_negation_oracle_sql(triples_sql, sentences_sql, cue_re)
    return f"""
WITH st AS (
  SELECT subj_id, pred, obj_id, count(*)::BIGINT AS support,
         count(DISTINCT url)::BIGINT AS doc_count
  FROM ({triples_sql}) GROUP BY subj_id, pred, obj_id
),
ng AS (SELECT * FROM ({neg}))
SELECT s.subj_id, s.pred, s.obj_id, s.support, s.doc_count,
       n.n_negated, n.n_evidence,
       ((n.n_evidence - n.n_negated) * 1000000 // n.n_evidence)
         * least(s.doc_count, {doc_clamp}) // {doc_clamp} AS conf_micro
FROM st s JOIN ng n
  ON s.subj_id = n.subj_id AND s.pred = n.pred AND s.obj_id = n.obj_id
"""


# quote-attribution contract, shared with the oracle: straight-quoted
# span of 10-300 chars followed by an attribution verb and a 1-3-word
# capitalized name — the fixed-format tier of claim extraction.
QUOTE_EL_RE = (
    r'"[^"]{10,300}",? (?:said|says|wrote|told|added|warned)'
    r" (?:[A-Z][A-Za-z-]+ ?){1,3}"  # no '.' in name words: a sentence
    # period must END the name run, not splice the next sentence in
)
QUOTE_TEXT_RE = r'^"([^"]+)"'
QUOTE_VERB_RE = r'",? (said|says|wrote|told|added|warned) '
QUOTE_SPEAKER_RE = r'",? (?:said|says|wrote|told|added|warned) (.+)$'


def quote_attributions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quote attribution — the claim-extraction surface: (id,
    quote_idx, speaker, verb, quote) per '"...," said Name' pattern.
    Each row is a provenance-grade (speaker, SAYS, claim) triple:
    unlike co-occurrence edges, the predicate is explicit and the
    object is the quoted assertion itself — the input to claim
    verification and quote-level dedup (the same quote syndicated
    across hosts collapses on sha2(quote)). speaker is the trailing
    1-3-word capitalized name, lowercased to the engine's canonical
    comparison form; document order pinned by quote_idx.

    Zero shuffle: element extraction + three scan-fused field pulls.
    """
    els = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.expr(f"regexp_extract_all({text_col}, '{QUOTE_EL_RE}', 0)")
        ).alias("quote_idx", "_el"),
    )
    return els.select(
        "id",
        "quote_idx",
        F.lower(
            F.trim(F.regexp_extract(F.col("_el"), QUOTE_SPEAKER_RE, 1))
        ).alias("speaker"),
        F.regexp_extract(F.col("_el"), QUOTE_VERB_RE, 1).alias("verb"),
        F.regexp_extract(F.col("_el"), QUOTE_TEXT_RE, 1).alias("quote"),
    )


def quote_attributions_oracle_sql(docs_sql: str) -> str:
    """DuckDB twin of quote_attributions; `docs_sql` yields (id, text)."""
    return f"""
WITH d AS ({docs_sql}),
els AS (SELECT id, u.i::INT AS quote_idx, u.v AS el
        FROM (SELECT id, unnest(list_transform(range(0, len(es)),
                i -> {{'i': i, 'v': es[(i+1)::INT]}})) AS u
              FROM (SELECT id, regexp_extract_all(text,
                      '"[^"]{{10,300}}",? (?:said|says|wrote|told|added|warned) (?:[A-Z][A-Za-z-]+ ?){{1,3}}',
                      0) AS es FROM d)))
SELECT id, quote_idx,
  lower(trim(regexp_extract(el,
    '",? (?:said|says|wrote|told|added|warned) (.+)$', 1))) AS speaker,
  regexp_extract(el, '",? (said|says|wrote|told|added|warned) ', 1) AS verb,
  regexp_extract(el, '^"([^"]+)"', 1) AS quote
FROM els
"""


# numeric-fact contract, shared with the oracle. RE2 has no lookahead,
# so the unit's right boundary is an explicit [space/punct/end] class
# captured with the element (field pulls ignore it); '%' can't take a
# \b (non-word char).
NUMFACT_EL_RE = (
    r"(\d+(?:\.\d+)?) ?"
    r"(kg|km|mg|ml|gb|mb|usd|eur|percent|%)([ .,;)]|$)"
)
NUMFACT_VAL_RE = r"^(\d+(?:\.\d+)?)"
NUMFACT_UNIT_RE = r"(kg|km|mg|ml|gb|mb|usd|eur|percent|%)"


def numeric_facts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Numeric-fact extraction: (id, fact_idx, value, unit) per
    quantity-with-unit occurrence ('75 kg', '99.9 percent', '40%') —
    the measurable-fact surface a KG attaches to entities (dosage,
    price, capacity) and a curation gate uses to find data-rich pages.
    `value` stays the EXACT source string (no float parsing — '0.10'
    and '0.1' are different claims); '%' normalizes to 'percent' so
    consumers aggregate one unit key. RE2-safe (no lookahead): the
    right boundary is an explicit punctuation/end class.

    Zero shuffle: element extraction + two scan-fused field pulls.
    """
    els = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.expr(
                f"regexp_extract_all({text_col}, r'{NUMFACT_EL_RE}', 0)"
            )  # r'': keep \d literal through the SQL parser
        ).alias("fact_idx", "_el"),
    )
    unit = F.regexp_extract(F.col("_el"), NUMFACT_UNIT_RE, 1)
    return els.select(
        "id",
        "fact_idx",
        F.regexp_extract(F.col("_el"), NUMFACT_VAL_RE, 1).alias("value"),
        F.when(unit == "%", F.lit("percent")).otherwise(unit).alias("unit"),
    )


def numeric_facts_oracle_sql(docs_sql: str) -> str:
    """DuckDB twin of numeric_facts; `docs_sql` yields (id, text)."""
    return f"""
WITH d AS ({docs_sql}),
els AS (SELECT id, u.i::INT AS fact_idx, u.v AS el
        FROM (SELECT id, unnest(list_transform(range(0, len(es)),
                i -> {{'i': i, 'v': es[(i+1)::INT]}})) AS u
              FROM (SELECT id, regexp_extract_all(text,
                      '(\\d+(?:\\.\\d+)?) ?(kg|km|mg|ml|gb|mb|usd|eur|percent|%)([ .,;)]|$)',
                      0) AS es FROM d)))
SELECT id, fact_idx,
  regexp_extract(el, '^(\\d+(?:\\.\\d+)?)', 1) AS value,
  CASE WHEN regexp_extract(el,
         '(kg|km|mg|ml|gb|mb|usd|eur|percent|%)', 1) = '%'
       THEN 'percent'
       ELSE regexp_extract(el,
         '(kg|km|mg|ml|gb|mb|usd|eur|percent|%)', 1) END AS unit
FROM els
"""


# geo contract, shared with the oracle: 'lat, lon' decimal pairs;
# range-gated (|lat| <= 90, |lon| <= 180) via numeric casts used ONLY
# for the boolean gate — output keeps the exact source strings.
GEO_EL_RE = r"(-?\d{1,2}\.\d{1,6}), ?(-?\d{1,3}\.\d{1,6})"
GEO_LAT_RE = r"^(-?\d{1,2}\.\d{1,6})"
GEO_LON_RE = r"(-?\d{1,3}\.\d{1,6})$"


def geo_facts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Coordinate extraction: (id, geo_idx, lat, lon) per decimal
    'lat, lon' pair — the geo-fact surface a KG attaches to place
    entities (venues, imprint addresses, geotagged articles).
    Values stay exact source strings ('40.70' != '40.7' as claims);
    the plausibility gate casts only for the range check (|lat| <= 90,
    |lon| <= 180 — '99.5, 200.1' is a version number, not a place).

    Zero shuffle: element extraction + scan-fused pulls + the gate.
    """
    els = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.expr(
                f"regexp_extract_all({text_col}, r'{GEO_EL_RE}', 0)"
            )
        ).alias("geo_idx", "_el"),
    )
    lat = F.regexp_extract(F.col("_el"), GEO_LAT_RE, 1)
    lon = F.regexp_extract(F.col("_el"), GEO_LON_RE, 1)
    return els.select(
        "id", "geo_idx", lat.alias("lat"), lon.alias("lon")
    ).where(
        (F.abs(F.col("lat").cast("double")) <= 90.0)
        & (F.abs(F.col("lon").cast("double")) <= 180.0)
    )


def geo_facts_oracle_sql(docs_sql: str) -> str:
    """DuckDB twin of geo_facts; `docs_sql` yields (id, text)."""
    return f"""
WITH d AS ({docs_sql}),
els AS (SELECT id, u.i::INT AS geo_idx, u.v AS el
        FROM (SELECT id, unnest(list_transform(range(0, len(es)),
                i -> {{'i': i, 'v': es[(i+1)::INT]}})) AS u
              FROM (SELECT id, regexp_extract_all(text,
                      '(-?\\d{{1,2}}\\.\\d{{1,6}}), ?(-?\\d{{1,3}}\\.\\d{{1,6}})',
                      0) AS es FROM d))),
x AS (SELECT id, geo_idx,
        regexp_extract(el, '^(-?\\d{{1,2}}\\.\\d{{1,6}})', 1) AS lat,
        regexp_extract(el, '(-?\\d{{1,3}}\\.\\d{{1,6}})$', 1) AS lon
      FROM els)
SELECT * FROM x
WHERE abs(lat::DOUBLE) <= 90.0 AND abs(lon::DOUBLE) <= 180.0
"""


# copula contract, shared with the oracle: 'X is/are a/an/the Y' over
# the lowercased sentence; terms are single hyphenatable words (the
# zero-parser tier — multi-word NP support needs a chunker)
ISA_EL_RE = r"\b[a-z][a-z0-9-]+ (?:is|are) (?:a|an|the) [a-z][a-z0-9-]+"
ISA_SUBJ_RE = r"^([a-z0-9-]+) "
ISA_OBJ_RE = r" ([a-z0-9-]+)$"


def copula_isa(
    sentences: DataFrame,
    url_col: str = "url",
    text_col: str = "sentence",
) -> DataFrame:
    """Copula is-a mining: 'a transformer is a model' -> (child,
    parent, n_docs) hypernym candidates — web-mined taxonomy edges
    instead of a curated ontology. Single hyphenatable alphanumeric terms ('covid-19') by documented contract
    (multi-word NPs need a chunker; this is the zero-dependency tier);
    per-doc dedup before the support rollup so a repeated template
    sentence counts once per document.

    Scale (1 shuffle): scan-fused extraction, per-doc distinct riding
    the (child, parent) rollup's composite key.
    """
    els = sentences.select(
        F.col(url_col).alias("_u"),
        F.explode(
            F.expr(
                f"regexp_extract_all(lower({text_col}), r'{ISA_EL_RE}', 0)"
            )
        ).alias("_el"),
    )
    pairs = els.select(
        "_u",
        F.regexp_extract(F.col("_el"), ISA_SUBJ_RE, 1).alias("child"),
        F.regexp_extract(F.col("_el"), ISA_OBJ_RE, 1).alias("parent"),
    ).distinct()
    return pairs.groupBy("child", "parent").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def copula_isa_oracle_sql(sentences_sql: str) -> str:
    """DuckDB twin of copula_isa; `sentences_sql` yields (url,
    sentence)."""
    return f"""
WITH s AS ({sentences_sql}),
els AS (SELECT url,
          unnest(regexp_extract_all(lower(sentence),
            '\\b[a-z][a-z0-9-]+ (?:is|are) (?:a|an|the) [a-z][a-z0-9-]+', 0)) AS el
        FROM s),
p AS (SELECT DISTINCT url,
        regexp_extract(el, '^([a-z0-9-]+) ', 1) AS child,
        regexp_extract(el, ' ([a-z0-9-]+)$', 1) AS parent
      FROM els)
SELECT child, parent, count(*)::BIGINT AS n_docs
FROM p GROUP BY child, parent
"""


# apposition contract, shared with the oracle: 'NAME, a/an/the ROLE
# of/at NAME' over the raw (case-preserved) sentence; names are 1-2
# capitalized hyphenatable tokens, the role is one lowercase word —
# the same zero-parser tier as the copula rule (multi-word NPs and
# nested appositions need a chunker).
APPOS_EL_RE = (
    r"\b[A-Z][a-z0-9-]*(?: [A-Z][a-z0-9-]*)?,"
    r" (?:a|an|the) [a-z][a-z-]+ (?:of|at)"
    r" [A-Z][a-z0-9-]*(?: [A-Z][a-z0-9-]*)?"
)
APPOS_SUBJ_RE = r"^([A-Z][a-z0-9-]*(?: [A-Z][a-z0-9-]*)?),"
APPOS_ROLE_RE = r", (?:a|an|the) ([a-z-]+) (?:of|at) "
APPOS_OBJ_RE = r" ([A-Z][a-z0-9-]*(?: [A-Z][a-z0-9-]*)?)$"


def apposition_facts(
    sentences: DataFrame,
    url_col: str = "url",
    text_col: str = "sentence",
) -> DataFrame:
    """Appositive role mining: 'Tim Cook, the CEO of Apple' ->
    (subj, role, obj, n_docs) — the people/org relation family the
    verb-lexicon path (extract_predicate_triples) can't see, because
    the relation is carried by an NP apposition, not a verb. Pairs
    with copula_isa: is-a edges feed the taxonomy, role-of edges feed
    the entity graph. Names keep their case (they're surface forms
    for entity_labels/NEL downstream); the role is lowercase by
    construction of the pattern. Per-doc dedup before the support
    rollup, same as copula_isa.

    Scale (1 shuffle): scan-fused extraction, per-doc distinct riding
    the (subj, role, obj) rollup's composite key.
    """
    els = sentences.select(
        F.col(url_col).alias("_u"),
        F.explode(
            F.expr(f"regexp_extract_all({text_col}, r'{APPOS_EL_RE}', 0)")
        ).alias("_el"),
    )
    facts = els.select(
        "_u",
        F.regexp_extract(F.col("_el"), APPOS_SUBJ_RE, 1).alias("subj"),
        F.regexp_extract(F.col("_el"), APPOS_ROLE_RE, 1).alias("role"),
        F.regexp_extract(F.col("_el"), APPOS_OBJ_RE, 1).alias("obj"),
    ).distinct()
    return facts.groupBy("subj", "role", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def apposition_facts_oracle_sql(sentences_sql: str) -> str:
    """DuckDB twin of apposition_facts; `sentences_sql` yields (url,
    sentence)."""
    return f"""
WITH s AS ({sentences_sql}),
els AS (SELECT url,
          unnest(regexp_extract_all(sentence, '{APPOS_EL_RE}', 0)) AS el
        FROM s),
f AS (SELECT DISTINCT url,
        regexp_extract(el, '{APPOS_SUBJ_RE}', 1) AS subj,
        regexp_extract(el, '{APPOS_ROLE_RE}', 1) AS role,
        regexp_extract(el, '{APPOS_OBJ_RE}', 1) AS obj
      FROM els)
SELECT subj, role, obj, count(*)::BIGINT AS n_docs
FROM f GROUP BY subj, role, obj
"""


PRONOUNS = ("he", "she", "it", "they", "him", "her", "them", "its")


def pronoun_links(
    tokens: DataFrame,
    mentions: DataFrame,
    lookback: int = 2,
    doc_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, sent_idx, tok_idx, pronoun, ant_sent, ant_tok,
    antecedent) — coreference-lite: every pronoun token linked to the
    NEAREST PRECEDING entity mention within `lookback` sentences
    (document order: later sentence wins, then later token, then
    longer mention, then term — a total order, so the result is
    deterministic). The crude-but-measurable KG recall booster: the
    reference pipeline (and extract_triples) drops every 'it inhibits
    X' sentence on the floor because 'it' is not in the dictionary;
    resolving the pronoun to the last mention recovers those triples.
    Recall-over-precision contract stated plainly: nearest-mention is
    a baseline heuristic (Hobbs-lite), not coreference.

    Shape: tokens filtered to the tiny pronoun set (scan-fused), ONE
    doc-keyed join against mentions banded to the lookback window,
    then max(struct(...)) per pronoun — algebraic, partial-agg
    absorbed, no row_number window. Per-doc fan-out is bounded by
    mentions-per-lookback-window, not corpus size.
    """
    p = tokens.where(F.col("tok").isin(*PRONOUNS)).select(
        F.col(doc_col).alias("d"),
        F.col("sent_idx").alias("ps"),
        F.col("tok_idx").alias("pt"),
        F.col("tok").alias("pronoun"),
    )
    m = mentions.select(
        F.col(doc_col).alias("d"),
        F.col("sent_idx").alias("ms"),
        F.col("begin_tok").alias("mb"),
        F.col("end_tok").alias("me"),
        F.col("term").alias("mterm"),
    )
    j = p.join(m, "d").where(
        (F.col("ms") >= F.col("ps") - lookback)
        & (
            (F.col("ms") < F.col("ps"))
            | ((F.col("ms") == F.col("ps")) & (F.col("mb") < F.col("pt")))
        )
    )
    best = j.groupBy("d", "ps", "pt", "pronoun").agg(
        F.max(
            F.struct(
                F.col("ms").alias("s"),
                F.col("mb").alias("b"),
                F.col("me").alias("e"),
                F.col("mterm").alias("t"),
            )
        ).alias("a")
    )
    return best.select(
        F.col("d").alias("doc_id"),
        F.col("ps").alias("sent_idx"),
        F.col("pt").alias("tok_idx"),
        "pronoun",
        F.col("a.s").alias("ant_sent"),
        F.col("a.b").alias("ant_tok"),
        F.col("a.t").alias("antecedent"),
    )


def pronoun_links_oracle_sql(
    tokens_sql: str, mentions_sql: str, lookback: int = 2
) -> str:
    """DuckDB twin of :func:`pronoun_links`; tokens_sql yields
    (doc_id, sent_idx, tok_idx, tok), mentions_sql (doc_id, sent_idx,
    begin_tok, end_tok, term). CTE CONTINUATION (leading ', ')."""
    plist = ", ".join(f"'{p}'" for p in PRONOUNS)
    return f"""
, plt AS (SELECT doc_id AS d, sent_idx AS ps, tok_idx AS pt,
                 tok AS pronoun
          FROM ({tokens_sql}) WHERE tok IN ({plist})),
plm AS (SELECT doc_id AS d, sent_idx AS ms, begin_tok AS mb,
               end_tok AS me, term AS mterm
        FROM ({mentions_sql})),
plj AS (
  SELECT plt.d, plt.ps, plt.pt, plt.pronoun,
         plm.ms, plm.mb, plm.me, plm.mterm
  FROM plt JOIN plm ON plt.d = plm.d
  WHERE plm.ms >= plt.ps - {lookback}
    AND (plm.ms < plt.ps OR (plm.ms = plt.ps AND plm.mb < plt.pt))
),
plb AS (
  SELECT d, ps, pt, pronoun,
         max(struct_pack(s := ms, b := mb, e := me, t := mterm)) AS a
  FROM plj GROUP BY d, ps, pt, pronoun
)
SELECT d AS doc_id, ps AS sent_idx, pt AS tok_idx, pronoun,
       a.s AS ant_sent, a.b AS ant_tok, a.t AS antecedent
FROM plb
"""


PASSIVE_AUX = ("is", "are", "was", "were")
PASSIVE_LEXICON: dict[str, str] = {
    "activated": "activates",
    "inhibited": "inhibits",
    "bound": "binds",
    "regulated": "regulates",
    "induced": "induces",
    "suppressed": "suppresses",
    "phosphorylated": "phosphorylates",
    "encoded": "encodes",
    "targeted": "targets",
    "blocked": "blocks",
    "promoted": "promotes",
    "mediated": "mediates",
    "modulated": "modulates",
    "caused": "causes",
    "treated": "treats",
}


def extract_passive_triples(
    linked_mentions: DataFrame,
    sentences: DataFrame,
    lexicon: dict[str, str] | None = None,
) -> DataFrame:
    """(url, sent_idx, subj_id, pred, obj_id) — PASSIVE-voice pattern
    triples with the roles FLIPPED: for an in-order entity pair
    (A, B), an 'is|are|was|were <participle> by' phrase in the char
    gap emits (B, canon(participle), A) — 'mtor is inhibited by
    rapamycin' yields (rapamycin, inhibits, mtor), the triple
    extract_predicate_triples gets BACKWARD (it assigns subj by
    textual order). The standard coverage gap of order-based IE;
    pairs without a passive phrase emit nothing (this operator is the
    union partner of the active path, not a replacement).

    Rule contract (mirrored on token indices by the oracle): the
    passive phrase must span the ENTIRE gap between the pair — the
    trimmed gap text IS '<aux> <participle> by' (aux, participle,
    'by' adjacent, anchored to both span boundaries), the same strict
    adjacency extract_nominal_triples uses. Anchoring is what keeps
    precision: with >= 3 entities in a sentence ('Z ... A is
    inhibited by B'), an unanchored scan would also fire for the
    non-adjacent pair (Z, B) and emit a flipped triple with the wrong
    agent (ADVICE r3). Same two-shuffle pair plan as
    extract_predicate_triples + one sentence join; the phrase test is
    one anchored regexp_extract + map lookup, 100% JVM.
    """
    lex = PASSIVE_LEXICON if lexicon is None else lexicon
    lex_map = F.create_map(
        *[F.lit(x) for s, c in sorted(lex.items()) for x in (s, c)]
    )
    aux = "|".join(PASSIVE_AUX)

    ids = (
        linked_mentions.where(F.col("entity_id") != "")
        .repartition(F.col("url"), F.col("sent_idx"))
        .groupBy("url", "sent_idx", "entity_id")
        .agg(F.min(F.struct("begin", "end")).alias("first_span"))
    )
    per_sent = ids.groupBy("url", "sent_idx").agg(
        F.array_sort(F.collect_list(F.struct("first_span", "entity_id"))).alias("ents")
    )
    n = F.size("ents")
    pairs = F.flatten(
        F.transform(
            F.col("ents"),
            lambda x, i: F.transform(
                F.slice(F.col("ents"), i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x.getField("entity_id").alias("first_id"),
                    y.getField("entity_id").alias("second_id"),
                    x.getField("first_span").getField("end").alias("gap_begin"),
                    y.getField("first_span").getField("begin").alias("gap_end"),
                ),
            ),
        )
    )
    exploded = (
        per_sent.where(n >= 2)
        .select("url", "sent_idx", F.explode(pairs).alias("p"))
        .join(sentences.select("url", "sent_idx", "sentence"), ["url", "sent_idx"])
    )
    participle = F.expr(
        "regexp_extract(trim(lower(substring(sentence, p.gap_begin + 1,"
        " greatest(p.gap_end - p.gap_begin, 0)))),"
        f" '^(?:{aux}) ([a-z]+) by$', 1)"
    )
    canon = F.try_element_at(lex_map, participle)
    return (
        exploded.select(
            "url",
            "sent_idx",
            F.col("p.second_id").alias("subj_id"),
            canon.alias("pred"),
            F.col("p.first_id").alias("obj_id"),
        )
        .where(F.col("pred").isNotNull())
    )


NOMINAL_LEXICON: dict[str, str] = {
    "activation": "activates",
    "binding": "binds",
    "blockade": "blocks",
    "causation": "causes",
    "encoding": "encodes",
    "induction": "induces",
    "inhibition": "inhibits",
    "mediation": "mediates",
    "modulation": "modulates",
    "phosphorylation": "phosphorylates",
    "promotion": "promotes",
    "regulation": "regulates",
    "suppression": "suppresses",
    "targeting": "targets",
    "treatment": "treats",
}


def extract_nominal_triples(
    linked_mentions: DataFrame,
    sentences: DataFrame,
    lexicon: dict[str, str] | None = None,
) -> DataFrame:
    """(url, sent_idx, subj_id, pred, obj_id) — NOMINALIZATION pattern
    triples: '<nominal> of A by B' emits (B, canon(nominal), A) —
    'inhibition of mtor by rapamycin' yields (rapamycin, inhibits,
    mtor). Neither the active order rule (the predicate token precedes
    BOTH entities, so it is never in the inter-span gap
    extract_predicate_triples scans) nor the passive rule (no aux/
    participle) covers this shape; it is the third union partner of
    the triple layer.

    Rule contract (mirrored on token indices by the oracle): for an
    in-order first-span entity pair (A, B), the characters before A
    must END with '<nominal> of ' where the nominal maps through the
    lexicon, and the char gap between A and B must be exactly the
    token 'by' (trim-equal). All adjacency is strict — 'inhibition of
    the mtor by ...' or '... by strong rapamycin' do not fire.

    Same two-shuffle pair plan + one sentence join as the active and
    passive extractors; the prefix/gap checks are regexp_extract +
    literal-map lookup, 100% JVM codegen.
    """
    lex = NOMINAL_LEXICON if lexicon is None else lexicon
    lex_map = F.create_map(
        *[F.lit(x) for s, c in sorted(lex.items()) for x in (s, c)]
    )

    ids = (
        linked_mentions.where(F.col("entity_id") != "")
        .repartition(F.col("url"), F.col("sent_idx"))
        .groupBy("url", "sent_idx", "entity_id")
        .agg(F.min(F.struct("begin", "end")).alias("first_span"))
    )
    per_sent = ids.groupBy("url", "sent_idx").agg(
        F.array_sort(F.collect_list(F.struct("first_span", "entity_id"))).alias("ents")
    )
    n = F.size("ents")
    pairs = F.flatten(
        F.transform(
            F.col("ents"),
            lambda x, i: F.transform(
                F.slice(F.col("ents"), i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x.getField("entity_id").alias("first_id"),
                    y.getField("entity_id").alias("second_id"),
                    x.getField("first_span").getField("begin").alias("a_begin"),
                    x.getField("first_span").getField("end").alias("gap_begin"),
                    y.getField("first_span").getField("begin").alias("gap_end"),
                ),
            ),
        )
    )
    exploded = (
        per_sent.where(n >= 2)
        .select("url", "sent_idx", F.explode(pairs).alias("p"))
        .join(sentences.select("url", "sent_idx", "sentence"), ["url", "sent_idx"])
    )
    # chars strictly before A; a_begin is 0-based so substring(s, 1, a_begin)
    # is exactly that prefix (empty when A starts the sentence)
    nominal = F.regexp_extract(
        F.expr("lower(substring(sentence, 1, p.a_begin))"), r"([a-z]+) of $", 1
    )
    gap_is_by = (
        F.lower(
            F.trim(
                F.expr(
                    "substring(sentence, p.gap_begin + 1,"
                    " greatest(p.gap_end - p.gap_begin, 0))"
                )
            )
        )
        == "by"
    )
    return (
        exploded.select(
            "url",
            "sent_idx",
            F.col("p.second_id").alias("subj_id"),
            F.try_element_at(lex_map, nominal).alias("pred"),
            F.col("p.first_id").alias("obj_id"),
            gap_is_by.alias("_by"),
        )
        .where(F.col("pred").isNotNull() & F.col("_by"))
        .drop("_by")
    )


def fuse_claims(
    claims: DataFrame,
    iters: int = 3,
    state_round: int = 9,
) -> DataFrame:
    """Knowledge fusion by iterative truth discovery (Sums/TruthFinder
    family, the Knowledge-Vault ingredient the reference pipeline has
    no analog for): the SAME (subj, pred) slot extracted from many
    sources carries conflicting objects; estimate per-source trust and
    per-claim confidence jointly instead of majority-voting every host
    equally (majority vote = iters=1 with uniform trust, which a spam
    mirror farm defeats for free).

    Input: claims(source, subj_id, pred, obj_id) — source is typically
    the url host; rows are deduped here.

    Contract (mirrored verbatim by the DuckDB oracle):
      * t_0(source) = round(0.5, sr);
      * support_t(claim) = round(sum of t_t over its sources, sr),
        n_sources = that count;
      * slot_mass_t(subj, pred) = round(sum of support over the slot's
        competing claims, sr);
      * conf_t(claim) = round(support / slot_mass, sr) — the slot's
        trust-mass share, in (0, 1];
      * t_{t+1}(source) = max(round(avg conf_t over the source's
        claims, sr), 10^-sr) — trusted sources are those whose claims
        win their slots; the floor keeps slot_mass > 0 on pathological
        hub slots where a share underflows the state rounding;
      * after `iters` rounds: confidence = conf_{iters}, is_best marks
        the slot winner (max confidence, tie -> min obj_id).

    Per-iteration round(sr) is what makes an iterative float algorithm
    oracle-able at all (operators/graph.pagerank recipe): within one
    iteration a k-double sum may differ across engines by ~k ulps;
    rounding snaps both back to identical state before it compounds.

    Output: (subj_id, pred, obj_id, n_sources, confidence, is_best).

    Scale: the claim table is repartitioned ONCE on (subj_id, pred) and
    localCheckpoint'ed; every iteration reuses that exchange for the
    slot aggregate. Per iteration: one join keyed on source (uniform —
    hosts), one (subj,pred,obj) agg and one (subj,pred) agg (both
    partial-agg absorbed: a hot slot with millions of supporting rows
    collapses map-side to one partial per task), one source agg. Trust
    is O(#sources) — it could be broadcast, but stays a join so a
    billion-host crawl doesn't pin the driver; AQE picks broadcast
    when it fits. localCheckpoint per iteration caps lineage exactly
    as pagerank/components do.
    """
    if iters < 1:
        raise ValueError(f"fuse_claims needs iters >= 1: {iters}")
    floor = 10.0 ** (-state_round)
    c = (
        claims.select("source", "subj_id", "pred", "obj_id")
        .distinct()
        .repartition("subj_id", "pred")
        .localCheckpoint(eager=True)
    )
    trust = (
        c.select("source")
        .distinct()
        .select("source", F.round(F.lit(0.5), state_round).alias("t"))
        .localCheckpoint(eager=True)
    )
    conf = None
    for _ in range(iters):
        sup = (
            c.join(trust, "source")
            .groupBy("subj_id", "pred", "obj_id")
            .agg(
                F.round(F.sum("t"), state_round).alias("support"),
                F.count(F.lit(1)).cast("long").alias("n_sources"),
            )
        )
        mass = sup.groupBy("subj_id", "pred").agg(
            F.round(F.sum("support"), state_round).alias("slot_mass")
        )
        conf = sup.join(mass, ["subj_id", "pred"]).select(
            "subj_id",
            "pred",
            "obj_id",
            "n_sources",
            F.round(F.col("support") / F.col("slot_mass"), state_round).alias(
                "confidence"
            ),
        )
        trust = (
            c.join(
                conf.select("subj_id", "pred", "obj_id", "confidence"),
                ["subj_id", "pred", "obj_id"],
            )
            .groupBy("source")
            .agg(
                F.greatest(
                    F.round(F.avg("confidence"), state_round), F.lit(floor)
                ).alias("t")
            )
            .localCheckpoint(eager=True)
        )
    best = conf.groupBy("subj_id", "pred").agg(
        F.min(
            F.struct(
                (-F.col("confidence")).alias("neg"),
                F.col("obj_id").alias("o"),
            )
        ).alias("b")
    )
    return conf.join(best, ["subj_id", "pred"]).select(
        "subj_id",
        "pred",
        "obj_id",
        "n_sources",
        "confidence",
        (F.col("obj_id") == F.col("b.o")).alias("is_best"),
    )


def fuse_claims_oracle_sql(
    with_prefix: str,
    iters: int = 3,
    state_round: int = 9,
) -> str:
    """DuckDB twin of fuse_claims; `with_prefix` is a complete WITH
    chain whose LAST relation is claims(source, subj_id, pred, obj_id).
    Iterations are unrolled; per-step round({state_round}) keeps both
    engines on the identical state trajectory (pagerank recipe)."""
    if iters < 1:
        raise ValueError(f"fuse_claims needs iters >= 1: {iters}")
    sr = state_round
    floor = f"1e-{sr}"
    parts = [
        with_prefix,
        """,
c AS (SELECT DISTINCT source, subj_id, pred, obj_id FROM claims),
t0 AS (SELECT DISTINCT source, round(0.5, %d) AS t FROM c)""" % sr,
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
sup{i} AS (
  SELECT subj_id, pred, obj_id,
         round(sum(t.t), {sr}) AS support,
         count(*)::BIGINT AS n_sources
  FROM c JOIN t{i - 1} t USING (source)
  GROUP BY 1, 2, 3
),
mass{i} AS (
  SELECT subj_id, pred, round(sum(support), {sr}) AS slot_mass
  FROM sup{i} GROUP BY 1, 2
),
conf{i} AS (
  SELECT s.subj_id, s.pred, s.obj_id, s.n_sources,
         round(s.support / m.slot_mass, {sr}) AS confidence
  FROM sup{i} s JOIN mass{i} m USING (subj_id, pred)
),
t{i} AS (
  SELECT c.source,
         greatest(round(avg(f.confidence), {sr}), {floor}) AS t
  FROM c JOIN conf{i} f USING (subj_id, pred, obj_id)
  GROUP BY 1
)"""
        )
    parts.append(
        f""",
best AS (
  SELECT subj_id, pred,
         min(struct_pack(neg := -confidence, o := obj_id)) AS b
  FROM conf{iters} GROUP BY 1, 2
)
SELECT f.subj_id, f.pred, f.obj_id, f.n_sources, f.confidence,
       (f.obj_id = b.b.o) AS is_best
FROM conf{iters} f JOIN best b USING (subj_id, pred)
"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# AMIE-style horn-rule mining over the materialized KG edge table.
# ---------------------------------------------------------------------------


def mine_rules(
    edges: DataFrame,
    min_support: int = 2,
    max_chain_degree: int | None = None,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Closed horn-rule mining over the KG edge table — the AMIE(+)
    core (Galarraga et al., WWW 2013) restricted to the three rule
    shapes that cover most KG-completion deployments:

      imp    p(x,y)            => r(x,y)   (implication/subsumption)
      inv    p(x,y)            => r(y,x)   (inversion; p = r detects
                                            symmetric predicates)
      chain  p(x,y) AND q(y,z) => r(x,z)   (composition)

    Output, one row per rule passing ``support >= min_support``:
    (rule_type, body_p, body_q, head_r, support, body_size,
    head_size, pca_size, conf_micro, pca_conf_micro, hc_micro) with

      support         #distinct head-variable groundings where body
                      AND head hold (set semantics over DISTINCT
                      (s,p,o); chain bodies dedup (p,q,x,z) first, so
                      multiple connecting y count once),
      body_size       #distinct body groundings,
      head_size       #distinct pairs of the head predicate,
      pca_size        #body groundings whose head-subject has SOME
                      head_r edge (the Partial Completeness
                      Assumption denominator — AMIE's answer to the
                      open-world problem: missing facts only count
                      against a rule where the KG is known non-empty
                      for that subject),
      conf_micro      support * 1e6 div body_size   (std confidence),
      pca_conf_micro  support * 1e6 div pca_size    (PCA confidence),
      hc_micro        support * 1e6 div head_size   (head coverage),

    all exact BIGINTs (the repo-wide *_micro convention) so the DuckDB
    oracle is bit-identical. ``body_q`` is '' for the 1-atom shapes.

    Scale shape: ONE distinct over (s,p,o), then every statistic is an
    equi-join + partial-agg count. Join keys are (s,o) pairs, subject
    ids, or the chain pivot y — entity keys, uniform except hub
    entities. The rule space itself is tiny (bounded by the predicate
    vocabulary, P^2 + P^2 + P^3 for P predicates — dozens to a few
    thousand rows even on open-domain KGs), so every *rollup* is
    skew-free map-side combining; only the chain body join can
    explode, on a hub pivot y (a country entity with 1e7 in-edges and
    1e6 out-edges would ground 1e13 bodies). ``max_chain_degree``
    is the standard mitigation: pivots whose per-predicate in- or
    out-degree exceeds the cap are dropped from BOTH chain sides (a
    stated, oracle-shared semantics change — hub-pivot rules are
    exactly the near-zero-confidence ones the cap's bias discards;
    AMIE+ applies the same functionality-driven pruning). Default
    None = exact, for bounded KGs like the test corpus.

    Reference parity: EasyNER has no rule mining (its KG surface stops
    at co-occurrence counts, scripts/entity_parser.py:41-42); this is
    the north-star KG-construction layer's completion/QA step,
    downstream of aggregate_edges.
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1: {min_support}")
    t = (
        edges.select(
            F.col(subj).alias("s"), F.col(pred).alias("p"), F.col(obj).alias("o")
        )
        .distinct()
    )
    psize = t.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    sp = t.select("p", "s").distinct()  # (pred, subject) existence

    def _metrics(
        supp: DataFrame, bsize: DataFrame, pca: DataFrame, rtype: str, has_q: bool
    ) -> DataFrame:
        keys = ["p", "q", "hp"] if has_q else ["p", "hp"]
        out = (
            supp.join(bsize, keys[:-1])
            .join(pca, keys)
            .join(psize.select(F.col("p").alias("hp"), F.col("sz").alias("head_size")), "hp")
            .where(F.col("support") >= F.lit(min_support))
        )
        return out.select(
            F.lit(rtype).alias("rule_type"),
            F.col("p").alias("body_p"),
            (F.col("q") if has_q else F.lit("")).alias("body_q"),
            F.col("hp").alias("head_r"),
            "support",
            "body_size",
            "head_size",
            "pca_size",
            F.expr("(support * 1000000) div body_size").alias("conf_micro"),
            F.expr("(support * 1000000) div pca_size").alias("pca_conf_micro"),
            F.expr("(support * 1000000) div head_size").alias("hc_micro"),
        )

    # imp: p(x,y) => r(x,y), p != r
    th = t.select("s", F.col("p").alias("hp"), "o")
    imp_sup = (
        t.join(th, ["s", "o"])
        .where(F.col("p") != F.col("hp"))
        .groupBy("p", "hp")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    pair_bsize = psize.select("p", F.col("sz").alias("body_size"))
    imp_pca = (
        t.join(sp.select(F.col("s"), F.col("p").alias("hp")), "s")
        .where(F.col("p") != F.col("hp"))
        .groupBy("p", "hp")
        .agg(F.count(F.lit(1)).cast("long").alias("pca_size"))
    )
    r_imp = _metrics(imp_sup, pair_bsize, imp_pca, "imp", has_q=False)

    # inv: p(x,y) => r(y,x); p == r allowed (symmetry detection)
    rev = t.select(
        F.col("o").alias("s"), F.col("p").alias("hp"), F.col("s").alias("o")
    )
    inv_sup = (
        t.join(rev, ["s", "o"])
        .groupBy("p", "hp")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    inv_pca = (
        t.join(sp.select(F.col("s").alias("o"), F.col("p").alias("hp")), "o")
        .groupBy("p", "hp")
        .agg(F.count(F.lit(1)).cast("long").alias("pca_size"))
    )
    r_inv = _metrics(inv_sup, pair_bsize, inv_pca, "inv", has_q=False)

    # chain: p(x,y) AND q(y,z) => r(x,z)
    mid = t.select(F.col("o").alias("y"), "p", F.col("s").alias("x"))
    nxt = t.select(F.col("s").alias("y"), F.col("p").alias("q"), F.col("o").alias("z"))
    if max_chain_degree is not None:
        cap = F.lit(int(max_chain_degree))
        hot_in = (
            t.groupBy(F.col("o").alias("y"), "p")
            .agg(F.count(F.lit(1)).alias("_d"))
            .where(F.col("_d") > cap)
            .select("y")
        )
        hot_out = (
            t.groupBy(F.col("s").alias("y"), "p")
            .agg(F.count(F.lit(1)).alias("_d"))
            .where(F.col("_d") > cap)
            .select("y")
        )
        hot = hot_in.union(hot_out).distinct()
        mid = mid.join(hot, "y", "left_anti")
        nxt = nxt.join(hot, "y", "left_anti")
    body = mid.join(nxt, "y").select("p", "q", "x", "z").distinct()
    chain_bsize = body.groupBy("p", "q").agg(
        F.count(F.lit(1)).cast("long").alias("body_size")
    )
    heads = t.select(
        F.col("s").alias("x"), F.col("p").alias("hp"), F.col("o").alias("z")
    )
    chain_sup = (
        body.join(heads, ["x", "z"])
        .groupBy("p", "q", "hp")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    chain_pca = (
        body.join(sp.select(F.col("s").alias("x"), F.col("p").alias("hp")), "x")
        .groupBy("p", "q", "hp")
        .agg(F.count(F.lit(1)).cast("long").alias("pca_size"))
    )
    r_chain = _metrics(chain_sup, chain_bsize, chain_pca, "chain", has_q=True)

    return r_imp.unionByName(r_inv).unionByName(r_chain)


def mine_rules_oracle_sql(
    triples_sql: str,
    min_support: int = 2,
    max_chain_degree: int | None = None,
) -> str:
    """DuckDB twin of :func:`mine_rules`; ``triples_sql`` yields
    (subj, pred, obj) rows (pre-dedup input is fine). Same CTE per
    statistic, same integer micro-fractions — bit-identical."""
    if max_chain_degree is None:
        mid_src = "SELECT o AS y, p, s AS x FROM t"
        nxt_src = "SELECT s AS y, p AS q, o AS z FROM t"
        hot_cte = ""
    else:
        cap = int(max_chain_degree)
        hot_cte = f"""
hot AS (
  SELECT DISTINCT y FROM (
    SELECT o AS y, p, count(*) AS d FROM t GROUP BY o, p HAVING count(*) > {cap}
    UNION ALL
    SELECT s AS y, p, count(*) AS d FROM t GROUP BY s, p HAVING count(*) > {cap}
  )
),"""
        mid_src = "SELECT o AS y, p, s AS x FROM t WHERE o NOT IN (SELECT y FROM hot)"
        nxt_src = (
            "SELECT s AS y, p AS q, o AS z FROM t WHERE s NOT IN (SELECT y FROM hot)"
        )
    return f"""
WITH t AS MATERIALIZED (
  SELECT DISTINCT subj AS s, pred AS p, obj AS o FROM ({triples_sql})
),
ps AS (SELECT p, count(*)::BIGINT AS sz FROM t GROUP BY p),
sp AS (SELECT DISTINCT p, s FROM t),{hot_cte}
imp_sup AS (
  SELECT a.p, b.p AS hp, count(*)::BIGINT AS support
  FROM t a JOIN t b ON a.s = b.s AND a.o = b.o AND a.p <> b.p
  GROUP BY a.p, b.p
),
imp_pca AS (
  SELECT a.p, h.p AS hp, count(*)::BIGINT AS pca_size
  FROM t a JOIN sp h ON a.s = h.s AND a.p <> h.p
  GROUP BY a.p, h.p
),
inv_sup AS (
  SELECT a.p, b.p AS hp, count(*)::BIGINT AS support
  FROM t a JOIN t b ON a.s = b.o AND a.o = b.s
  GROUP BY a.p, b.p
),
inv_pca AS (
  SELECT a.p, h.p AS hp, count(*)::BIGINT AS pca_size
  FROM t a JOIN sp h ON a.o = h.s
  GROUP BY a.p, h.p
),
body AS (
  SELECT DISTINCT m.p, n.q, m.x, n.z
  FROM ({mid_src}) m JOIN ({nxt_src}) n ON m.y = n.y
),
chain_bsize AS (
  SELECT p, q, count(*)::BIGINT AS body_size FROM body GROUP BY p, q
),
chain_sup AS (
  SELECT c.p, c.q, h.p AS hp, count(*)::BIGINT AS support
  FROM body c JOIN t h ON c.x = h.s AND c.z = h.o
  GROUP BY c.p, c.q, h.p
),
chain_pca AS (
  SELECT c.p, c.q, h.p AS hp, count(*)::BIGINT AS pca_size
  FROM body c JOIN sp h ON c.x = h.s
  GROUP BY c.p, c.q, h.p
)
SELECT 'imp' AS rule_type, i.p AS body_p, '' AS body_q, i.hp AS head_r,
       i.support, bs.sz AS body_size, hs.sz AS head_size, ip.pca_size,
       (i.support * 1000000) // bs.sz AS conf_micro,
       (i.support * 1000000) // ip.pca_size AS pca_conf_micro,
       (i.support * 1000000) // hs.sz AS hc_micro
FROM imp_sup i
JOIN ps bs ON bs.p = i.p
JOIN ps hs ON hs.p = i.hp
JOIN imp_pca ip ON ip.p = i.p AND ip.hp = i.hp
WHERE i.support >= {int(min_support)}
UNION ALL
SELECT 'inv', i.p, '', i.hp, i.support, bs.sz, hs.sz, ip.pca_size,
       (i.support * 1000000) // bs.sz,
       (i.support * 1000000) // ip.pca_size,
       (i.support * 1000000) // hs.sz
FROM inv_sup i
JOIN ps bs ON bs.p = i.p
JOIN ps hs ON hs.p = i.hp
JOIN inv_pca ip ON ip.p = i.p AND ip.hp = i.hp
WHERE i.support >= {int(min_support)}
UNION ALL
SELECT 'chain', c.p, c.q, c.hp, c.support, bs.body_size, hs.sz, cp.pca_size,
       (c.support * 1000000) // bs.body_size,
       (c.support * 1000000) // cp.pca_size,
       (c.support * 1000000) // hs.sz
FROM chain_sup c
JOIN chain_bsize bs ON bs.p = c.p AND bs.q = c.q
JOIN ps hs ON hs.p = c.hp
JOIN chain_pca cp ON cp.p = c.p AND cp.q = c.q AND cp.hp = c.hp
WHERE c.support >= {int(min_support)}
"""


def rule_predictions(
    edges: DataFrame,
    min_support: int = 2,
    min_pca_micro: int = 500000,
    max_chain_degree: int | None = None,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """KG completion by applying the mined rules: (subj, pred, obj,
    score_micro, n_rules) — every triple NOT in the KG that at least
    one rule with ``pca_conf_micro >= min_pca_micro`` (and mining
    ``min_support``) derives, scored with the best firing rule's PCA
    confidence and the count of distinct firing rules.

    Shape: rules come from :func:`mine_rules` — a vocabulary-bounded
    table (never data-sized), so every rule application is a
    BROADCAST join of rules against the body-grounding frames the
    miner already defines; then one anti-join against the KG drops
    known facts and one rollup aggregates per predicted triple.
    Derivations are set-semantic (body groundings are distinct per
    rule), so n_rules is an exact distinct-rule count without a
    distinct aggregate.
    """
    t = (
        edges.select(
            F.col(subj).alias("s"), F.col(pred).alias("p"), F.col(obj).alias("o")
        )
        .distinct()
    )
    rules = mine_rules(
        edges,
        min_support=min_support,
        max_chain_degree=max_chain_degree,
        subj=subj,
        pred=pred,
        obj=obj,
    ).where(F.col("pca_conf_micro") >= F.lit(int(min_pca_micro)))

    imp_rules = F.broadcast(
        rules.where(F.col("rule_type") == "imp").select(
            F.col("body_p").alias("p"),
            F.col("head_r").alias("hp"),
            F.col("pca_conf_micro").alias("score"),
        )
    )
    inv_rules = F.broadcast(
        rules.where(F.col("rule_type") == "inv").select(
            F.col("body_p").alias("p"),
            F.col("head_r").alias("hp"),
            F.col("pca_conf_micro").alias("score"),
        )
    )
    chain_rules = F.broadcast(
        rules.where(F.col("rule_type") == "chain").select(
            F.col("body_p").alias("p"),
            F.col("body_q").alias("q"),
            F.col("head_r").alias("hp"),
            F.col("pca_conf_micro").alias("score"),
        )
    )

    d_imp = t.join(imp_rules, "p").select(
        "s", F.col("hp").alias("p2"), "o", "score"
    )
    d_inv = t.join(inv_rules, "p").select(
        F.col("o").alias("s"), F.col("hp").alias("p2"), F.col("s").alias("o"), "score"
    )
    mid = t.select(F.col("o").alias("y"), "p", F.col("s").alias("x"))
    nxt = t.select(F.col("s").alias("y"), F.col("p").alias("q"), F.col("o").alias("z"))
    body = mid.join(nxt, "y").select("p", "q", "x", "z").distinct()
    d_chain = body.join(chain_rules, ["p", "q"]).select(
        F.col("x").alias("s"), F.col("hp").alias("p2"), F.col("z").alias("o"), "score"
    )
    derived = d_imp.unionByName(d_inv).unionByName(d_chain)
    known = t.select("s", F.col("p").alias("p2"), "o")
    novel = derived.join(known, ["s", "p2", "o"], "left_anti")
    return novel.groupBy("s", "p2", "o").agg(
        F.max("score").cast("long").alias("score_micro"),
        F.count(F.lit(1)).cast("long").alias("n_rules"),
    ).select(
        F.col("s").alias("subj"),
        F.col("p2").alias("pred"),
        F.col("o").alias("obj"),
        "score_micro",
        "n_rules",
    )


def rule_predictions_oracle_sql(
    triples_sql: str,
    min_support: int = 2,
    min_pca_micro: int = 500000,
    max_chain_degree: int | None = None,
) -> str:
    """DuckDB twin of :func:`rule_predictions` — composes the miner's
    oracle as a CTE and re-applies the same three derivation joins."""
    rules_sql = mine_rules_oracle_sql(
        triples_sql, min_support=min_support, max_chain_degree=max_chain_degree
    )
    return f"""
WITH t2 AS MATERIALIZED (
  SELECT DISTINCT subj AS s, pred AS p, obj AS o FROM ({triples_sql})
),
rules AS MATERIALIZED (
  SELECT * FROM ({rules_sql}) WHERE pca_conf_micro >= {int(min_pca_micro)}
),
derived AS (
  SELECT a.s, r.head_r AS p2, a.o, r.pca_conf_micro AS score
  FROM t2 a JOIN rules r ON r.rule_type = 'imp' AND r.body_p = a.p
  UNION ALL
  SELECT a.o AS s, r.head_r, a.s AS o, r.pca_conf_micro
  FROM t2 a JOIN rules r ON r.rule_type = 'inv' AND r.body_p = a.p
  UNION ALL
  SELECT c.x, r.head_r, c.z, r.pca_conf_micro
  FROM (SELECT DISTINCT m.p, n.q, m.x, n.z
        FROM (SELECT o AS y, p, s AS x FROM t2) m
        JOIN (SELECT s AS y, p AS q, o AS z FROM t2) n ON m.y = n.y) c
  JOIN rules r ON r.rule_type = 'chain' AND r.body_p = c.p AND r.body_q = c.q
)
SELECT d.s AS subj, d.p2 AS pred, d.o AS obj,
       max(d.score)::BIGINT AS score_micro,
       count(*)::BIGINT AS n_rules
FROM derived d
WHERE NOT EXISTS (
  SELECT 1 FROM t2 k WHERE k.s = d.s AND k.p = d.p2 AND k.o = d.o
)
GROUP BY d.s, d.p2, d.o
"""


def predicate_signatures(
    edges: DataFrame,
    types: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    entity_col: str = "entity_id",
    type_col: str = "ent_type",
    unknown: str = "unknown",
) -> DataFrame:
    """Predicate argument-type signature induction — the inverse of
    :func:`entity_types` (which types nodes FROM predicate usage, this
    profiles predicates FROM node types): per (pred, subj_type,
    obj_type) the edge count, the predicate total, the exact
    share_micro, and an is_dominant flag on the winning signature
    (ties broken (subj_type, obj_type) ascending via the repo's
    min(struct) argmax). The schema-induction/QA table: 'inhibits:
    chemical->gene 92%' is a usable domain/range constraint, and a
    low-share signature row is a triple-extraction error candidate —
    the relational face of SHACL-style domain/range validation.

    `types` carries one row per entity (entity_types' contract);
    untyped entities fall into the `unknown` bucket via left joins,
    so coverage gaps are visible rather than silently dropped.

    Scale: two entity-keyed equi-joins (uniform but for hub entities
    — AQE skew-split, the engine-wide contract), then the
    predicate_cardinality shuffle shape: groupBy (pred, types) with
    map-side combine absorbing hot predicates (a web-scale pred has
    billions of edges but <= |types|^2 signature rows per map task),
    then a predicate rollup of the already-collapsed table.

    Reference parity: no analog (the reference's classes are NER-model
    outputs, scripts/ner_inference.py); this is north-star KG QA over
    aggregate_edges + entity_types.
    """
    t = edges.select(
        F.col(subj).alias("_s"), F.col(pred).alias("pred"), F.col(obj).alias("_o")
    )
    ty_s = types.select(
        F.col(entity_col).alias("_s"), F.col(type_col).alias("_st")
    )
    ty_o = types.select(
        F.col(entity_col).alias("_o"), F.col(type_col).alias("_ot")
    )
    sig = (
        t.join(ty_s, "_s", "left")
        .join(ty_o, "_o", "left")
        .groupBy(
            "pred",
            F.coalesce("_st", F.lit(unknown)).alias("subj_type"),
            F.coalesce("_ot", F.lit(unknown)).alias("obj_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    roll = sig.groupBy("pred").agg(
        F.sum("n").cast("long").alias("total"),
        F.min(
            F.struct(
                (-F.col("n")).alias("neg"),
                F.col("subj_type").alias("st"),
                F.col("obj_type").alias("ot"),
            )
        ).alias("_dom"),
    )
    return sig.join(roll, "pred").select(
        "pred",
        "subj_type",
        "obj_type",
        "n",
        "total",
        F.expr("(n * 1000000) div total").alias("share_micro"),
        (
            (F.col("n") == -F.col("_dom.neg"))
            & (F.col("subj_type") == F.col("_dom.st"))
            & (F.col("obj_type") == F.col("_dom.ot"))
        ).alias("is_dominant"),
    )


def predicate_signatures_oracle_sql(
    triples_sql: str, types_sql: str, unknown: str = "unknown"
) -> str:
    """DuckDB twin of :func:`predicate_signatures`; `triples_sql`
    yields (subj, pred, obj), `types_sql` yields (entity_id,
    ent_type) one row per entity."""
    u = unknown.replace("'", "''")
    return f"""
WITH t AS MATERIALIZED (SELECT subj, pred, obj FROM ({triples_sql})),
ty AS MATERIALIZED (SELECT entity_id, ent_type FROM ({types_sql})),
sig AS (
  SELECT t.pred,
         coalesce(s.ent_type, '{u}') AS subj_type,
         coalesce(o.ent_type, '{u}') AS obj_type,
         count(*)::BIGINT AS n
  FROM t
  LEFT JOIN ty s ON s.entity_id = t.subj
  LEFT JOIN ty o ON o.entity_id = t.obj
  GROUP BY 1, 2, 3
),
roll AS (
  SELECT pred, sum(n)::BIGINT AS total,
         min(struct_pack(neg := -n, st := subj_type, ot := obj_type)) AS dom
  FROM sig GROUP BY pred
)
SELECT s.pred, s.subj_type, s.obj_type, s.n, r.total,
       (s.n * 1000000) // r.total AS share_micro,
       (s.n = -r.dom.neg AND s.subj_type = r.dom.st
        AND s.obj_type = r.dom.ot) AS is_dominant
FROM sig s JOIN roll r ON r.pred = s.pred
"""


def predicate_equivalences(
    edges: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    min_overlap: int = 1,
) -> DataFrame:
    """Predicate synonym / inverse detection by pair-set overlap — the
    ontology-alignment step a web-scale KG needs because crawled
    predicates are surface strings ('acquired' vs 'bought',
    'employs' vs 'works_for' flipped): per unordered predicate pair
    emit kind='equiv' overlap of the DISTINCT (subj, obj) pair sets
    (pred_a < pred_b) and kind='inverse' overlap of A's pairs with
    B's REVERSED pairs (pred_a <= pred_b; pred_a == pred_b is
    symmetric-predicate detection — n_both then counts DIRECTED pairs
    whose reverse also exists, so an involution scores
    jaccard_micro=1_000_000). Scores are exact BIGINT micro-units:
    jaccard over the pair-set union, plus both containments
    (a_in_b_micro = n_both/n_a) so subset predicates ('city_of' ⊂
    'located_in') surface even when Jaccard is low. This is the
    length-1 specialization of :func:`mine_rules` (imp/inv shapes)
    restricted to pair-set algebra — kept separate because it needs
    no head-variable accounting and emits containment both ways.

    Scale: dedup to distinct (pred, subj, obj) once (one shuffle),
    self-join on the (subj, obj) pair key — a pair key appears at
    most |pred-vocab| times per side, so fan-out per key is bounded
    by vocab^2, not data; groupBy (pred_a, pred_b, kind) collapses
    map-side to <= vocab^2 rows per task; per-predicate totals are a
    bounded table joined broadcast. No driver collect.

    Reference parity: no analog (the reference emits one fixed
    'co-occurs' relation, scripts/entity_parser.py:41-42); north-star
    canonicalization layer over aggregate_edges output.
    """
    pairs = edges.select(
        F.col(pred).alias("p"), F.col(subj).alias("s"), F.col(obj).alias("o")
    ).distinct()
    tot = pairs.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("n"))

    a = pairs.select(F.col("p").alias("pa"), "s", "o")
    b = pairs.select(F.col("p").alias("pb"), "s", "o")
    eq = (
        a.join(b, ["s", "o"])
        .where(F.col("pa") < F.col("pb"))
        .select("pa", "pb", F.lit("equiv").alias("kind"))
    )
    brev = pairs.select(
        F.col("p").alias("pb"), F.col("o").alias("s"), F.col("s").alias("o")
    )
    inv = (
        a.join(brev, ["s", "o"])
        .where(F.col("pa") <= F.col("pb"))
        .select("pa", "pb", F.lit("inverse").alias("kind"))
    )
    both = (
        eq.unionByName(inv)
        .groupBy("pa", "pb", "kind")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .where(F.col("n_both") >= min_overlap)
    )
    ta = tot.select(F.col("p").alias("pa"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("p").alias("pb"), F.col("n").alias("n_b"))
    return (
        both.join(F.broadcast(ta), "pa")
        .join(F.broadcast(tb), "pb")
        .select(
            F.col("pa").alias("pred_a"),
            F.col("pb").alias("pred_b"),
            "kind",
            "n_a",
            "n_b",
            "n_both",
            F.expr("(n_both * 1000000) div (n_a + n_b - n_both)").alias(
                "jaccard_micro"
            ),
            F.expr("(n_both * 1000000) div n_a").alias("a_in_b_micro"),
            F.expr("(n_both * 1000000) div n_b").alias("b_in_a_micro"),
        )
    )


def predicate_equivalences_oracle_sql(
    triples_sql: str, min_overlap: int = 1
) -> str:
    """DuckDB twin of :func:`predicate_equivalences`; `triples_sql`
    yields (subj, pred, obj)."""
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT pred AS p, subj AS s, obj AS o FROM ({triples_sql})
),
tot AS (SELECT p, count(*)::BIGINT AS n FROM pairs GROUP BY p),
eq AS (
  SELECT a.p AS pa, b.p AS pb, 'equiv' AS kind
  FROM pairs a JOIN pairs b ON a.s = b.s AND a.o = b.o AND a.p < b.p
),
inv AS (
  SELECT a.p AS pa, b.p AS pb, 'inverse' AS kind
  FROM pairs a JOIN pairs b ON a.s = b.o AND a.o = b.s AND a.p <= b.p
),
ovl AS (
  SELECT pa, pb, kind, count(*)::BIGINT AS n_both
  FROM (SELECT * FROM eq UNION ALL SELECT * FROM inv)
  GROUP BY 1, 2, 3
  HAVING count(*) >= {min_overlap}
)
SELECT b.pa AS pred_a, b.pb AS pred_b, b.kind,
       ta.n AS n_a, tb.n AS n_b, b.n_both,
       (b.n_both * 1000000) // (ta.n + tb.n - b.n_both) AS jaccard_micro,
       (b.n_both * 1000000) // ta.n AS a_in_b_micro,
       (b.n_both * 1000000) // tb.n AS b_in_a_micro
FROM ovl b JOIN tot ta ON ta.p = b.pa JOIN tot tb ON tb.p = b.pb
"""


def infer_entity_types(
    edges: DataFrame,
    types: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    entity_col: str = "entity_id",
    type_col: str = "ent_type",
) -> DataFrame:
    """Type propagation to UNTYPED entities via predicate-signature
    votes — the KG-completion companion of
    :func:`predicate_signatures` (which profiles predicates from
    typed nodes; this types nodes from predicate profiles). For every
    entity that appears in `edges` but not in `types`: each of its
    subject occurrences under predicate p casts n_subj(p, ty) votes
    for type ty (the count of TYPED subjects of type ty under p), and
    each object occurrence casts n_obj(p, ty). All-BIGINT products
    and sums — exact, order-independent, engine-checkable. Output one
    row per (entity_id, candidate type) with votes, total, exact
    share_micro, and is_best on the argmax (ties break on ent_type
    ascending via the repo's min(struct) rule). Entities whose every
    (pred, role) has zero typed participants emit no rows (no
    evidence — visible as absence, never a fabricated type).

    Scale: the (pred, role, type) vote table is bounded by
    |pred-vocab| x |type-vocab| x 2 -> broadcast. The untyped
    occurrence table is repartitioned ONCE on entity_id; all three
    downstream groupBys key on an entity_id prefix, so
    EnsureRequirements inserts no further exchange (the
    extract_triples single-exchange pattern). Hub entities collapse
    map-side to <= vocab-bounded rows per task.

    Reference parity: no analog (reference types come only from the
    NER model's class head, scripts/ner_inference.py); north-star
    node-table enrichment.
    """
    t = edges.select(
        F.col(subj).alias("_s"), F.col(pred).alias("p"), F.col(obj).alias("_o")
    )
    ty = types.select(
        F.col(entity_col).alias("eid"), F.col(type_col).alias("ty")
    )
    sig = (
        t.join(ty.withColumnRenamed("eid", "_s"), "_s")
        .groupBy("p", "ty")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("p", F.lit("s").alias("role"), "ty", "n")
    ).unionByName(
        t.join(ty.withColumnRenamed("eid", "_o"), "_o")
        .groupBy("p", "ty")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("p", F.lit("o").alias("role"), "ty", "n")
    )
    occ = t.select(
        F.col("_s").alias("eid"), "p", F.lit("s").alias("role")
    ).unionByName(t.select(F.col("_o").alias("eid"), "p", F.lit("o").alias("role")))
    cnt = (
        occ.join(ty.select("eid"), "eid", "left_anti")
        .repartition("eid")
        .groupBy("eid", "p", "role")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    votes = (
        cnt.join(F.broadcast(sig), ["p", "role"])
        .groupBy("eid", "ty")
        .agg(F.sum(F.col("m") * F.col("n")).cast("long").alias("votes"))
    )
    roll = votes.groupBy("eid").agg(
        F.sum("votes").cast("long").alias("total"),
        F.min(
            F.struct((-F.col("votes")).alias("neg"), F.col("ty").alias("t"))
        ).alias("_best"),
    )
    return votes.join(roll, "eid").select(
        F.col("eid").alias("entity_id"),
        F.col("ty").alias("ent_type"),
        "votes",
        "total",
        F.expr("(votes * 1000000) div total").alias("share_micro"),
        (
            (F.col("votes") == -F.col("_best.neg"))
            & (F.col("ty") == F.col("_best.t"))
        ).alias("is_best"),
    )


def infer_entity_types_oracle_sql(triples_sql: str, types_sql: str) -> str:
    """DuckDB twin of :func:`infer_entity_types`; `triples_sql` yields
    (subj, pred, obj), `types_sql` yields (entity_id, ent_type)."""
    return f"""
WITH t AS MATERIALIZED (SELECT subj, pred AS p, obj FROM ({triples_sql})),
ty AS MATERIALIZED (SELECT entity_id AS eid, ent_type AS ty
                    FROM ({types_sql})),
sig AS (
  SELECT p, 's' AS role, s.ty, count(*)::BIGINT AS n
  FROM t JOIN ty s ON s.eid = t.subj GROUP BY 1, 2, 3
  UNION ALL
  SELECT p, 'o' AS role, o.ty, count(*)::BIGINT AS n
  FROM t JOIN ty o ON o.eid = t.obj GROUP BY 1, 2, 3
),
occ AS (
  SELECT subj AS eid, p, 's' AS role FROM t
  UNION ALL
  SELECT obj AS eid, p, 'o' AS role FROM t
),
cnt AS (
  SELECT eid, p, role, count(*)::BIGINT AS m FROM occ
  WHERE eid NOT IN (SELECT eid FROM ty)
  GROUP BY 1, 2, 3
),
votes AS (
  SELECT c.eid, s.ty, sum(c.m * s.n)::BIGINT AS votes
  FROM cnt c JOIN sig s ON s.p = c.p AND s.role = c.role
  GROUP BY 1, 2
),
roll AS (
  SELECT eid, sum(votes)::BIGINT AS total,
         min(struct_pack(neg := -votes, t := ty)) AS best
  FROM votes GROUP BY eid
)
SELECT v.eid AS entity_id, v.ty AS ent_type, v.votes, r.total,
       (v.votes * 1000000) // r.total AS share_micro,
       (v.votes = -r.best.neg AND v.ty = r.best.t) AS is_best
FROM votes v JOIN roll r ON r.eid = v.eid
"""


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


def predicate_support_profile(
    triples: DataFrame,
    pred: str = "pred",
    source_col: str = "host",
) -> DataFrame:
    """Per-predicate source-diversity QA: n_facts, n_sources (exact
    distinct), top_source and its exact share_micro — the provenance
    lens on the edge table. A predicate asserted 10^6 times by ONE
    host is a template artifact or spam campaign, not knowledge
    (the fuse_claims intuition at schema granularity); surfacing
    single-source predicates is the cheapest KG-poisoning tripwire a
    crawl-scale pipeline can run.

    Scale: one groupBy (pred, source) with map-side combine absorbing
    hot predicates (<= |preds| x |sources-per-task| rows shipped),
    then a predicate rollup of the collapsed table; top source via the
    repo's min(struct) argmax — no window, no second scan.

    Reference parity: no analog; north-star edge-table QA beside
    :func:`predicate_signatures` (types) and
    :func:`predicate_equivalences` (synonymy).
    """
    ps = (
        triples.groupBy(
            F.col(pred).alias("pred"), F.col(source_col).alias("src")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    roll = ps.groupBy("pred").agg(
        F.sum("n").cast("long").alias("n_facts"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.min(
            F.struct((-F.col("n")).alias("neg"), F.col("src").alias("s"))
        ).alias("_top"),
    )
    return roll.select(
        "pred",
        "n_facts",
        "n_sources",
        F.col("_top.s").alias("top_source"),
        F.expr("((-_top.neg) * 1000000) div n_facts").alias(
            "top_share_micro"
        ),
        (F.col("n_sources") == 1).alias("single_source"),
    )


def predicate_support_profile_oracle_sql(
    triples_sql: str, source_col: str = "host"
) -> str:
    """DuckDB twin of :func:`predicate_support_profile`; `triples_sql`
    yields (pred, <source_col>)."""
    return f"""
WITH ps AS (
  SELECT pred, {source_col} AS src, count(*)::BIGINT AS n
  FROM ({triples_sql}) GROUP BY 1, 2
),
roll AS (
  SELECT pred, sum(n)::BIGINT AS n_facts, count(*)::BIGINT AS n_sources,
         min(struct_pack(neg := -n, s := src)) AS top
  FROM ps GROUP BY pred
)
SELECT pred, n_facts, n_sources, top.s AS top_source,
       ((-top.neg) * 1000000) // n_facts AS top_share_micro,
       (n_sources = 1) AS single_source
FROM roll
"""


def validate_shapes(
    edges: DataFrame,
    types: DataFrame,
    shapes: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    entity_col: str = "entity_id",
    type_col: str = "ent_type",
) -> DataFrame:
    """SHACL-lite shape validation — the unified QA gate over the
    edge table. `shapes` declares per-predicate constraints
    (pred, domain_type, range_type, max_out): '' disables a type
    constraint, max_out <= 0 disables the cardinality cap (explicit
    sentinels, not NULLs, so Spark and the oracle share one equality
    semantics). Emits one row per violation:

      kind='domain' / 'range' — an edge whose typed subject/object
        contradicts the declared type (detail = the actual type;
        UNTYPED endpoints are unverifiable and never flagged — the
        typing gap is visible in predicate_signatures' unknown
        bucket, not here);
      kind='max_out' — a (subj, pred) whose out-degree exceeds
        max_out (obj='', detail = the count).

    The relational face of SHACL sh:class / sh:maxCount — the checks
    :func:`functional_violations` (max_out=1 special case) and
    :func:`predicate_signatures` (induced, not declared) bracket.

    Scale: shapes is vocabulary-bounded -> broadcast; type joins are
    the entity-keyed equi-joins of predicate_signatures (AQE
    skew-split); the out-degree groupBy collapses map-side per
    (subj, pred). No window, no driver collect.

    Reference parity: no analog; north-star edge-table QA.
    """
    t = edges.select(
        F.col(subj).alias("s"), F.col(pred).alias("pred"), F.col(obj).alias("o")
    )
    sh = F.broadcast(
        shapes.select(
            F.col("pred"),
            F.col("domain_type").alias("_dom"),
            F.col("range_type").alias("_rng"),
            F.col("max_out").cast("long").alias("_max"),
        )
    )
    ty_s = types.select(
        F.col(entity_col).alias("s"), F.col(type_col).alias("_st")
    )
    ty_o = types.select(
        F.col(entity_col).alias("o"), F.col(type_col).alias("_ot")
    )
    constrained = t.join(sh, "pred")
    dom = (
        constrained.where(F.col("_dom") != "")
        .join(ty_s, "s")
        .where(F.col("_st") != F.col("_dom"))
        .select(
            F.lit("domain").alias("kind"),
            "pred",
            F.col("s").alias("subj"),
            F.col("o").alias("obj"),
            F.col("_st").alias("detail"),
        )
    )
    rng = (
        constrained.where(F.col("_rng") != "")
        .join(ty_o, "o")
        .where(F.col("_ot") != F.col("_rng"))
        .select(
            F.lit("range").alias("kind"),
            "pred",
            F.col("s").alias("subj"),
            F.col("o").alias("obj"),
            F.col("_ot").alias("detail"),
        )
    )
    card = (
        constrained.where(F.col("_max") > 0)
        .groupBy("s", "pred", "_max")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") > F.col("_max"))
        .select(
            F.lit("max_out").alias("kind"),
            "pred",
            F.col("s").alias("subj"),
            F.lit("").alias("obj"),
            F.col("n").cast("string").alias("detail"),
        )
    )
    return dom.unionByName(rng).unionByName(card)


def validate_shapes_oracle_sql(
    triples_sql: str, types_sql: str, shapes_sql: str
) -> str:
    """DuckDB twin of :func:`validate_shapes`; inputs yield
    (subj, pred, obj), (entity_id, ent_type), and
    (pred, domain_type, range_type, max_out)."""
    return f"""
WITH t AS MATERIALIZED (SELECT subj AS s, pred, obj AS o FROM ({triples_sql})),
ty AS MATERIALIZED (SELECT entity_id, ent_type FROM ({types_sql})),
sh AS MATERIALIZED (SELECT pred, domain_type, range_type,
                           max_out::BIGINT AS max_out FROM ({shapes_sql})),
c AS (SELECT t.*, sh.domain_type, sh.range_type, sh.max_out
      FROM t JOIN sh ON sh.pred = t.pred)
SELECT 'domain' AS kind, pred, s AS subj, o AS obj, st.ent_type AS detail
FROM c JOIN ty st ON st.entity_id = c.s
WHERE domain_type != '' AND st.ent_type != domain_type
UNION ALL
SELECT 'range', pred, s, o, ot.ent_type
FROM c JOIN ty ot ON ot.entity_id = c.o
WHERE range_type != '' AND ot.ent_type != range_type
UNION ALL
SELECT 'max_out', pred, s, '', CAST(n AS VARCHAR)
FROM (SELECT s, pred, max_out, count(*)::BIGINT AS n
      FROM c WHERE max_out > 0 GROUP BY 1, 2, 3)
WHERE n > max_out
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
    size-estimation input a BGP planner (match_patterns) would use;
    complements predicate_signatures (per-pred argmax shares) by
    keeping the full type x pred x type matrix. Untyped entities
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


def temporal_functional_violations(
    triples: DataFrame,
    constraints: list[tuple[str, str]],
    epoch_col: str = "epoch",
) -> DataFrame:
    """(pred, kind, entity, epoch, n_values, first_value, last_value)
    — the TEMPORAL refinement of functional_violations: a functional
    conflict only counts when the contradictory values are asserted
    in the SAME crawl epoch. "The capital moved between epochs" is
    history (edge_history's status column tracks it); "two capitals
    claimed in one epoch" is an extraction error — this table is the
    per-epoch error feed an incremental-KG ingest reviews before
    folding an epoch in.

    Same contracts as functional_violations: kinds 'functional' /
    'inverse_functional'; counts are exact because the per-epoch
    DISTINCT projection precedes the rollup; min/max values as repair
    anchors; no collect_set (O(1) state per key).

    Scale: the declared-predicate isin pushes to the scan; then ONE
    distinct + ONE composite-key rollup per kind on
    (pred, entity, epoch) — epochs bound the key space, partial aggs
    absorb hub entities; kinds union with no further shuffle.
    """
    kinds = {k for _, k in constraints}
    bad = kinds - {"functional", "inverse_functional"}
    if bad:
        raise ValueError(f"unknown constraint kind(s): {sorted(bad)!r}")

    def _side(kind: str, key: str, val: str) -> DataFrame:
        preds = sorted(p for p, k in constraints if k == kind)
        if not preds:
            return None
        return (
            triples.where(F.col("pred").isin(preds))
            .select(
                "pred",
                F.col(key).alias("entity"),
                F.col(epoch_col).cast("long").alias("epoch"),
                F.col(val).alias("_v"),
            )
            .distinct()
            .groupBy("pred", "entity", "epoch")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_values"),
                F.min("_v").alias("first_value"),
                F.max("_v").alias("last_value"),
            )
            .where(F.col("n_values") > 1)
            .select(
                "pred",
                F.lit(kind).alias("kind"),
                "entity",
                "epoch",
                "n_values",
                "first_value",
                "last_value",
            )
        )

    f = _side("functional", "subj", "obj")
    inv = _side("inverse_functional", "obj", "subj")
    if f is None:
        return inv
    if inv is None:
        return f
    return f.unionByName(inv)


def temporal_functional_violations_oracle_sql(
    triples_sql: str, constraints: list[tuple[str, str]]
) -> str:
    """DuckDB twin of :func:`temporal_functional_violations`;
    `triples_sql` yields (subj, pred, obj, epoch)."""
    parts = []
    for kind, key, val in (
        ("functional", "subj", "obj"),
        ("inverse_functional", "obj", "subj"),
    ):
        preds = sorted(p for p, k in constraints if k == kind)
        if not preds:
            continue
        in_list = ", ".join(f"'{p}'" for p in preds)
        parts.append(
            f"""
SELECT pred, '{kind}' AS kind, entity, epoch,
       count(*)::BIGINT AS n_values,
       min(v) AS first_value, max(v) AS last_value
FROM (SELECT DISTINCT pred, {key} AS entity, epoch::BIGINT AS epoch,
             {val} AS v
      FROM tfv_t WHERE pred IN ({in_list}))
GROUP BY pred, entity, epoch
HAVING count(*) > 1"""
        )
    body = "\nUNION ALL\n".join(parts)
    return f"""
WITH tfv_t AS ({triples_sql})
{body}
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
    — the same materialization edge_history keeps, so at scale this
    reads the maintained table instead — then the standard pattern
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
