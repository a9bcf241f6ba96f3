"""Entity frequency rollup + top-k (SURVEY.md section 2.6 A1-A3, 2.8 O2-O3).

Reference: scripts/analysis.py:40-80 accumulates, per entity surface
string (cased, as matched), `total_count`, the distinct-article set,
the distinct-batch set and per-batch counts, then derives
articles_spanned / batches_spanned / freq_per_article / freq_per_batch
and sorts by total_count descending.

Spark shape: one groupBy — Catalyst compiles it to partial (map-side)
hash aggregation, a single shuffle on `mention`, and a final hash agg;
top-k (`plot` feed, scripts/analysis.py:89) becomes
TakeOrderedAndProject, never a global sort of the full rollup.

Scale notes (100 TB design point, SURVEY section 7.4):
  - `collect_set(url)` is unbounded at web scale -> gated behind
    `exact_sets` (test/compat profile only). Production keeps counts +
    optional top-k exemplar urls.
  - `countDistinct` is the reference-exact semantic; `approximate=True`
    swaps in HLL `approx_count_distinct` for dashboard-grade rollups.
  - reference tie order is dict-insertion order under pandas stable
    sort (scripts/analysis.py:72) — not reproducible distributed, so
    the engine pins the documented tie-break (desc count, asc mention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def entity_frequency(
    mentions: DataFrame,
    mention_col: str = "mention",
    doc_col: str = "url",
    batch_col: str | None = None,
    exact_sets: bool = False,
    approximate: bool = False,
    batch_counts: bool = False,
) -> DataFrame:
    """`batch_counts=True` adds the reference's nested per-batch count
    map (`batch_count`, scripts/analysis.py:47-80) as
    map<batch, count> with keys in ascending batch order.

    Plan shape of that path: ONE real shuffle. A composite pre-agg
    g0 = groupBy(mention, doc, batch) runs after an explicit
    repartition on `mention` (HashPartitioning(mention) satisfies
    ClusteredDistribution(mention, doc, batch), so the agg is local);
    every downstream rollup — per-doc, per-batch, the batch_count map,
    the exact sets, the final equi-join — groups on a key prefixed by
    `mention` and inherits that same partitioning, so Catalyst plans no
    further exchange (the two branch subplans share one shuffle via
    ReuseExchange). Distinct counts become plain `count(*)` over the
    pre-agg, avoiding the Expand rewrite of countDistinct, which would
    reset the partitioning. The count(*)s are exact, so `approximate`
    is a no-op on this path."""
    if batch_counts and batch_col is not None:
        g0 = (
            mentions.select(
                F.col(mention_col).alias("mention"),
                F.col(doc_col).alias("doc"),
                F.col(batch_col).alias("batch"),
            )
            .repartition(F.col("mention"))
            .groupBy("mention", "doc", "batch")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        per_doc = g0.groupBy("mention", "doc").agg(F.sum("cnt").alias("c"))
        doc_aggs = [
            F.count(F.lit(1)).alias("articles_spanned"),
            F.sum("c").alias("total_count"),
        ]
        if exact_sets:
            doc_aggs.append(F.sort_array(F.collect_list("doc")).alias("articles_set"))
        docs_roll = per_doc.groupBy("mention").agg(*doc_aggs)
        per_batch = g0.groupBy("mention", "batch").agg(F.sum("cnt").alias("c"))
        batch_aggs = [
            F.count(F.lit(1)).alias("batches_spanned"),
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("batch", "c")))
            ).alias("batch_count"),
        ]
        if exact_sets:
            batch_aggs.append(F.sort_array(F.collect_list("batch")).alias("batch_set"))
        batches_roll = per_batch.groupBy("mention").agg(*batch_aggs)
        out = docs_roll.join(batches_roll, "mention")
    else:
        cd = F.approx_count_distinct if approximate else F.countDistinct
        aggs = [
            F.count(F.lit(1)).alias("total_count"),
            cd(doc_col).alias("articles_spanned"),
        ]
        if batch_col is not None:
            aggs.append(cd(batch_col).alias("batches_spanned"))
        if exact_sets:
            aggs.append(F.sort_array(F.collect_set(doc_col)).alias("articles_set"))
            if batch_col is not None:
                aggs.append(F.sort_array(F.collect_set(batch_col)).alias("batch_set"))
        out = mentions.groupBy(F.col(mention_col).alias("mention")).agg(*aggs)
    out = out.withColumn(
        "freq_per_article", F.col("total_count") / F.col("articles_spanned")
    )
    if batch_col is not None:
        out = out.withColumn(
            "freq_per_batch", F.col("total_count") / F.col("batches_spanned")
        )
    return out


REFERENCE_COLUMNS = [
    "mention",
    "total_count",
    "articles_spanned",
    "batches_spanned",
    "freq_per_article",
    "freq_per_batch",
    "batch_set",
    "batch_count",
    "articles_set",
]


def reference_frame(freq: DataFrame) -> DataFrame:
    """Reference-exact ranked column order for the compat TSV
    (scripts/analysis.py:78: [total_count, articles_spanned,
    batches_spanned, freq_per_article, freq_per_batch, batch_set,
    batch_count, articles_set], entity as the index -> first column).
    Collection cells are rendered as strings: sets ascending, the
    batch_count map `{batch: cnt}` in ascending batch order (the
    reference's dict insertion order — batches are ingested sorted)."""
    from pyspark.sql.types import StringType

    cols = [c for c in REFERENCE_COLUMNS if c in freq.columns]
    out = ranked(freq).select(*cols)
    for c in ("batch_set", "articles_set"):
        if c in cols:
            # python-set-repr parity (the real artifact,
            # results/sample_output/...result_chemical.tsv): string
            # elements carry single quotes, ints don't; order is the
            # engine's pinned ascending sort (a python set's iteration
            # order is not reproducible — documented divergence)
            elems = F.col(c).cast("array<string>")
            if isinstance(freq.schema[c].dataType.elementType, StringType):
                elems = F.transform(
                    elems, lambda e: F.concat(F.lit("'"), e, F.lit("'"))
                )
            out = out.withColumn(
                c,
                F.concat(F.lit("{"), F.array_join(elems, ", "), F.lit("}")),
            )
    if "batch_count" in cols:
        entries = F.transform(
            F.map_entries("batch_count"),
            lambda e: F.concat(e["key"].cast("string"), F.lit(": "), e["value"].cast("string")),
        )
        out = out.withColumn(
            "batch_count",
            F.concat(F.lit("{"), F.array_join(entries, ", "), F.lit("}")),
        )
    return out


def entity_frequency_skew_resistant(
    mentions: DataFrame,
    mention_col: str = "mention",
    doc_col: str = "url",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-immune exact rollup (north_rule 'salted repartitioning';
    SURVEY section 4.3.1).

    A single groupBy(mention) sends every row for a hot entity (think
    'human', 'covid' at web scale) to ONE reducer. Two-phase plan:

      phase 1: groupBy(mention, url, salt) partial counts — the salt
               splits even a (hot mention, hot url) pair across
               `salt_buckets` reducers; including `url` in the key
               makes phase 2's distinct-doc count a plain count;
      phase 2: groupBy(mention, url) combines salt shards (tiny);
      phase 3: groupBy(mention) sums counts + counts rows = exact
               total_count + articles_spanned.

    Output is identical to entity_frequency() (asserted in tests); the
    phases replace one skewed shuffle with three uniform ones — the
    right trade exactly when the key histogram is Zipf, which the
    host-skewed pages table guarantees.
    """
    salt = F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt_buckets))
    phase1 = (
        mentions.select(F.col(mention_col).alias("mention"), F.col(doc_col).alias("url"))
        .withColumn("_salt", salt)
        .groupBy("mention", "url", "_salt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    phase2 = phase1.groupBy("mention", "url").agg(F.sum("c").alias("c"))
    out = phase2.groupBy("mention").agg(
        F.sum("c").alias("total_count"),
        F.count(F.lit(1)).alias("articles_spanned"),
    )
    return out.withColumn(
        "freq_per_article", F.col("total_count") / F.col("articles_spanned")
    )


def ranked(freq: DataFrame) -> DataFrame:
    """Deterministic ranking order (reference sort + pinned tie-break)."""
    return freq.orderBy(F.desc("total_count"), F.asc("mention"))


def top_n(freq: DataFrame, n: int = 50) -> DataFrame:
    """Top-n feed for the barchart (scripts/analysis.py:82-122) —
    compiles to TakeOrderedAndProject (no full sort)."""
    return ranked(freq).limit(n)


def term_frequency_per_doc(mentions: DataFrame) -> DataFrame:
    """Per-article term counts, desc (reference scripts/evals.py:36-50)."""
    return (
        mentions.groupBy("url", "mention")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("url", F.desc("cnt"), "mention")
    )


def entity_bursts(
    mentions: DataFrame,
    entity_col: str = "mention",
    epoch_col: str = "epoch",
    burst_num: int = 2,
    burst_den: int = 1,
) -> DataFrame:
    """Temporal burst detection per entity over crawl epochs: which
    entities spike in one crawl window vs their own average
    ("trending" detection an incremental KG uses to prioritize
    re-linking). Output per entity:

      total_count   mentions across all epochs
      n_epochs      epochs the entity appears in
      max_count     its hottest epoch's count
      burst_epoch   that epoch (smallest epoch on count ties)
      is_burst      max_count * E * burst_den > burst_num * total_count
                    (E = DISTINCT epochs in the whole table), i.e.
                    "hottest epoch exceeds burst_num/burst_den x the
                    entity's per-epoch mean" — cross-multiplied so the
                    gate is pure BIGINT (no float mean, no rounding
                    ties; see the engine's exact-integer oracle rule)

    Scale shape: one (entity, epoch) pre-agg shuffle, then a per-entity
    rollup that reuses the same hash partitioning (key prefix), argmax
    via min(struct(-cnt, epoch)) — no window, partial aggs absorb hot
    entities. The global epoch count E is a 1-row aggregate broadcast
    back (a scalar, not a table).
    """
    g0 = (
        mentions.select(
            F.col(entity_col).alias("entity"), F.col(epoch_col).alias("epoch")
        )
        .repartition("entity")
        .groupBy("entity", "epoch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_entity = g0.groupBy("entity").agg(
        F.sum("cnt").cast("long").alias("total_count"),
        F.count(F.lit(1)).cast("long").alias("n_epochs"),
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("epoch"))).alias("_w"),
    )
    n_ep = mentions.select(
        F.countDistinct(F.col(epoch_col)).cast("long").alias("_E")
    )
    return (
        per_entity.crossJoin(F.broadcast(n_ep))
        .select(
            "entity",
            "total_count",
            "n_epochs",
            (-F.col("_w.neg")).cast("long").alias("max_count"),
            F.col("_w.epoch").cast("long").alias("burst_epoch"),
            (
                (-F.col("_w.neg")) * F.col("_E") * F.lit(burst_den)
                > F.lit(burst_num) * F.col("total_count")
            ).alias("is_burst"),
        )
    )


def entity_salience(
    linked_mentions: DataFrame,
    lead_weight: int = 3,
    early_weight: int = 2,
    body_weight: int = 1,
    early_sents: int = 3,
) -> DataFrame:
    """Per-document entity salience by mention position — which
    canonical entities a page is ABOUT, not merely which it mentions.
    The classic lead-bias heuristic (news/wiki prose front-loads its
    topic; cf. Dunietz & Gillick, EACL 2014 features): a mention in
    sentence 0 weighs `lead_weight`, sentences [1, early_sents)
    `early_weight`, the body `body_weight`. Output per (url,
    entity_id): n_mentions, first_sent, salience (the weighted sum)
    and rank within the document (1 = most salient; salience desc,
    entity_id asc ties). The KG-construction consumer: doc-level
    entity nodes keep only rank <= k as "topical" edges, and salience
    is the support weight for cross-document canonicalization votes.

    Exactness: weights are integer CASE arms summed per group — pure
    BIGINT, no floats anywhere (repo oracle rule).

    Scale: ONE shuffle. The explicit repartition("url") feeds the
    (url, entity_id) groupBy (hash on a key prefix co-locates every
    group) AND the per-url row_number window — EnsureRequirements
    inserts no further exchange. Documents have bounded entity
    vocabularies, so per-url window state is tiny; no global sort, no
    Exchange SinglePartition (the window is partitioned).
    """
    w = (
        F.when(F.col("sent_idx") == 0, F.lit(lead_weight))
        .when(F.col("sent_idx") < early_sents, F.lit(early_weight))
        .otherwise(F.lit(body_weight))
    )
    per_entity = (
        linked_mentions.where(F.col("entity_id") != "")
        .repartition("url")
        .groupBy("url", "entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
            F.min("sent_idx").cast("long").alias("first_sent"),
            F.sum(w).cast("long").alias("salience"),
        )
    )
    rank_w = Window.partitionBy("url").orderBy(
        F.col("salience").desc(), F.col("entity_id").asc()
    )
    return per_entity.select(
        "url",
        "entity_id",
        "n_mentions",
        "first_sent",
        "salience",
        F.row_number().over(rank_w).cast("long").alias("rank"),
    )


def entity_salience_oracle_sql(
    with_prefix: str,
    lead_weight: int = 3,
    early_weight: int = 2,
    body_weight: int = 1,
    early_sents: int = 3,
    rank_alias: str = "sal_rank",
) -> str:
    """DuckDB twin of entity_salience; `with_prefix` is a complete
    WITH chain whose LAST relation is lm(url, sent_idx, entity_id)
    mention rows (empty entity_id filtered here). Kept beside the
    operator per repo oracle policy."""
    return f"""{with_prefix},
g AS (
  SELECT url, entity_id,
         count(*)::BIGINT AS n_mentions,
         min(sent_idx)::BIGINT AS first_sent,
         sum(CASE WHEN sent_idx = 0 THEN {lead_weight}
                  WHEN sent_idx < {early_sents} THEN {early_weight}
                  ELSE {body_weight} END)::BIGINT AS salience
  FROM lm WHERE entity_id <> '' GROUP BY url, entity_id
)
SELECT url, entity_id, n_mentions, first_sent, salience,
       row_number() OVER (PARTITION BY url
                          ORDER BY salience DESC, entity_id ASC)::BIGINT AS {rank_alias}
FROM g
"""


def entity_bursts_oracle_sql(
    with_prefix: str, burst_num: int = 2, burst_den: int = 1
) -> str:
    """DuckDB twin of entity_bursts; `with_prefix` is a complete WITH
    clause chain whose LAST relation is m(entity, epoch) — lets the
    caller feed the shared mentions prelude without nesting WITHs."""
    return f"""{with_prefix},
g0 AS (SELECT entity, epoch, count(*) AS cnt FROM m GROUP BY entity, epoch),
e AS (SELECT count(DISTINCT epoch) AS ne FROM m),
w AS (
  SELECT entity, cnt, epoch,
         row_number() OVER (PARTITION BY entity
                            ORDER BY cnt DESC, epoch ASC) AS rn,
         sum(cnt) OVER (PARTITION BY entity) AS total,
         count(*) OVER (PARTITION BY entity) AS neps
  FROM g0
)
SELECT entity,
       total::BIGINT AS total_count,
       neps::BIGINT AS n_epochs,
       cnt::BIGINT AS max_count,
       epoch::BIGINT AS burst_epoch,
       (cnt * ne * {burst_den} > {burst_num} * total) AS is_burst
FROM w CROSS JOIN e
WHERE rn = 1
"""
