"""Named-entity linking: mentions -> linked mentions (SURVEY.md J1).

Reference: scripts/nel.py:13-33 — for each mention string, exact
equality lookup against a (term, ID) TSV; one-to-many (ALL matching IDs
are kept, :26-28); no match -> '' (:30).

Spark shape: the alias dictionary is broadcast (small side), so the
lookup is a broadcast hash join — no shuffle, immune to URL-host skew
(a skewed mention distribution never concentrates on one reducer
because there IS no reducer). This is the north_star's "salted
broadcast-join against an alias dictionary": salting is only needed if
the dictionary outgrows the broadcast threshold and the join must
shuffle; `salted=True` demonstrates that formulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def link_entities(
    mentions: DataFrame,
    alias: DataFrame,
    mention_col: str = "mention_lc",
    keep_unmatched: bool = True,
    salt_buckets: int | None = None,
) -> DataFrame:
    """mentions + alias(term, ID) -> mentions with `entity_id`.

    - one-to-many alias rows fan out (native join semantics,
      reference scripts/nel.py:26-28);
    - unmatched mentions keep entity_id = '' when `keep_unmatched`
      (reference :30), else are dropped;
    - `salt_buckets=k` shows the shuffle-join formulation for an
      oversized dictionary: replicate each alias row k times with a
      salt key and join on (term, salt) where the fact side picks
      pmod(hash(url), k) — spreads a hot term over k reducers.
    """
    norm_alias = alias.select(F.lower("term").alias("__term"), F.col("ID"))

    if salt_buckets:
        salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
        salted_alias = norm_alias.withColumn("__salt", salts)
        fact = mentions.withColumn(
            "__salt", F.pmod(F.hash("url"), F.lit(salt_buckets))
        )
        joined = fact.join(
            salted_alias,
            (fact[mention_col] == salted_alias["__term"])
            & (fact["__salt"] == salted_alias["__salt"]),
            "left_outer" if keep_unmatched else "inner",
        ).drop("__salt")
    else:
        joined = mentions.join(
            F.broadcast(norm_alias),
            mentions[mention_col] == norm_alias["__term"],
            "left_outer" if keep_unmatched else "inner",
        )

    out = joined.drop("__term")
    if keep_unmatched:
        out = out.withColumn("entity_id", F.coalesce(F.col("ID"), F.lit("")))
    else:
        out = out.withColumn("entity_id", F.col("ID"))
    return out.drop("ID")


def primary_alias(alias: DataFrame) -> DataFrame:
    """Deterministic one-id-per-term canonicalization (min ID) used by
    the KG path; the full one-to-many fanout is the NEL-compat path."""
    return (
        alias.groupBy(F.lower("term").alias("term"))
        .agg(F.min("ID").alias("ID"))
    )


def canonicalize_mentions(mentions: DataFrame, alias: DataFrame) -> DataFrame:
    """KG canonicalization: one entity_id per mention (primary alias);
    unmatched mentions fall back to a deterministic surface id so they
    still participate in the graph."""
    linked = link_entities(mentions, primary_alias(alias))
    return linked.withColumn(
        "entity_id",
        F.when(F.col("entity_id") == "", F.concat(F.lit("surface:"), F.col("mention_lc"))).otherwise(
            F.col("entity_id")
        ),
    )


def char_grams(name, k: int = 3):
    """Distinct sorted character k-grams of a (lowercased, trimmed)
    name; names shorter than k contribute themselves as one gram.
    Shared expression contract with the DuckDB oracle
    (list_distinct(list_transform(range(...), i -> name[i:i+k-1])))."""
    s = F.trim(F.lower(F.col(name) if isinstance(name, str) else name))
    grams = F.transform(
        F.sequence(F.lit(1), F.length(s) - (k - 1)),
        lambda i: F.substring(s, i, k),
    )
    grams = F.when(F.length(s) >= k, grams).otherwise(F.array(s))
    return F.array_sort(F.array_distinct(grams))


def name_similarity_edges(
    names: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    name_col: str = "name",
    max_df: int | None = None,
) -> DataFrame:
    """(a, b, inter, na, nb, jaccard) — EXACT character-k-gram Jaccard
    edges between name pairs (a < b), the fuzzy feeder for
    cross-document entity canonicalization: surface forms the alias
    dictionary misses ('rapamycin' / 'rapamycins') edge to each other
    here, then operators/components merges them into one canonical
    node — the classic record-linkage step the reference's exact-match
    NEL (scripts/entity_linking (NEL).py, see link_entities above)
    cannot perform.

    Relational shape (the inverted-index / "prefix filtering" family,
    NOT all-pairs): explode distinct grams (bounded: O(len) per name),
    self equi-join on the gram key, count shared grams per pair, then
    jaccard = inter / (na + nb - inter) from per-name gram counts that
    ride through the join — exact set similarity without materializing
    any name pair that shares no gram. `max_df` drops grams carried by
    more than max_df names from CANDIDATE GENERATION ONLY — the classic
    stopgram cut for hot n-grams ('ion', 'the'); with it set, reported
    jaccard is a LOWER BOUND for pairs that only shared hot grams
    (document accordingly; None = fully exact). One shuffle on the
    gram key + one partial-agg pair rollup at any corpus size.

    Scale guidance (measured, BASELINE.md hot-gram tier): a gram
    shared by d names emits d^2 candidate pairs, so a boilerplate
    affix on 30% of a corpus makes the exact path quadratic in corpus
    size — 1.7x slower already at 10k names. At crawl-scale alias
    dictionaries set max_df (the pairs it drops are exactly those
    whose similarity is dominated by the boilerplate affix).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    g = names.select(
        F.col(name_col).alias("n"), F.explode(char_grams(name_col, k)).alias("g")
    )
    sizes = g.groupBy("n").agg(F.count(F.lit(1)).alias("sz"))
    if max_df is not None:
        keep = g.groupBy("g").agg(F.count(F.lit(1)).alias("df")).where(
            F.col("df") <= F.lit(max_df)
        )
        g = g.join(keep.select("g"), "g", "left_semi")
    a, b = g.alias("ga"), g.alias("gb")
    inter = (
        a.join(b, (F.col("ga.g") == F.col("gb.g")) & (F.col("ga.n") < F.col("gb.n")))
        .groupBy(F.col("ga.n").alias("a"), F.col("gb.n").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("n").alias("a"), F.col("sz").alias("na")), "a")
        .join(sizes.select(F.col("n").alias("b"), F.col("sz").alias("nb")), "b")
        .select(
            "a",
            "b",
            "inter",
            "na",
            "nb",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= F.lit(float(threshold)))


def name_similarity_oracle_sql(
    k: int = 3,
    threshold: float = 0.5,
    source: str = "(SELECT DISTINCT 'x' AS name)",
) -> str:
    """DuckDB twin of :func:`name_similarity_edges` (no max_df — the
    oracle checks the exact path). `source` must expose a `name`
    column."""
    ki, th = int(k), float(threshold)
    return f"""
WITH names AS (
  SELECT name FROM {source}
),
grams AS (
  SELECT name AS n,
         unnest(list_distinct(
           CASE WHEN length(trim(lower(name))) >= {ki}
                THEN list_transform(
                       range(1, length(trim(lower(name))) - {ki} + 2),
                       i -> substring(trim(lower(name)), i, {ki}))
                ELSE [trim(lower(name))] END)) AS g
  FROM names
),
sizes AS (
  SELECT n, count(*)::BIGINT AS sz FROM grams GROUP BY n
),
inter AS (
  SELECT ga.n AS a, gb.n AS b, count(*)::BIGINT AS inter
  FROM grams ga JOIN grams gb ON ga.g = gb.g AND ga.n < gb.n
  GROUP BY ga.n, gb.n
)
SELECT a, b, inter, sa.sz AS na, sb.sz AS nb,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.n = a
JOIN sizes sb ON sb.n = b
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= {th!r}
"""


def name_match_bipartite(
    left: DataFrame,
    right: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    left_col: str = "name",
    right_col: str = "name",
) -> DataFrame:
    """(l, r, inter, nl, nr, jaccard, jq) — exact char-k-gram Jaccard
    between every LEFT name and every RIGHT name that share at least
    one gram (the bipartite twin of :func:`name_similarity_edges`;
    same inverted-index shape, no a<b constraint since the sides are
    distinct row sets). `jq` = floor(inter * 1e6 / union) is the
    EXACT integer rank key downstream argmaxes sort on (double
    division of < 2^53 integers is correctly rounded in every engine,
    so the floor is bit-stable)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    gl = left.select(F.col(left_col).alias("l"), F.explode(char_grams(left_col, k)).alias("g"))
    gr = right.select(F.col(right_col).alias("r"), F.explode(char_grams(right_col, k)).alias("g"))
    szl = gl.groupBy("l").agg(F.count(F.lit(1)).alias("nl"))
    szr = gr.groupBy("r").agg(F.count(F.lit(1)).alias("nr"))
    inter = gl.join(gr, "g").groupBy("l", "r").agg(F.count(F.lit(1)).alias("inter"))
    uni = F.col("nl") + F.col("nr") - F.col("inter")
    out = (
        inter.join(szl, "l")
        .join(szr, "r")
        .select(
            "l",
            "r",
            "inter",
            "nl",
            "nr",
            F.round(F.col("inter") / uni, 6).alias("jaccard"),
            F.floor(F.col("inter") * F.lit(1_000_000) / uni).cast("long").alias("jq"),
        )
    )
    return out.where(F.col("jaccard") >= F.lit(float(threshold)))


def fuzzy_link_surfaces(
    surfaces: DataFrame,
    alias: DataFrame,
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """(name, entity_id, jq) — best alias entity per surface form by
    exact char-gram similarity: for each LEFT surface name, the alias
    term with the highest jq (ties: lexicographically smallest ID
    then term). Surfaces with no candidate >= threshold are absent —
    callers keep their fallback id. The per-surface argmax window
    partitions on the surface name (candidate lists are bounded by
    gram sharing, never corpus-sized)."""
    from pyspark.sql.window import Window

    targets = alias.select(F.lower("term").alias("term"), "ID").distinct()
    # match on DISTINCT terms (a term carrying several IDs must not
    # double its gram rows), fan back out to IDs after
    m = name_match_bipartite(
        surfaces, targets.select("term").distinct(), k=k, threshold=threshold,
        right_col="term",
    )
    m = m.join(targets, m["r"] == targets["term"]).select(
        F.col("l").alias("name"), F.col("ID"), F.col("term"), "jq"
    )
    w = Window.partitionBy("name").orderBy(
        F.col("jq").desc(), F.col("ID").asc(), F.col("term").asc()
    )
    return (
        m.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("name", F.col("ID").alias("entity_id"), "jq")
    )


def fuzzy_canonicalize_mentions(
    mentions: DataFrame,
    alias: DataFrame,
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """canonicalize_mentions + a fuzzy second pass: mentions the exact
    alias join missed ('rapamycins') remap from their surface fallback
    id to the char-gram-closest alias entity (>= threshold), so
    morphological variants stop fragmenting KG nodes. The fuzzy map is
    built over DISTINCT unmatched surface forms (bounded, not
    mention-count-sized) and broadcast back."""
    linked = canonicalize_mentions(mentions, alias)
    surfaces = (
        linked.where(F.col("entity_id").startswith("surface:"))
        .select(F.col("mention_lc").alias("name"))
        .distinct()
    )
    fuzzy = fuzzy_link_surfaces(surfaces, alias, k=k, threshold=threshold)
    remap = F.broadcast(fuzzy.select("name", F.col("entity_id").alias("_fuzzy_id")))
    out = linked.join(remap, linked["mention_lc"] == remap["name"], "left")
    return out.withColumn(
        "entity_id", F.coalesce(F.col("_fuzzy_id"), F.col("entity_id"))
    ).drop("name", "_fuzzy_id")


# acronym-mining contract, shared with the oracle: "Expansion Words
# (ACR)" where ACR is 2-6 uppercase letters and the expansion is the
# run of capitalized words just before the parenthesis; a pair is
# kept only when the expansion words' INITIALS spell the acronym
# (case-insensitive) — the Schwartz-Hearst-style validity check that
# separates real definitions from parenthetical asides.
ACRO_EL_RE = r"(?:[A-Z][A-Za-z]+ ){1,6}\([A-Z]{2,6}\)"
ACRO_EXP_RE = r"^((?:[A-Z][A-Za-z]+ ){1,6})\("
ACRO_ACR_RE = r"\(([A-Z]{2,6})\)"


def acronym_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Acronym-definition mining: 'World Health Organization (WHO)'
    -> (acronym, expansion, n_docs) — web-mined alias-dictionary
    entries for the NEL layer (an acronym mention links to the same
    entity as its expansion), validated by the initials check:
    the first letters of the expansion words must spell the acronym,
    so 'the new policy (WHO)' never mines a false alias. Output is
    lowercased (the alias table's canonical comparison form) with
    distinct-doc support for a confidence floor.

    Scale (1 shuffle): extraction + initials check are scan-fused
    array expressions; one algebraic (acronym, expansion) rollup with
    per-doc dedup riding the same key.
    """
    els = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.expr(
                f"regexp_extract_all({text_col}, r'{ACRO_EL_RE}', 0)"
            )  # r'': keep \( literal through the SQL parser
        ).alias("_el"),
    )
    exp = F.trim(F.regexp_extract(F.col("_el"), ACRO_EXP_RE, 1))
    acr = F.regexp_extract(F.col("_el"), ACRO_ACR_RE, 1)
    # Schwartz-Hearst trim: the capitalized run may start with words
    # that aren't part of the definition ('The World Health
    # Organization (WHO)') — keep the SUFFIX of len(acronym) words and
    # require ITS initials to spell the acronym.
    words = F.split(F.lower(exp), " ")
    alen = F.length(acr)
    suffix = F.slice(words, F.size(words) - alen + 1, alen)
    cand = els.select(
        "_id",
        F.lower(acr).alias("acronym"),
        F.array_join(suffix, " ").alias("expansion"),
        F.when(
            F.size(words) >= alen,
            F.array_join(
                F.transform(suffix, lambda w: F.substring(w, 1, 1)), ""
            ),
        ).alias("_initials"),
    ).where(F.col("_initials") == F.col("acronym"))
    return (
        cand.select("_id", "acronym", "expansion")
        .distinct()
        .groupBy("acronym", "expansion")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def acronym_pairs_oracle_sql(docs_sql: str) -> str:
    """DuckDB twin of acronym_pairs; `docs_sql` yields (id, text)."""
    return f"""
WITH d AS ({docs_sql}),
els AS (SELECT id,
          unnest(regexp_extract_all(text,
            '(?:[A-Z][A-Za-z]+ ){{1,6}}\\(([A-Z]{{2,6}})\\)', 0)) AS el
        FROM d),
cand0 AS (
  SELECT id,
    lower(regexp_extract(el, '\\(([A-Z]{{2,6}})\\)', 1)) AS acronym,
    string_split(lower(trim(
      regexp_extract(el, '^((?:[A-Z][A-Za-z]+ ){{1,6}})\\(', 1))), ' ') AS ws
  FROM els
),
cand AS (
  SELECT id, acronym,
    ws[(len(ws) - length(acronym) + 1):len(ws)] AS sw
  FROM cand0 WHERE len(ws) >= length(acronym)
),
ok AS (
  SELECT DISTINCT id, acronym, array_to_string(sw, ' ') AS expansion
  FROM cand
  WHERE array_to_string(list_transform(sw, w -> w[1:1]), '') = acronym
)
SELECT acronym, expansion, count(*)::BIGINT AS n_docs
FROM ok GROUP BY acronym, expansion
"""


def entity_labels(
    linked_mentions: DataFrame,
    components: DataFrame,
    mention_col: str = "mention_lc",
    id_col: str = "entity_id",
) -> DataFrame:
    """Preferred-label selection per canonical entity: (entity, label,
    n_label, n_surfaces, n_mentions) — the display name a KG node
    ships with: the most frequent surface form across every mention of
    every id merged into the component, ties broken lexicographically
    (deterministic). `components` is the (node, component) map from
    connected_components; unmapped ids label themselves (an id with no
    merge evidence is its own 1-node component).

    Scale (2 shuffles): (component, surface) count — composite key
    uniform however hot the entity, partial aggs absorb repeats —
    then the per-component argmax via the min(struct(-n, label))
    algebraic fold (no window, no hot-entity sort) riding the second
    rollup together with the surface/mention totals.
    """
    m = linked_mentions.where(F.col(id_col) != "").select(
        F.col(id_col).alias("node"), F.col(mention_col).alias("_s")
    )
    mapped = m.join(components, "node", "left").select(
        F.coalesce(F.col("component"), F.col("node")).alias("entity"), "_s"
    )
    counts = mapped.groupBy("entity", "_s").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    return (
        counts.groupBy("entity")
        .agg(
            F.min(
                F.struct((-F.col("_n")).alias("neg"), F.col("_s").alias("s"))
            ).alias("_best"),
            F.count(F.lit(1)).cast("long").alias("n_surfaces"),
            F.sum("_n").cast("long").alias("n_mentions"),
        )
        .select(
            "entity",
            F.col("_best.s").alias("label"),
            (-F.col("_best.neg")).cast("long").alias("n_label"),
            "n_surfaces",
            "n_mentions",
        )
    )


def entity_labels_oracle_sql(
    mentions_sql: str, components_sql: str
) -> str:
    """DuckDB twin of entity_labels; `mentions_sql` yields (node,
    surface), `components_sql` yields (node, component)."""
    return f"""
WITH m AS ({mentions_sql}),
cm AS ({components_sql}),
mp AS (SELECT coalesce(c.component, m.node) AS entity, m.surface AS s
       FROM m LEFT JOIN cm c ON m.node = c.node),
cnt AS (SELECT entity, s, count(*)::BIGINT AS n FROM mp GROUP BY entity, s),
best AS (
  SELECT entity, min(struct_pack(neg := -n, s := s)) AS b,
         count(*)::BIGINT AS n_surfaces, sum(n)::BIGINT AS n_mentions
  FROM cnt GROUP BY entity
)
SELECT entity, b.s AS label, (-b.neg)::BIGINT AS n_label,
       n_surfaces, n_mentions
FROM best
"""


def edit_merge_candidates(
    labels: DataFrame,
    id_col: str = "id",
    label_col: str = "label",
    max_dist: int = 2,
    max_block: int = 10000,
) -> DataFrame:
    """(id_a, id_b, label_a, label_b, dist) — record-linkage merge
    candidates for KG node canonicalization: normalized labels whose
    Levenshtein distance is <= `max_dist`, found WITHOUT an all-pairs
    scan via two-key blocking (3-char prefix + 3-char suffix of the
    lower/trimmed label, each also carrying a length bucket so a
    4-char and a 40-char string never meet). The edit-distance
    complement to name_similarity_edges' char-gram Jaccard: char-grams
    catch word-order/containment variants, edit distance catches
    typos and single-char morphology ('rapamycin'/'rapamycine') that
    gram overlap under-scores.

    Completeness contract: a pair at distance d <= 2 shares the first
    3 chars OR the last 3 chars unless edits hit BOTH ends — blocking
    recall, not certainty (the standard record-linkage trade, Fellegi-
    Sunter lineage; documented, not hidden). Length buckets are width
    4, and pairs whose buckets differ by more than ceil(max_dist/4)=1
    can't be within max_dist anyway.

    Scale: candidate generation is a self-join PER BLOCK KEY; blocks
    bigger than `max_block` (degenerate keys: 'the'-prefixed
    everything) are DROPPED, not exploded (a documented cap).
    One shuffle on the block key, levenshtein verification runs
    JVM-side post-join, id_a < id_b halves the output, distinct
    merges the two key families.
    """
    norm = F.trim(F.lower(F.col(label_col)))
    base = labels.select(
        F.col(id_col).alias("id"), norm.alias("lab")
    ).where(F.length("lab") >= 3).distinct()
    lb = (F.length("lab") / F.lit(4)).cast("long")
    keyed = base.select(
        "id",
        "lab",
        F.explode(
            F.array(
                F.concat(F.lit("p:"), F.substring("lab", 1, 3), F.lit(":"), lb.cast("string")),
                F.concat(F.lit("s:"), F.substring(F.col("lab"), -3, 3), F.lit(":"), lb.cast("string")),
            )
        ).alias("bkey"),
    )
    sizes = keyed.groupBy("bkey").agg(F.count(F.lit(1)).alias("bn"))
    keyed = keyed.join(
        sizes.where(F.col("bn") <= max_block).select("bkey"), "bkey"
    )
    a = keyed.select(
        "bkey", F.col("id").alias("id_a"), F.col("lab").alias("label_a")
    )
    b = keyed.select(
        "bkey", F.col("id").alias("id_b"), F.col("lab").alias("label_b")
    )
    return (
        a.join(b, "bkey")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "label_a", "label_b")
        .distinct()
        .withColumn(
            "dist",
            F.levenshtein("label_a", "label_b").cast("long"),
        )
        .where(F.col("dist") <= max_dist)
    )


def edit_merge_candidates_oracle_sql(
    labels_sql: str, max_dist: int = 2, max_block: int = 10000
) -> str:
    """DuckDB twin of :func:`edit_merge_candidates`; `labels_sql`
    yields (id, label)."""
    return f"""
WITH emlab AS (
  SELECT DISTINCT id, trim(lower(label)) AS lab
  FROM ({labels_sql}) WHERE length(trim(lower(label))) >= 3
),
emkey AS (
  SELECT id, lab,
         'p:' || substr(lab, 1, 3) || ':'
              || (length(lab) // 4)::BIGINT AS bkey
  FROM emlab
  UNION ALL
  SELECT id, lab,
         's:' || substr(lab, length(lab) - 2, 3) || ':'
              || (length(lab) // 4)::BIGINT AS bkey
  FROM emlab
),
emok AS (
  SELECT bkey FROM emkey GROUP BY bkey HAVING count(*) <= {max_block}
),
emk AS (SELECT k.* FROM emkey k JOIN emok USING (bkey)),
emp AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.lab AS label_a, b.lab AS label_b
  FROM emk a JOIN emk b ON a.bkey = b.bkey AND a.id < b.id
)
SELECT id_a, id_b, label_a, label_b,
       levenshtein(label_a, label_b)::BIGINT AS dist
FROM emp
WHERE levenshtein(label_a, label_b) <= {max_dist}
"""


# Context-token contract shared verbatim with the DuckDB oracle: split
# the LOWERCASED sentence on this class and drop empties. ASCII-alnum
# on lowered text so both engines agree byte-for-byte; non-Latin
# scripts fold to separators identically on both sides.
CONTEXT_TOKEN_SPLIT_RE = "[^a-z0-9]+"


def disambiguate_mentions(
    mentions: DataFrame,
    sentences: DataFrame,
    alias: DataFrame,
    mention_col: str = "mention_lc",
    max_profile_tokens: int | None = None,
) -> DataFrame:
    """Context-based entity disambiguation (Lesk over corpus-built
    entity profiles) — the canonicalization step exact alias lookup
    cannot perform: when one surface form maps to SEVERAL entity ids
    ('merge' -> KB:02 | KB:12), pick per MENTION the candidate whose
    context profile shares the most tokens with the mention's
    sentence.

    Contract:
      * profile(e) = DISTINCT context tokens of sentences containing
        an UNAMBIGUOUS mention of e (terms with exactly one alias id);
        ambiguous mentions never feed profiles (no self-reinforcement);
      * score(mention, e) = |distinct sentence tokens ∩ profile(e)|,
        an exact integer;
      * winner = max score, ties -> min entity_id (so an all-zero row
        degrades to the deterministic primary-alias fallback);
      * unambiguous mentions pass through with score = -1 (sentinel:
        'not scored'), n_cands = 1.

    Output: (url, sent_idx, begin_tok, end_tok, <mention_col>,
    entity_id, n_cands, score).

    Scale shape: the alias table and its per-term candidate counts are
    broadcast (the north_star alias-dictionary assumption); sentence
    token arrays are built ONCE and equi-joined on the co-clustered
    (url, sent_idx) key for both the profile build and the scoring
    pass; the profile is a distinct (entity_id, token) table (composite
    uniform key); scoring joins candidate×token rows against it on
    (entity_id, token) — a hot (popular-entity, stopword) combination
    is AQE-skew-splittable, and `max_profile_tokens=N` caps each
    profile to its N most frequent tokens (count desc, token asc — a
    bounded per-entity window) the way a production profile store
    would. Two groupBys finish it: overlap counts per
    (mention, candidate), then an argmax min(struct(-overlap, id))
    per mention — the second input is k rows per mention, already
    collapsed.
    """
    al = (
        alias.select(F.lower("term").alias("term"), F.col("ID").alias("entity_id"))
        .distinct()
    )
    ncand = al.groupBy("term").agg(F.count(F.lit(1)).alias("n_cands"))
    al2 = al.join(ncand, "term")

    # exploded DISTINCT (url, sent_idx, tok) — global, not just
    # per-row array_distinct: duplicate (url, sent_idx) sentence rows
    # would otherwise double every overlap count while the oracle's
    # DISTINCT stoks CTE counts each token once (review r3 finding)
    sent_toks = (
        sentences.select(
            "url",
            "sent_idx",
            F.explode(
                F.filter(
                    F.split(F.lower("sentence"), CONTEXT_TOKEN_SPLIT_RE),
                    lambda t: t != "",
                )
            ).alias("tok"),
        )
        .distinct()
    )

    key = ["url", "sent_idx", "begin_tok", "end_tok", mention_col]
    m = mentions.select(*key).join(
        F.broadcast(al2), mentions[mention_col] == al2["term"], "inner"
    ).drop("term")
    unamb = m.where(F.col("n_cands") == 1)
    amb = m.where(F.col("n_cands") > 1)

    profile = (
        unamb.select("url", "sent_idx", "entity_id")
        .distinct()
        .join(sent_toks, ["url", "sent_idx"])
        .select("entity_id", "tok")
    )
    if max_profile_tokens is None:
        profile = profile.distinct()
    else:
        from pyspark.sql.window import Window

        counted = profile.groupBy("entity_id", "tok").agg(
            F.count(F.lit(1)).alias("c")
        )
        w = Window.partitionBy("entity_id").orderBy(
            F.col("c").desc(), F.col("tok")
        )
        profile = (
            counted.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_profile_tokens)
            .select("entity_id", "tok")
        )

    cand_toks = amb.join(sent_toks, ["url", "sent_idx"]).select(
        *key, "entity_id", "n_cands", "tok"
    )
    overlaps = (
        cand_toks.join(profile, ["entity_id", "tok"], "left_semi")
        .groupBy(*key, "entity_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    scored = (
        amb.join(overlaps, [*key, "entity_id"], "left")
        .withColumn("overlap", F.coalesce("overlap", F.lit(0)))
    )
    best = (
        scored.groupBy(*key, "n_cands")
        .agg(
            F.min(
                F.struct(
                    (-F.col("overlap")).alias("neg"),
                    F.col("entity_id").alias("e"),
                )
            ).alias("b")
        )
        .select(
            *key,
            F.col("b.e").alias("entity_id"),
            "n_cands",
            (-F.col("b.neg")).cast("long").alias("score"),
        )
    )
    passthrough = unamb.select(
        *key, "entity_id", "n_cands", F.lit(-1).cast("long").alias("score")
    )
    return best.unionByName(passthrough)


def fs_em_linkage(
    pairs: DataFrame,
    fields: tuple[str, ...],
    iters: int = 5,
    threshold: float = 0.5,
    state_round: int = 9,
    init_m: float = 0.9,
    init_u: float = 0.1,
    init_p: float = 0.5,
) -> DataFrame:
    """(id_a, id_b, match_prob, is_match) — Fellegi-Sunter probabilistic
    record linkage with EM-estimated parameters (Fellegi & Sunter 1969;
    Winkler's EM formulation): given candidate pairs and boolean
    field-agreement columns, learn per-field m (P(agree | match)) and
    u (P(agree | non-match)) plus the match prior p WITHOUT labels,
    then score every pair. The probabilistic upgrade of the exact
    alias join / name-gram Jaccard chain: fuzzy_link decides on one
    similarity, this fuses F independent agreement signals with
    learned weights — the canonical cross-document entity-merge
    decision layer.

    EM contract (mirrored verbatim by the DuckDB oracle):
      * pairs collapse to their agreement PATTERN (one row per
        distinct (a_1..a_F) vector, <= 2^F rows — the textbook
        Fellegi-Sunter reduction; EM never touches pair rows);
      * per pattern: pm = p * prod_f (a_f ? m_f : 1-m_f),
        pu = (1-p) * prod_f (a_f ? u_f : 1-u_f), g = pm / (pm + pu)
        — products in FIELD ORDER (fixed, identical in both engines);
      * M-step (count-weighted over patterns, each result snapped):
        m_f = round(sum(g*cnt*a_f) / sum(g*cnt), sr),
        u_f = round(sum((1-g)*cnt*a_f) / sum((1-g)*cnt), sr),
        p = round(sum(g*cnt) / sum(cnt), sr) — the round-snap
        recipe (arbitrary-valued ratios, so the half-grid rounding
        failure of exact small-rational states cannot occur);
      * match_prob = round(g under the POST-iteration params, sr);
        is_match = match_prob >= threshold.
    Denominators are strictly positive: g in (0,1) whenever
    0 < m,u,p < 1, which the init guarantees and round(sr>=1)
    preserves (a ratio of positive sums cannot round to 0 or 1's
    complement... it CAN round to exactly 0 or 1 only if the true
    value is within 5e-10 of it; at that point the fit has collapsed
    and the floor below applies).
      * floor: m/u/p are clamped to [10^-sr, 1 - 10^-sr] after each
        round, so a degenerate field (all pairs agree) cannot zero a
        product and poison later iterations.

    Scale shape: ONE shuffle builds the pattern table (groupBy on F
    boolean columns, map-side combined, <= 2^F result rows at ANY
    corpus size); each EM iteration is one bounded agg over that tiny
    frame cross-joined with the 1-row param frame — no corpus pass,
    no driver collect. The final scoring join broadcasts
    the <= 2^F scored patterns back onto the pair table: one
    broadcast join over the only corpus-sized relation.

    Reference parity: EasyNER links entities by exact dictionary
    lookup only (scripts/entity_linking.py); probabilistic linkage
    has no analog there — north_star canonicalization surface.
    """
    if iters < 1:
        raise ValueError(f"fs_em_linkage needs iters >= 1: {iters}")
    if not fields:
        raise ValueError("fs_em_linkage needs at least one agreement field")
    sr = state_round
    lo = 10.0**-sr
    hi = 1.0 - lo

    def _clamp(c):
        return F.least(F.greatest(F.round(c, sr), F.lit(lo)), F.lit(hi))

    a_cols = [F.col(f).cast("int").alias(f"a_{i}") for i, f in enumerate(fields)]
    nf = len(fields)
    pat = (
        pairs.select(*a_cols)
        .groupBy(*[f"a_{i}" for i in range(nf)])
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    params = pat.sparkSession.createDataFrame(
        [tuple([float(init_m)] * nf + [float(init_u)] * nf + [float(init_p)])],
        ", ".join(
            [f"m_{i} double" for i in range(nf)]
            + [f"u_{i} double" for i in range(nf)]
            + ["p double"]
        ),
    )

    def _g_col():
        pm = F.col("p")
        pu = F.lit(1.0) - F.col("p")
        for i in range(nf):
            a = F.col(f"a_{i}") == 1
            pm = pm * F.when(a, F.col(f"m_{i}")).otherwise(F.lit(1.0) - F.col(f"m_{i}"))
            pu = pu * F.when(a, F.col(f"u_{i}")).otherwise(F.lit(1.0) - F.col(f"u_{i}"))
        return pm / (pm + pu)

    for _ in range(iters):
        e = pat.crossJoin(F.broadcast(params)).withColumn("g", _g_col())
        aggs = [
            F.sum(F.col("g") * F.col("cnt")).alias("sg"),
            F.sum((F.lit(1.0) - F.col("g")) * F.col("cnt")).alias("su"),
            F.sum("cnt").alias("n"),
        ]
        for i in range(nf):
            aggs.append(
                F.sum(F.col("g") * F.col("cnt") * F.col(f"a_{i}")).alias(f"sga_{i}")
            )
            aggs.append(
                F.sum(
                    (F.lit(1.0) - F.col("g")) * F.col("cnt") * F.col(f"a_{i}")
                ).alias(f"sua_{i}")
            )
        st = e.agg(*aggs)
        params = st.select(
            *[_clamp(F.col(f"sga_{i}") / F.col("sg")).alias(f"m_{i}") for i in range(nf)],
            *[_clamp(F.col(f"sua_{i}") / F.col("su")).alias(f"u_{i}") for i in range(nf)],
            _clamp(F.col("sg") / F.col("n")).alias("p"),
        ).localCheckpoint(eager=True)

    scored_pat = (
        pat.crossJoin(F.broadcast(params))
        .withColumn("match_prob", F.round(_g_col(), sr))
        .select(*[f"a_{i}" for i in range(nf)], "match_prob")
    )
    keyed = pairs.select(
        "id_a",
        "id_b",
        *[F.col(f).cast("int").alias(f"a_{i}") for i, f in enumerate(fields)],
    )
    return keyed.join(F.broadcast(scored_pat), [f"a_{i}" for i in range(nf)]).select(
        "id_a",
        "id_b",
        "match_prob",
        (F.col("match_prob") >= F.lit(float(threshold))).alias("is_match"),
    )


def fs_em_linkage_oracle_sql(
    with_prefix: str,
    n_fields: int,
    iters: int = 5,
    threshold: float = 0.5,
    state_round: int = 9,
    init_m: float = 0.9,
    init_u: float = 0.1,
    init_p: float = 0.5,
) -> str:
    """DuckDB twin of :func:`fs_em_linkage`; `with_prefix` is a
    complete WITH chain whose LAST relation is
    pairs(id_a, id_b, a_0..a_{n_fields-1} as 0/1 INTs). Iterations
    unrolled; field-order products and per-step round/clamp shared
    with the Spark loop."""
    if iters < 1:
        raise ValueError(f"fs_em_linkage needs iters >= 1: {iters}")
    if n_fields < 1:
        raise ValueError("fs_em_linkage needs at least one agreement field")
    sr = state_round
    lo = f"1e-{sr}"
    hi = f"(1.0 - 1e-{sr})"
    ks = list(range(n_fields))
    acols = ", ".join(f"a_{i}" for i in ks)

    def g_expr(t):
        pm = f"{t}.p"
        pu = f"(1.0 - {t}.p)"
        for i in ks:
            pm += f" * (CASE WHEN a_{i} = 1 THEN {t}.m_{i} ELSE 1.0 - {t}.m_{i} END)"
            pu += f" * (CASE WHEN a_{i} = 1 THEN {t}.u_{i} ELSE 1.0 - {t}.u_{i} END)"
        return f"(({pm}) / (({pm}) + ({pu})))"

    def clamp(c):
        return f"least(greatest(round({c}, {sr}), {lo}), {hi})"

    init_cols = ", ".join(
        [f"{init_m!r}::DOUBLE AS m_{i}" for i in ks]
        + [f"{init_u!r}::DOUBLE AS u_{i}" for i in ks]
        + [f"{init_p!r}::DOUBLE AS p"]
    )
    parts = [
        with_prefix,
        f""",
pat AS (
  SELECT {acols}, count(*)::BIGINT AS cnt FROM pairs GROUP BY {acols}
),
prm0 AS (SELECT {init_cols})""",
    ]
    for t in range(1, iters + 1):
        g = g_expr("q")
        m_cols = ", ".join(
            clamp(f"sum(g * cnt * a_{i}) / sum(g * cnt)") + f" AS m_{i}" for i in ks
        )
        u_cols = ", ".join(
            clamp(f"sum((1.0 - g) * cnt * a_{i}) / sum((1.0 - g) * cnt)")
            + f" AS u_{i}"
            for i in ks
        )
        parts.append(
            f""",
e{t} AS (
  SELECT pat.*, {g} AS g FROM pat CROSS JOIN prm{t - 1} q
),
prm{t} AS (
  SELECT {m_cols}, {u_cols},
         {clamp("sum(g * cnt) / sum(cnt)")} AS p
  FROM e{t}
)""",
        )
    gfin = g_expr("q")
    parts.append(
        f""",
scored AS (
  SELECT {acols}, round({gfin}, {sr}) AS match_prob
  FROM pat CROSS JOIN prm{iters} q
)
SELECT pr.id_a, pr.id_b, s.match_prob,
       (s.match_prob >= {float(threshold)!r}) AS is_match
FROM pairs pr JOIN scored s USING ({acols})
""",
    )
    return "".join(parts)


def reciprocal_best_links(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    score_col: str = "score",
) -> DataFrame:
    """(a, b, score) — reciprocal-best-match filtering of a scored
    candidate-pair table: keep (a, b) iff b is a's highest-scoring
    partner AND a is b's. The standard high-precision gate for entity
    alignment (cross-KG sameAs), bilingual lexicon induction over
    candidate bitext, and mirror-host pairing — mutual preference
    kills the asymmetric hub matches a one-sided argmax lets through.

    Determinism contract: `score_col` is an INTEGER (micro-unit
    scores like sim_micro — the repo-wide rule for oracle-able
    ranking); ties break toward the lexicographically smallest
    partner, so the winner is unique and engine-independent.

    Shape: two min(struct) aggregates (argmax by (-score, partner) —
    partial aggs absorb hub keys map-side, the skew posture every
    per-key argmax in this engine uses) joined back on the pair —
    both joins are equi-joins on the candidate table's own keys; no
    window, no single-reducer."""
    a, b, s = F.col(a_col), F.col(b_col), F.col(score_col)

    def best(key_col: str, partner: Column) -> DataFrame:
        return (
            pairs.groupBy(F.col(key_col).alias("_k"))
            .agg(
                F.min(
                    F.struct(
                        (-s).cast("long").alias("ns"),
                        partner.alias("p"),
                    )
                ).alias("_m")
            )
            .select(
                "_k",
                F.col("_m.p").alias("_p"),
                (-F.col("_m.ns")).cast("long").alias("_s"),
            )
        )

    best_a = best(a_col, b)  # per a: its best b
    best_b = best(b_col, a)  # per b: its best a
    return (
        best_a.join(
            best_b,
            (best_a["_k"] == best_b["_p"]) & (best_a["_p"] == best_b["_k"]),
        )
        .select(
            best_a["_k"].alias("a"),
            best_a["_p"].alias("b"),
            best_a["_s"].alias("score"),
        )
    )


def reciprocal_best_links_oracle_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`reciprocal_best_links`; `pairs_sql`
    yields (a, b, score) with integer scores."""
    return f"""
WITH rb_p AS ({pairs_sql}),
rb_a AS (
  SELECT a, b, score,
         row_number() OVER (PARTITION BY a ORDER BY score DESC, b) AS rn
  FROM rb_p
),
rb_b AS (
  SELECT a, b, score,
         row_number() OVER (PARTITION BY b ORDER BY score DESC, a) AS rn
  FROM rb_p
)
SELECT x.a, x.b, x.score::BIGINT AS score
FROM rb_a x JOIN rb_b y ON x.a = y.a AND x.b = y.b
WHERE x.rn = 1 AND y.rn = 1
"""
