"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference dedups only by document key (last-wins dict merge,
scripts/util.py:15; scripts/downloader.py:68-79 — our exact_dedup's
degenerate case). A web-scale training-data pipeline needs content
dedup too; these are the standard batteries, each expressed as
DataFrame ops that scale:

  - exact_dedup: sha256(text) groupBy. The hash key is uniform, so the
    shuffle has NO skew by construction; count ~ distinct texts.
  - MinHash+LSH: signatures are a narrow per-row projection (all md5 +
    array built-ins, no Python); candidate generation is ONE shuffle on
    (band_idx, band_hash); the classic shingle->minhash->band->
    bucket-join pipeline. Giant buckets (boilerplate-identical pages)
    are the skew risk -> `max_bucket_size` drops pathological buckets
    (they are already-exact dups; route those through exact_dedup).
  - SimHash: 32-bit weighted-token fingerprint; candidates share one of
    four 8-bit bands (Hamming<=3 within 32 bits guarantees a shared
    band by pigeonhole); verify with bit_count(xor).
  - n-gram Jaccard: exact verification on candidate pairs only (never
    all-pairs).

Determinism contract: every hash is md5/sha2 of an explicit string --
no seeds, no Math.random -- and "min over hex strings" is the minhash
order, so the DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from easyner_spark.operators.textstats import words_array

N_HASHES = 12
BAND_ROWS = 3            # 12 hashes -> 4 bands of 3
SIMHASH_BITS = 32
SIMHASH_BANDS = 4        # 4 bands of 8 bits
BLOOM_M_BITS = 1 << 20   # 1 Mi bits = 16,384 64-bit words (~128 KB broadcast)
BLOOM_K = 5


def _content_hash(text_col: str) -> Column:
    """The engine-wide content-hash contract: sha256 over the utf-8
    bytes. Every dedup path and every DuckDB oracle (sha256(text))
    must share this exact expression — edit here only."""
    return F.sha2(F.col(text_col).cast("binary"), 256)


def _gram_chain(toks: Column, k: int) -> Column:
    """Word k-grams in document order via a zip_with fold: gram i =
    toks[i] + " " + ... + toks[i+k-1], built by k-1 zip_withs against
    the progressively-offset tail (zip_with pads the short side with
    NULL, concat-with-NULL is NULL, the final filter drops the <k
    ragged tail). ~6x the index-lambda formulation (sequence +
    per-index slice: HOF lambdas don't codegen, so interpreted
    random access per index IS the cost — measured 3.9 s vs 0.7 s
    per sf0.1 corpus scan on the minhash shingle path; same lesson
    as scoring._bigram_array). Values and order are identical, so
    every downstream oracle is unchanged."""
    n = F.size(toks)
    acc = toks
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.filter(acc, lambda x: x.isNotNull())


def _shingles_of(toks: Column, k: int) -> Column:
    """Distinct, sorted word k-shingles over a token-array column."""
    grams = F.when(F.size(toks) >= k, _gram_chain(toks, k)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    return F.array_sort(F.array_distinct(grams))


def shingle_set(text_col: str = "text", k: int = 3) -> Column:
    """Distinct, sorted word k-shingles ('w1 w2 w3'). Documents shorter
    than k words contribute their whole word sequence as one shingle.

    NB: this single expression inlines the tokenizer ~4x (once per
    reference to the token array). Fine for value checks on small data;
    the pipeline entry points go through :func:`shingle_df`, which
    puts tokens and shingles behind projection boundaries so each is
    evaluated once per row (measured 150x on the signature path —
    Catalyst's CollapseProject keeps the boundaries because the
    producing expressions are non-cheap and multiply referenced)."""
    return _shingles_of(words_array(text_col), k)


def shingle_df(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, sh) with tokenization and shingling each evaluated ONCE per
    row: two stacked projections that Catalyst keeps separate."""
    toks_df = docs.select(F.col(id_col).alias("id"), words_array(text_col).alias("_toks"))
    return toks_df.select("id", _shingles_of(F.col("_toks"), k).alias("sh"))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, content_hash, canonical_id, is_dup): canonical = min id per
    sha256(text) group. One shuffle on the uniform hash key."""
    h = _content_hash(text_col).alias("content_hash")
    w = Window.partitionBy("content_hash")
    return (
        docs.select(F.col(id_col), h)
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_id"))
    )


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content clusters with >1 member: (content_hash, canonical_id, dup_count)."""
    return (
        docs.groupBy(_content_hash(text_col).alias("content_hash"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_components(
    sh: Column, n_hashes: int = N_HASHES, hash_fn: str = "md5"
) -> Column:
    """n minhashes over a shingle-array COLUMN: component i = min over
    shingles of hash('i|' || shingle). Takes a column, not an inline
    shingle expression — inlining would re-evaluate the shingle
    pipeline once per component (n_hashes x per row).

    hash_fn:
      - "md5" (default): array<string>, min over 32-char hex — the
        engine-portable order the DuckDB oracle reproduces verbatim;
      - "xxhash64": array<bigint>, min over signed longs — measured 2x
        faster on the signature stage (1.31 s vs 2.67 s, sf0.1
        documents, local[32]); same MinHash estimator (any consistent
        total order on a uniform hash works), but NOT oracle-portable,
        so it is the bench/production knob, value-pinned against the
        md5 path by the candidate-recovery test.
    """

    def comp(i: int):
        # NB: the lambda must be single-arg — a second parameter would be
        # bound by Spark to the array index, not the closure.
        prefix = f"{i}|"
        if hash_fn == "xxhash64":
            return F.array_min(
                F.transform(sh, lambda s: F.xxhash64(F.concat(F.lit(prefix), s)))
            )
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(prefix), s).cast("binary")))
        )

    return F.array(*[comp(i) for i in range(n_hashes)])


def minhash_signature(
    text_col: str = "text", n_hashes: int = N_HASHES, k: int = 3
) -> Column:
    """Single-expression signature (small-data value checks only — see
    the shingle_set note; the pipeline uses shingle_df +
    minhash_components)."""
    return minhash_components(shingle_set(text_col, k), n_hashes)


def minhash_bands(sig: Column, n_hashes: int = N_HASHES, band_rows: int = BAND_ROWS) -> Column:
    """array<string> of band keys: md5 of the '|'-joined signature slice."""
    return F.array(
        *[
            F.md5(F.concat_ws("|", F.slice(sig, j * band_rows + 1, band_rows)).cast("binary"))
            for j in range(n_hashes // band_rows)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_HASHES,
    band_rows: int = BAND_ROWS,
    k: int = 3,
    min_est_jaccard: float = 0.0,
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-duplicate candidate pairs (a, b, est_jaccard), a < b.

    est_jaccard = fraction of equal signature components (the standard
    MinHash estimator). Plan shape: narrow signature projection ->
    posexplode bands -> self equi-join on (band_idx, band_hash) ->
    distinct. The signature rides through the explode (n_hashes * 32 B
    per row) to avoid a second join; at petabyte scale prefer re-joining
    signatures by id instead of widening the shuffle.
    """
    with_sig = shingle_df(docs, text_col, id_col, k).select(
        "id", minhash_components(F.col("sh"), n_hashes, hash_fn).alias("sig")
    )
    exploded = with_sig.select(
        "id",
        "sig",
        F.posexplode(minhash_bands(F.col("sig"), n_hashes, band_rows)).alias(
            "band_idx", "band_hash"
        ),
    )
    if max_bucket_size is not None:
        wb = Window.partitionBy("band_idx", "band_hash")
        exploded = exploded.withColumn("bsz", F.count("*").over(wb)).where(
            F.col("bsz") <= max_bucket_size
        ).drop("bsz")
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a"),
            F.col("b.id").alias("b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["a", "b"])
    )
    eq = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    out = pairs.select(
        "a", "b", F.round(eq / F.lit(n_hashes), 6).alias("est_jaccard")
    )
    if min_est_jaccard > 0:
        out = out.where(F.col("est_jaccard") >= min_est_jaccard)
    return out


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact Jaccard verification of candidate (a, b) pairs:
    |A ∩ B| / |A ∪ B| over distinct word k-shingles. Two joins against
    the (narrow) shingle projection — candidates only, never all pairs.
    """
    sh = shingle_df(docs, text_col, id_col, k)
    out = (
        candidates.select("a", "b")
        .join(sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a")), "a")
        .join(sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b")), "b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    out = out.select(
        "a", "b", F.round(inter / union, 6).alias("jaccard")
    )
    if min_jaccard > 0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, simhash): 32-bit weighted-token SimHash.

    token hash = first 8 md5 hex chars as uint32; per bit, sum +count
    (bit set) / -count (bit clear) over the doc's token frequencies;
    sign -> bit. Two narrow aggs (token counts, then 32 conditional
    sums), both shuffling on doc id — no skew beyond document size.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(words_array(text_col)).alias("tok")
    )
    cnt = toks.groupBy("id", "tok").agg(F.count("*").alias("cnt"))
    h = F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10).cast("bigint")
    cnt = cnt.withColumn("h", h)
    sums = cnt.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
                .otherwise(-F.col("cnt"))
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select("id", fp.cast("bigint").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs (a, b, hamming) with Hamming(simhash) <= t.

    Candidates = pairs sharing at least one of 4 disjoint 8-bit bands
    (pigeonhole: hamming <= 3 over 32 bits leaves >= 1 band untouched);
    verified with bit_count(xor). One shuffle on (band_idx, band_val).
    """
    sh = simhash(docs, text_col, id_col)
    bands = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 8 * j).bitwiseAND(F.lit(255))
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a"),
            F.col("b.id").alias("b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["a", "b"])
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def neardup_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_est_jaccard: float = 0.5,
    n_hashes: int = N_HASHES,
    band_rows: int = BAND_ROWS,
    k: int = 3,
    hash_fn: str = "md5",
    max_bucket_size: int | None = None,
    local_finish_edges: int | None = None,
) -> DataFrame:
    """End-to-end fuzzy dedup: (id, group_id, is_dup) where group_id is
    the smallest doc id transitively reachable through MinHash-LSH
    near-dup pairs with est_jaccard >= `min_est_jaccard`; docs with no
    such neighbor form singleton groups (group_id = own id).

    This is the composition big curation pipelines actually run
    (NeMo-Curator-style fuzzy dedup: LSH candidates -> connected
    components -> keep one per component): pairwise near-dup output
    alone over-removes, because A~B and B~C should cost ONE document,
    not two — the transitive closure turns pairs into clusters and the
    min-id member is the deterministic keeper.

    Scale shape: :func:`minhash_lsh_pairs` (one band-key shuffle) ->
    alternating-star components (O(log n) rounds, each node-keyed) ->
    one left join of the id universe against the component map.
    Everything downstream of the pair graph moves only (id, id) edges,
    never text. `local_finish_edges=None` keeps the components
    default hybrid finish (see operators/components.py)."""
    from easyner_spark.operators.components import connected_components

    pairs = minhash_lsh_pairs(
        docs,
        text_col,
        id_col,
        n_hashes,
        band_rows,
        k,
        min_est_jaccard,
        max_bucket_size,
        hash_fn,
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    cc_kwargs = {} if local_finish_edges is None else {
        "local_finish_edges": local_finish_edges
    }
    comp = connected_components(edges, **cc_kwargs).withColumnRenamed("node", "id")
    ids = docs.select(F.col(id_col).alias("id")).distinct()
    return ids.join(comp, "id", "left").select(
        "id",
        F.coalesce("component", F.col("id")).alias("group_id"),
        (F.coalesce("component", F.col("id")) != F.col("id")).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Incremental (new-crawl vs seen-corpus) dedup with a distributed Bloom filter
# ---------------------------------------------------------------------------

def _bloom_positions(key: Column, m_bits: int, k: int) -> Column:
    """array<struct<w:int, b:int>> — the k Bloom bit positions of `key`:
    position_i = pmod(xxhash64('i|' || key), m_bits), split into a
    64-bit word index and a bit-within-word."""
    entries = []
    for i in range(k):
        p = F.pmod(F.xxhash64(F.concat(F.lit(f"{i}|"), key)), F.lit(m_bits))
        entries.append(
            F.struct(
                F.shiftright(p, 6).cast("int").alias("w"),
                p.bitwiseAND(F.lit(63)).cast("int").alias("b"),
            )
        )
    return F.array(*entries)


def bloom_build(
    keys: DataFrame,
    key_col: str = "content_hash",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Distributed Bloom filter over a key column, materialized as a
    DataFrame of 64-bit words: (word_idx int, word bigint), word =
    bit_or of 1<<bit over every key hashing into that word. Pure
    built-ins (xxhash64 + shiftleft + bit_or agg) — the build is one
    uniform shuffle on word_idx with map-side partial ORs, and the
    result is at most m_bits/64 rows (~128 KB at the default 2^20
    bits): broadcast-dictionary-sized however large the seen corpus
    is. Absent word_idx rows mean all-zero words."""
    pos = keys.select(F.explode(_bloom_positions(F.col(key_col), m_bits, k)).alias("p"))
    return (
        pos.select(
            F.col("p.w").alias("word_idx"),
            # F.shiftleft takes a Python-int bit count; a per-row shift
            # needs the SQL form (still pure codegen, no UDF)
            F.expr("shiftleft(CAST(1 AS BIGINT), p.b)").alias("m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("m").alias("word"))
    )


def incremental_new_docs(
    new: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_bloom: bool = True,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    prebuilt_bloom: DataFrame | None = None,
) -> DataFrame:
    """Which documents of a NEW crawl batch are genuinely novel against
    a SEEN corpus? Returns (id, content_hash): one row per novel
    distinct text in `new` (in-batch canonical = min id per
    sha256(text); texts already in `seen` are dropped).

    The 10^12-document shape: a plain hash anti-join re-shuffles the
    entire seen-corpus hash index for every incoming batch. With
    `use_bloom` (default), a :func:`bloom_build` filter over the seen
    hashes — a ~128 KB broadcast no matter how big the corpus — first
    splits the batch into DEFINITELY-new rows (some Bloom bit clear:
    zero false negatives by construction) and maybe-seen rows; only
    the maybe-seen sliver pays the exact anti-join. The final output
    is exactly the anti-join's (Bloom false positives are re-checked,
    so the filter changes cost, never values — the oracle pins this).
    In production the Bloom words table persists next to the corpus
    snapshot and is incrementally OR-merged per epoch — pass it back in
    via `prebuilt_bloom` (built with the SAME m_bits/k) and the seen
    corpus is scanned only for the residual anti-join, not to rebuild
    the filter; pair with a
    bucketed seen table (sinks/bucketed.py) to make the residual
    anti-join zero-exchange. Spark's runtime bloom-filter join
    (spark.sql.optimizer.runtime.bloomFilter.enabled) covers the same
    idea planner-side but only below size thresholds; this operator
    makes the semi-structure explicit and reusable across batches."""
    canon = (
        new.groupBy(_content_hash(text_col).alias("content_hash"))
        .agg(F.min(id_col).alias("id"))
        .select("id", "content_hash")
    )
    seen_h = seen.select(_content_hash(text_col).alias("content_hash"))
    if not use_bloom:
        # same column order as the bloom path (a using-join moves the
        # key first): the flag must never change the output shape
        return canon.join(seen_h, "content_hash", "left_anti").select(
            "id", "content_hash"
        )
    bloom = (
        prebuilt_bloom
        if prebuilt_bloom is not None
        else bloom_build(seen_h, "content_hash", m_bits, k)
    )
    probes = canon.select(
        "id",
        "content_hash",
        F.explode(_bloom_positions(F.col("content_hash"), m_bits, k)).alias("p"),
    )
    flags = (
        probes.join(F.broadcast(bloom), F.col("p.w") == bloom["word_idx"], "left")
        .select(
            "id",
            "content_hash",
            (
                F.expr(
                    "shiftright(coalesce(word, CAST(0 AS BIGINT)), p.b) & 1"
                )
                == 1
            ).alias("hit"),
        )
        .groupBy("id", "content_hash")
        .agg(F.min(F.col("hit").cast("int")).alias("all_set"))
    )
    definite_new = flags.where(F.col("all_set") == 0).select("id", "content_hash")
    maybe = flags.where(F.col("all_set") == 1).select("id", "content_hash")
    verified = maybe.join(seen_h, "content_hash", "left_anti")
    return definite_new.unionByName(verified)


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_para_chars: int = 0,
) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup: split each document on
    newlines, keep only the FIRST occurrence of every distinct
    paragraph across the whole corpus (first = smallest
    (doc_id, para_idx)), and rebuild each document from its surviving
    paragraphs in original order. This is the boilerplate-killer for
    web corpora — 'subscribe to our newsletter' / cookie banners /
    copyright footers repeat across millions of pages and survive
    document-level dedup because the surrounding text differs
    (CCNet, Wenzek et al. 2020, dedupes on paragraph hashes for
    exactly this reason).

    Output: one row per input document —
      (id, text_dedup, n_paras, n_kept); text_dedup = '' when every
    paragraph was seen earlier elsewhere. Paragraphs shorter than
    `min_para_chars` bypass dedup (kept verbatim: single-char list
    bullets and blank separators are not boilerplate evidence and
    would otherwise all collapse onto their global first occurrence).

    Scale shape (ONE scan of `docs`, 2 shuffles, both skew-safe,
    no join):
      1. first-occurrence agg: groupBy the paragraph DIGEST with an
         ALGEBRAIC min(struct(id, idx, para)) — the winning row's text
         rides IN the aggregation buffer, so the survivor set falls
         out of ONE pass with no join back, and partial aggs collapse
         a paragraph repeated on 10^8 pages within each input split
         before the exchange: boilerplate-paragraph skew never reaches
         a reducer. Rows shorter than min_para_chars get a per-row
         singleton key ('B:' || id || '#' || idx — sha2 emits pure
         hex, so the namespaces cannot collide) and therefore always
         survive, without a second scan for a bypass branch.
      2. document rebuild: groupBy id, sort_array over (idx, para)
         structs — per-document data only.
    The per-doc totals (n_paras, and presence of fully-deduped docs)
    ride a SENTINEL element appended to each document's paragraph
    array in the same explode: (_pidx = n_paras, _para = NULL). The
    sentinel takes the singleton-bypass key (length(NULL) is NULL, so
    the sha2 branch never fires), always survives stage 1, and lands
    in stage 2's group, where count(_para) skips it (SQL count of an
    expression ignores NULLs), collect_list skips the NULL-mapped
    struct, and max(case when _para is null then _pidx end) recovers
    n_paras. Net effect vs the r3 shape: the upstream plan (at 100 TB:
    html scan + extraction + quality gates) is evaluated ONCE instead
    of twice, and the id-keyed totals join disappears — measured 1.7x
    on the composed crawl2corpus funnel (BASELINE.md r4).

    Design note (measured, tools/skew_bench.py para tier, 6.2M
    paragraphs / 29% on 3 hot keys, interleaved same-window pairs):
    the textbook alternatives both lose. A keeper JOIN back on the
    digest (agg of (id,idx) only, then join) double-scans the
    explode+sha2 and shuffles paragraph text an extra time — 15.4 s
    vs 4.0 s for a row_number() window in its window. The window is
    fast at THIS scale but funnels every replica of a hot paragraph
    through one reducer — 'all rights reserved' at 10^10 replicas is
    a straggler/OOM, the exact failure partial aggs exist to prevent.
    This min-struct-buffer form measured 6.2 s vs the window's 8.9 s
    in ITS window: the one-pass shape AND the map-side collapse.
    """
    did, idx = F.col(id_col), F.col("_pidx")
    paras = docs.select(
        did,
        F.posexplode(
            F.concat(
                F.split(F.col(text_col), "\n"),
                F.array(F.lit(None).cast("string")),  # per-doc sentinel
            )
        ).alias("_pidx", "_para"),
    )
    pkey = F.when(
        F.length("_para") >= min_para_chars, F.sha2(F.col("_para"), 256)
    ).otherwise(F.concat(F.lit("B:"), did.cast("string"), F.lit("#"), idx))
    firsts = paras.groupBy(pkey.alias("_pkey")).agg(
        F.min(
            F.struct(did.alias("i"), idx.alias("p"), F.col("_para").alias("t"))
        ).alias("_first")
    )
    kept = firsts.select(
        F.col("_first.i").alias(id_col),
        F.col("_first.p").alias("_pidx"),
        F.col("_first.t").alias("_para"),
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(  # skips the NULL-mapped sentinel rows
                        F.when(
                            F.col("_para").isNotNull(),
                            F.struct(
                                F.col("_pidx").alias("p"),
                                F.col("_para").alias("t"),
                            ),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            "\n",
        ).alias("text_dedup"),
        # sentinel _pidx == len(paragraph array) == n_paras
        F.max(F.when(F.col("_para").isNull(), F.col("_pidx"))).alias("n_paras"),
        F.count(F.col("_para")).alias("n_kept"),  # count(expr) skips NULLs
    ).select(did, "text_dedup", "n_paras", "n_kept")


# ---------------------------------------------------------------------------
# Test-set decontamination
# ---------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "doc_id",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark n-gram decontamination: for every training document,
    how much of it overlaps a held-out benchmark set? Returns
    (id, n_grams, n_hits, overlap_frac, contaminated) where n_grams is
    the document's distinct word n-gram count, n_hits how many of those
    also occur anywhere in `bench`, overlap_frac = round(n_hits /
    n_grams, 6), contaminated = overlap_frac >= `threshold`.

    This is the GPT-3-appendix-C / PaLM-style n-gram decontamination
    every serious pretraining pipeline runs (the reference has no
    analog — it consumes curated PubMed). Documents shorter than n
    words contribute their whole word sequence as one gram (same
    fallback as the dedup shingles), so every document gets a row.

    Scale shape: benchmark suites are tiny next to a 100 TB corpus —
    the distinct benchmark grams are broadcast (default), so the
    corpus side is explode -> broadcast left join -> ONE shuffle on
    doc id for the per-doc rollup. `broadcast_bench=False` drops the
    hint for a giant bench set and lets AQE pick the join; the rollup
    is a uniform-key groupBy either way. Gram strings never leave the
    exploded stage wider than (id, gram, flag).
    """
    dg = shingle_df(docs, text_col, id_col, k=n).select(
        "id", F.explode("sh").alias("gram")
    )
    bg = (
        shingle_df(bench, bench_text_col, bench_id_col, k=n)
        .select(F.explode("sh").alias("gram"))
        .distinct()
        .select("gram", F.lit(1).alias("_hit"))
    )
    if broadcast_bench:
        bg = F.broadcast(bg)
    per = (
        dg.join(bg, "gram", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hits"),
        )
    )
    frac = F.round(F.col("n_hits") / F.col("n_grams"), 6)
    return per.select(
        "id",
        "n_grams",
        "n_hits",
        frac.alias("overlap_frac"),
        (frac >= threshold).alias("contaminated"),
    )


def repeated_spans(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, span_start, span_end, n_grams) — corpus-wide repeated
    SUBSTRING detection (the deduplicate-text-datasets / Lee et al.
    2022 semantics, re-expressed relationally): every k-token window
    that occurs >= `min_count` times ANYWHERE in the corpus (across
    documents or within one) is flagged, and per document the flagged
    windows are merged into maximal token-index spans
    [span_start, span_end) (end exclusive; touching windows merge).
    Documents shorter than k tokens contribute no windows.

    The suffix-array formulation this replaces needs a machine that
    holds the corpus; this one is three linear passes any cluster
    sizes through:

      1. rolling k-gram fingerprints — a narrow posexplode projection,
         O(total_tokens) rows of (id, pos, 16-hex gram hash);
      2. ONE count aggregate on the gram hash (uniform key — partial
         aggs absorb hot boilerplate grams map-side) + the semi-join
         of windows against over-threshold grams (AQE-decided; the
         duplicated-gram side is usually the small one);
      3. gaps-and-islands span merge per document: a lag window
         PARTITIONED BY doc (each doc sorts only its own hits, never
         a global sort) + one partial-agg min/max rollup.

    Every value is md5-derived or an exact integer — the DuckDB
    oracle reproduces spans bit-for-bit. Downstream,
    `strip_repeated_spans` rebuilds cleaned text, keeping each
    duplicated region's FIRST corpus occurrence is intentionally NOT
    attempted here — global first-occurrence ordering of overlapping
    spans is a sequential contract; the standard batch treatment
    (drop every flagged region everywhere) is what ships.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    toks = docs.select(F.col(id_col).alias("id"), words_array(text_col).alias("_w"))
    n = F.size("_w")
    starts = F.sequence(F.lit(0), n - k, F.lit(1))
    grams = toks.where(n >= k).select(
        "id",
        F.posexplode(starts).alias("_i", "pos"),
        F.col("_w"),
    )
    # 16-hex md5 prefix of the joined window: 64 bits — collision-safe
    # at corpus scale for a DETECTOR (a false merge needs 2^32 grams
    # by birthday; acceptable for span flagging, shared with oracle)
    g = F.substring(
        F.md5(F.array_join(F.slice("_w", F.col("pos") + 1, k), "\x01")), 1, 16
    )
    grams = grams.select("id", "pos", g.alias("g"))
    dup = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c")).where(
        F.col("c") >= F.lit(min_count)
    )
    hits = grams.join(dup.select("g"), "g", "left_semi")
    w = Window.partitionBy("id").orderBy("pos")
    brk = (
        F.when(F.lag("pos").over(w).isNull(), F.lit(1))
        .when(F.col("pos") > F.lag("pos").over(w) + F.lit(k), F.lit(1))
        .otherwise(F.lit(0))
    )
    isl = F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    spans = hits.select("id", "pos", isl.alias("_isl"))
    return spans.groupBy("id", "_isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k)).alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    ).select("id", "span_start", "span_end", "n_grams")


def strip_repeated_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, text) with every flagged token range removed (tokens
    re-joined with single spaces — the words_array contract). Spans
    collapse to one array per doc (bounded: merged spans are disjoint,
    so there are at most n_tokens/k of them), broadcast-or-AQE join
    back, then a zero-copy index filter HOF — the two-parameter
    lambda is the documented array-INDEX binding, used deliberately."""
    agg = spans.groupBy("id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_sp")
    )
    joined = docs.select(
        F.col(id_col).alias("id"), words_array(text_col).alias("_w")
    ).join(agg, "id", "left")
    kept = F.filter(
        F.col("_w"),
        lambda tok, i: ~F.exists(
            F.col("_sp"),
            lambda sp: (i >= sp["span_start"]) & (i < sp["span_end"]),
        ),
    )
    cleaned = F.when(F.col("_sp").isNull(), F.col("_w")).otherwise(kept)
    return joined.select("id", F.array_join(cleaned, " ").alias("text"))


def repeated_spans_oracle_sql(
    k: int = 50,
    min_count: int = 2,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`repeated_spans` (kept beside the operator
    so the gram fingerprint, threshold, and island arithmetic stay in
    lockstep). `source` may be any table/CTE-free subquery exposing
    (doc_id, text)."""
    ki, mc = int(k), int(min_count)
    return f"""
WITH toks AS (
  SELECT doc_id AS id, regexp_extract_all(lower(text), '\\w+') AS w
  FROM {source}
),
grams AS (
  SELECT id,
         unnest(generate_series(0, len(w) - {ki}, 1)) AS pos,
         w
  FROM toks WHERE len(w) >= {ki}
),
gh AS (
  SELECT id, pos,
         substr(md5(array_to_string(list_slice(w, pos + 1, pos + {ki}), chr(1))), 1, 16) AS g
  FROM grams
),
dup AS (
  SELECT g FROM gh GROUP BY g HAVING count(*) >= {mc}
),
hits AS (
  SELECT id, pos FROM gh SEMI JOIN dup USING (g)
),
brks AS (
  SELECT id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY id ORDER BY pos) IS NULL THEN 1
              WHEN pos > lag(pos) OVER (PARTITION BY id ORDER BY pos) + {ki} THEN 1
              ELSE 0 END AS brk
  FROM hits
),
isl AS (
  SELECT id, pos,
         SUM(brk) OVER (PARTITION BY id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS i
  FROM brks
)
SELECT id, min(pos)::INT AS span_start, (max(pos) + {ki})::INT AS span_end,
       count(*)::BIGINT AS n_grams
FROM isl GROUP BY id, i
"""


# ---------------------------------------------------------------------------
# Asymmetric containment (syndication / quotation detection)
# ---------------------------------------------------------------------------

def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_containment_pct: int = 80,
    min_shared: int = 3,
    max_df: int = 64,
) -> DataFrame:
    """Asymmetric containment detection — syndication, quotation,
    wrapper pages: ordered pairs (container, contained) where
    >= `min_containment_pct`% of the CONTAINED doc's distinct
    k-shingles appear in the container. Jaccard near-dup structurally
    misses these: a short article syndicated inside a long portal
    page has tiny Jaccard (union is dominated by the portal) but
    ~100% containment of the article side. Output: (container,
    contained, shared, n_container, n_contained); mutual containment
    (true near-dups) emits both directions.

    Exactness: integer cross-multiply gate
    (shared * 100 >= pct * n_contained); no floats.

    Scale: shingles are
    df-gated to 2..max_df docs by an algebraic COUNT BEFORE any array
    collect — a shingle in more docs is corpus boilerplate
    (paragraph_dedup territory) and its exclusion is
    documented semantics, not silent truncation; the per-shingle
    sorted id array is <= max_df by construction, so the in-array i<j
    pair fan-out is <= max_df^2/2 per shingle; the (a, b) shared
    count is algebraic; per-doc totals ride the narrow (id, n)
    projection and the two joins are AQE-decided. Shingle text
    crosses one exchange (the df gate), ids only after that.
    """
    sh = shingle_df(docs, text_col, id_col, k)
    tot = sh.select("id", F.size("sh").cast("long").alias("n"))
    ex = sh.select("id", F.explode("sh").alias("_s"))
    elig = (
        ex.groupBy("_s")
        .agg(F.count(F.lit(1)).cast("long").alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("_s")
    )
    grouped = (
        ex.join(elig, "_s")
        .groupBy("_s")
        .agg(F.sort_array(F.collect_list("id")).alias("_ids"))
    )
    n_ids = F.size(F.col("_ids"))
    pairs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("_ids"), i + 2, F.greatest(n_ids - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    shared = (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    both = shared.join(
        tot.select(F.col("id").alias("a"), F.col("n").alias("n_a")), "a"
    ).join(tot.select(F.col("id").alias("b"), F.col("n").alias("n_b")), "b")
    dirs = F.array(
        F.struct(
            F.col("a").alias("container"),
            F.col("b").alias("contained"),
            F.col("n_a").alias("n_container"),
            F.col("n_b").alias("n_contained"),
        ),
        F.struct(
            F.col("b").alias("container"),
            F.col("a").alias("contained"),
            F.col("n_b").alias("n_container"),
            F.col("n_a").alias("n_contained"),
        ),
    )
    return (
        both.select("shared", F.explode(dirs).alias("d"))
        .select(
            "d.container", "d.contained", "shared",
            "d.n_container", "d.n_contained",
        )
        .where(
            (F.col("shared") >= min_shared)
            & (
                F.col("shared") * 100
                >= min_containment_pct * F.col("n_contained")
            )
        )
    )


def containment_pairs_oracle_sql(
    docs_sql: str,
    k: int = 5,
    min_containment_pct: int = 80,
    min_shared: int = 3,
    max_df: int = 64,
) -> str:
    """DuckDB twin of containment_pairs; `docs_sql` yields (id, text).
    Same \\w+ tokenizer, k-shingle construction (short docs contribute
    their whole word sequence as one shingle), df gate, and integer
    cross-multiply containment gate."""
    gram = " || ' ' || ".join(
        f"toks[(i + {j + 1})::INT]" for j in range(k)
    )
    return f"""
WITH docs2 AS ({docs_sql}),
toks AS (SELECT id, regexp_extract_all(lower(text), '\\w+') AS toks FROM docs2),
sh AS (
  SELECT id, list_sort(list_distinct(
    CASE WHEN len(toks) >= {k}
      THEN list_transform(range(0, len(toks) - {k - 1}), i -> {gram})
      ELSE [array_to_string(toks, ' ')] END)) AS sh
  FROM toks
),
tot AS (SELECT id, len(sh)::BIGINT AS n FROM sh),
ex AS (SELECT id, unnest(sh) AS s FROM sh),
elig AS (
  SELECT s FROM ex GROUP BY s
  HAVING count(*) >= 2 AND count(*) <= {max_df}
),
pairs AS (
  SELECT a.id AS a, b.id AS b, count(*)::BIGINT AS shared
  FROM ex a
  JOIN ex b ON a.s = b.s AND a.id < b.id
  JOIN elig e ON a.s = e.s
  GROUP BY a.id, b.id
),
dirs AS (
  SELECT a AS container, b AS contained, shared FROM pairs
  UNION ALL
  SELECT b AS container, a AS contained, shared FROM pairs
)
SELECT d.container, d.contained, d.shared,
       ta.n AS n_container, tb.n AS n_contained
FROM dirs d
JOIN tot ta ON d.container = ta.id
JOIN tot tb ON d.contained = tb.id
WHERE d.shared >= {min_shared}
  AND d.shared * 100 >= {min_containment_pct} * tb.n
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------

def _ordered_grams(toks: Column, k: int) -> Column:
    """Word k-grams IN DOCUMENT ORDER (winnowing needs positions, so
    no distinct/sort — contrast :func:`_shingles_of`). Documents
    shorter than k words contribute their whole word sequence as one
    gram, the same short-doc rule as the shingle contract."""
    return F.when(F.size(toks) >= k, _gram_chain(toks, k)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


# winnowing position-key contract: 8-hex gram hash, '#', then the
# 9-digit zero-padded value (10^8 - pos) -- string min() == (smallest
# hash, RIGHTMOST position on ties), the canonical winnowing tie rule.
# Shared verbatim by the Spark path and the DuckDB oracle.
_WINNOW_POS_BASE = 100_000_000


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """(doc_id, pos, fp) — winnowing fingerprint selection (Schleimer,
    Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003): hash every word k-gram, slide a
    window of `w` consecutive hashes, keep each window's minimum
    (rightmost on ties), dedup the selections. Guarantees: any shared
    run of >= w + k - 1 words between two documents shares at least
    one fingerprint, while only ~2/(w+1) of grams are kept — a
    position-aware near-dup/plagiarism signal the set-based
    minhash/simhash paths can't provide (they discard WHERE the
    overlap is; see minhash_lsh_pairs for the set path).

    The reference has no winnowing; this extends its frequency-only
    text analysis (scripts/analysis.py) for corpus curation at scale.

    Plan shape: tokenize -> ordered k-grams -> posexplode -> ONE
    window shuffle on doc id (fine-grained key, skew-free) -> partial
    -agg distinct. Hash is the first 8 md5 hex chars — string order
    == unsigned numeric order, identical in Spark and DuckDB.
    Documents with fewer than w grams yield their single best
    fingerprint (the window frame degenerates gracefully).
    """
    if k < 1 or w < 1:
        raise ValueError(f"winnow needs k >= 1 and w >= 1: k={k} w={w}")
    toks = docs.select(
        F.col(id_col).alias("doc_id"), words_array(text_col).alias("_toks")
    )
    grams = toks.select(
        "doc_id", _ordered_grams(F.col("_toks"), k).alias("_grams")
    )
    g = grams.select(
        "doc_id",
        F.size("_grams").alias("_n"),
        F.posexplode("_grams").alias("pos", "gram"),
    )
    keyed = g.select(
        "doc_id",
        "_n",
        "pos",
        F.concat(
            F.substring(F.md5(F.col("gram").cast("binary")), 1, 8),
            F.lit("#"),
            F.lpad(
                (F.lit(_WINNOW_POS_BASE) - F.col("pos")).cast("string"),
                9,
                "0",
            ),
        ).alias("_key"),
    )
    win = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    sel = keyed.select(
        "doc_id",
        "_n",
        "pos",
        F.min("_key").over(win).alias("_sel"),
    ).where(F.col("pos") <= F.greatest(F.col("_n") - w, F.lit(0)))
    return (
        sel.select(
            "doc_id",
            (
                F.lit(_WINNOW_POS_BASE)
                - F.substring("_sel", 10, 9).cast("int")
            ).alias("pos"),
            F.substring("_sel", 1, 8).alias("fp"),
        )
        .distinct()
    )


def winnow_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_bucket_size: int = 200,
) -> DataFrame:
    """(a, b, n_shared), a < b — document pairs sharing >= min_shared
    winnowing fingerprints. Fingerprints occurring in more than
    max_bucket_size documents are dropped before the self-join (the
    boilerplate-gram guard: a site-wide footer k-gram would otherwise
    pair every page on the host quadratically — same cap idiom as
    minhash_lsh_pairs). Two shuffles beyond the fingerprint pass:
    fp-bucket join + pair rollup, candidates only, never all pairs.
    """
    fps = winnow_fingerprints(docs, text_col, id_col, k, w).select(
        "doc_id", "fp"
    ).distinct()
    wb = Window.partitionBy("fp")
    capped = (
        fps.withColumn("_df", F.count("*").over(wb))
        .where(F.col("_df") <= max_bucket_size)
        .drop("_df")
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def _winnow_cte_sql(docs_sql: str, k: int, w: int) -> str:
    """Flat CTE chain ending in wfp(doc_id, pos, fp) — the DuckDB twin
    of winnow_fingerprints; `docs_sql` yields (id, text)."""
    gram = " || ' ' || ".join(f"toks[(i + {j + 1})::INT]" for j in range(k))
    return f"""wd AS ({docs_sql}),
wtoks AS (SELECT id, regexp_extract_all(lower(text), '\\w+') AS toks FROM wd),
wgrams AS (
  SELECT id, CASE WHEN len(toks) >= {k}
      THEN list_transform(range(0, len(toks) - {k - 1}), i -> {gram})
      ELSE [array_to_string(toks, ' ')] END AS gs
  FROM wtoks
),
wg AS (
  SELECT id, len(gs) AS n, u.i::INT AS pos, u.v AS gram
  FROM (SELECT id, gs, unnest(list_transform(range(0, len(gs)),
          i -> {{'i': i, 'v': gs[(i+1)::INT]}})) AS u FROM wgrams)
),
wkeyed AS (
  SELECT id, n, pos,
    substr(md5(gram), 1, 8) || '#'
      || lpad(({_WINNOW_POS_BASE} - pos)::VARCHAR, 9, '0') AS key
  FROM wg
),
wsel AS (
  SELECT id, n, pos,
    min(key) OVER (PARTITION BY id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS s
  FROM wkeyed
),
wfp AS (
  SELECT DISTINCT id AS doc_id,
    ({_WINNOW_POS_BASE} - substr(s, 10, 9)::INT) AS pos,
    substr(s, 1, 8) AS fp
  FROM wsel WHERE pos <= greatest(n - {w}, 0)
)"""


def winnow_fingerprints_oracle_sql(
    docs_sql: str, k: int = 3, w: int = 4
) -> str:
    """DuckDB twin of winnow_fingerprints; `docs_sql` yields (id, text)."""
    return f"""
WITH {_winnow_cte_sql(docs_sql, k, w)}
SELECT doc_id, pos, fp FROM wfp
"""


def winnow_candidate_pairs_oracle_sql(
    docs_sql: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_bucket_size: int = 200,
) -> str:
    """DuckDB twin of winnow_candidate_pairs."""
    return f"""
WITH {_winnow_cte_sql(docs_sql, k, w)},
wdistinct AS (SELECT DISTINCT doc_id, fp FROM wfp),
wcapped AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
    FROM wdistinct
  ) WHERE df <= {max_bucket_size}
),
wpairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*)::BIGINT AS n_shared
  FROM wcapped a JOIN wcapped b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a, b, n_shared FROM wpairs WHERE n_shared >= {min_shared}
"""


def blocking_quality(
    candidates: DataFrame,
    gold: DataFrame,
    n_records: int,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """One row of entity-resolution blocking metrics — the evaluation
    harness for EVERY candidate generator in this module (minhash_lsh_
    pairs, simhash_pairs, winnow_candidate_pairs, name_similarity
    blocking): given the candidate pair set a blocker emitted and a
    gold duplicate-pair set, report

        n_cand, n_gold, n_true   exact pair counts (BIGINT)
        pc_micro   pairs completeness = recall of gold pairs,
                   floor(1e6 * n_true / n_gold)
        pq_micro   pairs quality = precision of candidates,
                   floor(1e6 * n_true / n_cand)
        rr_micro   reduction ratio vs the all-pairs quadratic,
                   1e6 - floor(1e6 * n_cand / C(n_records, 2))

    the standard blocking triple (Christen, "Data Matching", ch. 7).
    The tension it measures is THE 100-TB dedup design question: LSH
    band count / shingle size trade pc against rr, and this operator
    is how you tune them on a labeled sample before burning a corpus
    pass.

    Exactness: all-BIGINT micro-unit floors — products stay below
    2^63 for any n_true/n_cand < ~9.2e12 pairs, far beyond a labeled
    evaluation sample by contract. Pairs are normalized to unordered
    (least, greatest) DISTINCT form on BOTH inputs first, so emit
    order and duplicates in either input cannot skew counts.

    Shape: two distinct-aggregates plus ONE broadcast-sized equi-join
    (the gold side of an evaluation is small by definition; Catalyst
    AQE broadcasts it), then three 1-row aggregates combined by
    broadcast cross joins — no collect, no single-partition window.
    """
    if n_records < 2:
        raise ValueError("blocking_quality needs n_records >= 2")

    def _norm(df: DataFrame) -> DataFrame:
        a, b = F.col(a_col), F.col(b_col)
        return (
            df.select(
                F.least(a, b).alias("lo"), F.greatest(a, b).alias("hi")
            )
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )

    cand_n = _norm(candidates).localCheckpoint(eager=True)
    gold_n = _norm(gold).localCheckpoint(eager=True)
    n_cand = cand_n.agg(F.count(F.lit(1)).alias("n_cand"))
    n_gold = gold_n.agg(F.count(F.lit(1)).alias("n_gold"))
    n_true = cand_n.join(gold_n, ["lo", "hi"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_true")
    )
    total_pairs = n_records * (n_records - 1) // 2
    out = (
        n_cand.crossJoin(F.broadcast(n_gold))
        .crossJoin(F.broadcast(n_true))
    )
    return out.select(
        F.col("n_cand").cast("long").alias("n_cand"),
        F.col("n_gold").cast("long").alias("n_gold"),
        F.col("n_true").cast("long").alias("n_true"),
        F.expr(
            "CASE WHEN n_gold > 0 THEN (1000000 * n_true) div n_gold END"
        )
        .cast("long")
        .alias("pc_micro"),
        F.expr(
            "CASE WHEN n_cand > 0 THEN (1000000 * n_true) div n_cand END"
        )
        .cast("long")
        .alias("pq_micro"),
        F.expr(f"1000000 - (1000000 * n_cand) div CAST({total_pairs} AS BIGINT)")
        .cast("long")
        .alias("rr_micro"),
    )


def blocking_quality_oracle_sql(
    cand_sql: str, gold_sql: str, n_records: int
) -> str:
    """DuckDB twin of :func:`blocking_quality`; `cand_sql` / `gold_sql`
    each yield (a, b) pair rows (any order/duplication)."""
    total_pairs = n_records * (n_records - 1) // 2
    return f"""
WITH bq_cand AS (
  SELECT DISTINCT least(a, b) AS lo, greatest(a, b) AS hi
  FROM ({cand_sql}) WHERE a <> b
),
bq_gold AS (
  SELECT DISTINCT least(a, b) AS lo, greatest(a, b) AS hi
  FROM ({gold_sql}) WHERE a <> b
),
bq_counts AS (
  SELECT
    (SELECT count(*) FROM bq_cand)::BIGINT AS n_cand,
    (SELECT count(*) FROM bq_gold)::BIGINT AS n_gold,
    (SELECT count(*) FROM bq_cand c
       WHERE EXISTS (SELECT 1 FROM bq_gold g
                     WHERE g.lo = c.lo AND g.hi = c.hi))::BIGINT AS n_true
)
SELECT n_cand, n_gold, n_true,
  CASE WHEN n_gold > 0
       THEN (1000000 * n_true) // n_gold ELSE NULL END::BIGINT AS pc_micro,
  CASE WHEN n_cand > 0
       THEN (1000000 * n_true) // n_cand ELSE NULL END::BIGINT AS pq_micro,
  (1000000 - (1000000 * n_cand) // {total_pairs})::BIGINT AS rr_micro
FROM bq_counts
"""


def bcubed_quality(
    assignments: DataFrame,
    record_col: str = "record",
    pred_col: str = "pred_cluster",
    gold_col: str = "gold_cluster",
) -> DataFrame:
    """One row of B-cubed clustering metrics — the CLUSTER-level
    companion to blocking_quality's pair metrics: given each record's
    predicted cluster (neardup_groups, fuzzy_dedup_groups, components
    output) and gold cluster, report

        n_records                 evaluated records (BIGINT)
        bcubed_precision_micro    avg over records of
                                  |pred∩gold|/|pred|, micro floor
        bcubed_recall_micro       avg of |pred∩gold|/|gold|
        bcubed_f1_micro           harmonic mean of the two averages

    B³ (Bagga & Baldwin 1998) is the standard ER-clustering score:
    unlike pair-F1 it doesn't let one giant merged cluster dominate.

    Exactness contract: per-record ratios are BIGINT micro floors
    (1e6·n_pg div n_p), the averages are floor(sum/n), and f1 is
    floor(2·P·R/(P+R)) on the micro units — floor-before-average is
    part of the contract (deterministic on both engines; the bias is
    < 1 micro-unit per record). Records missing either cluster id are
    dropped (inner semantics) — score what both sides clustered.

    Shape: one (pred, gold) pair-size aggregate — the intersection
    size n_pg is a GROUP SIZE, no pairwise join ever happens — plus
    two cluster-size aggregates joined back (AQE broadcasts the
    cluster-size tables; cluster counts << records), then ONE global
    rollup. A giant predicted cluster is one hot GROUP KEY absorbed
    map-side by partial aggregation, not a quadratic pair explosion —
    that is the whole point of evaluating B³ instead of pair counts
    at corpus scale.
    """
    a = assignments.select(
        F.col(record_col).alias("r"),
        F.col(pred_col).alias("p"),
        F.col(gold_col).alias("g"),
    ).where(F.col("p").isNotNull() & F.col("g").isNotNull())
    pg = a.groupBy("p", "g").agg(F.count(F.lit(1)).alias("n_pg"))
    np_ = a.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    ng = a.groupBy("g").agg(F.count(F.lit(1)).alias("n_g"))
    per = (
        pg.join(F.broadcast(np_), "p")
        .join(F.broadcast(ng), "g")
        .select(
            "n_pg",
            F.expr("(1000000 * n_pg) div n_p").alias("prec_micro"),
            F.expr("(1000000 * n_pg) div n_g").alias("rec_micro"),
        )
    )
    tot = per.agg(
        F.sum("n_pg").cast("long").alias("n_records"),
        # each (p,g) cell contributes its ratio once PER RECORD in it
        F.sum(F.col("prec_micro") * F.col("n_pg")).cast("long").alias("_ps"),
        F.sum(F.col("rec_micro") * F.col("n_pg")).cast("long").alias("_rs"),
    )
    return tot.select(
        "n_records",
        F.expr("_ps div n_records").cast("long").alias(
            "bcubed_precision_micro"
        ),
        F.expr("_rs div n_records").cast("long").alias(
            "bcubed_recall_micro"
        ),
        F.expr(
            "CASE WHEN _ps div n_records + _rs div n_records > 0 THEN "
            "(2 * (_ps div n_records) * (_rs div n_records)) div "
            "((_ps div n_records) + (_rs div n_records)) ELSE 0 END"
        )
        .cast("long")
        .alias("bcubed_f1_micro"),
    )


def bcubed_quality_oracle_sql(assign_sql: str) -> str:
    """DuckDB twin of :func:`bcubed_quality`; `assign_sql` yields
    (r, p, g) record-cluster assignment rows."""
    return f"""
WITH b3_a AS (
  SELECT r, p, g FROM ({assign_sql})
  WHERE p IS NOT NULL AND g IS NOT NULL
),
b3_pg AS (SELECT p, g, count(*)::BIGINT AS n_pg FROM b3_a GROUP BY p, g),
b3_p AS (SELECT p, count(*)::BIGINT AS n_p FROM b3_a GROUP BY p),
b3_g AS (SELECT g, count(*)::BIGINT AS n_g FROM b3_a GROUP BY g),
b3_per AS (
  SELECT x.n_pg,
         (1000000 * x.n_pg) // pp.n_p AS prec_micro,
         (1000000 * x.n_pg) // gg.n_g AS rec_micro
  FROM b3_pg x JOIN b3_p pp ON x.p = pp.p JOIN b3_g gg ON x.g = gg.g
),
b3_tot AS (
  SELECT sum(n_pg)::BIGINT AS n_records,
         sum(prec_micro * n_pg)::BIGINT AS ps,
         sum(rec_micro * n_pg)::BIGINT AS rs
  FROM b3_per
)
SELECT n_records,
       (ps // n_records)::BIGINT AS bcubed_precision_micro,
       (rs // n_records)::BIGINT AS bcubed_recall_micro,
       (CASE WHEN ps // n_records + rs // n_records > 0 THEN
          (2 * (ps // n_records) * (rs // n_records)) //
          ((ps // n_records) + (rs // n_records)) ELSE 0 END)::BIGINT
         AS bcubed_f1_micro
FROM b3_tot
"""
