"""Deduplication operators of the shipped jobs: the kg job's exact
content-hash gate and the curate job's corpus-wide paragraph dedup.

The reference dedups only by document key (last-wins dict merge,
scripts/util.py:15; scripts/downloader.py:68-79 — our exact_dedup's
degenerate case). A web-crawl pipeline needs content dedup too:

  - exact_dedup: sha256(text) window. The hash key is uniform, so the
    shuffle has NO skew by construction.
  - paragraph_dedup: CCNet-style first-occurrence paragraph dedup,
    one algebraic aggregate on the paragraph digest.

Determinism contract: every hash is sha2 of an explicit string -- no
seeds, no Math.random -- so the DuckDB oracle reproduces results
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _content_hash(text_col: str) -> Column:
    """The engine-wide content-hash contract: sha256 over the utf-8
    bytes. Every dedup path and every DuckDB oracle (sha256(text))
    must share this exact expression — edit here only."""
    return F.sha2(F.col(text_col).cast("binary"), 256)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """`docs` plus (content_hash, canonical_id, is_dup): canonical = min
    id per sha256(text) group. One shuffle on the uniform hash key, and
    the input columns ride along, so a gate is `where(~is_dup)` on this
    output with no join back (which would compute `docs` twice)."""
    w = Window.partitionBy("content_hash")
    return (
        docs.withColumn("content_hash", _content_hash(text_col))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_id"))
    )


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
