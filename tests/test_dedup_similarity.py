"""Tests for the training-data operators: dedup family, text
analysis, PII redaction. Expected values are computed by independent
plain-Python implementations (not the engine's column expressions), so
these genuinely cross-validate.
"""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

WORD_RE = re.compile(r"\w+")

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "quick brown fox jumps over the lazy dog near the river bank"),  # near-dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (4, "completely different content about spark shuffles and partitions"),
    (5, "der hund und die katze sind nicht auf der strasse"),
    (6, "short"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def py_shingles(text: str, k: int = 3) -> list[str]:
    toks = WORD_RE.findall(text.lower())
    if len(toks) < k:
        return sorted({" ".join(toks)})
    return sorted({" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)})


def py_minhash(sh: list[str], n: int = 12) -> list[str]:
    return [
        min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in sh) for i in range(n)
    ]


class TestExactDedup:
    def test_groups(self, spark, docs_df):
        from easyner_spark.operators.dedup import exact_dedup, exact_dup_groups

        out = {r.doc_id: r for r in exact_dedup(docs_df).collect()}
        assert out[1].canonical_id == 1 and not out[1].is_dup
        assert out[3].canonical_id == 1 and out[3].is_dup
        assert out[2].canonical_id == 2 and not out[2].is_dup
        expected = hashlib.sha256(DOCS[0][1].encode()).hexdigest()
        assert out[1].content_hash == expected

        groups = exact_dup_groups(docs_df).collect()
        assert len(groups) == 1
        assert groups[0].canonical_id == 1 and groups[0].dup_count == 2

    def test_plan_is_single_shuffle(self, spark, docs_df):
        from easyner_spark.operators.dedup import exact_dup_groups

        plan = exact_dup_groups(docs_df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 1


class TestMinhash:
    def test_signature_matches_python(self, spark, docs_df):
        from easyner_spark.operators.dedup import minhash_signature, shingle_set

        rows = docs_df.select(
            "doc_id", shingle_set().alias("sh"), minhash_signature().alias("sig")
        ).collect()
        for r in rows:
            text = dict(DOCS)[r.doc_id]
            assert list(r.sh) == py_shingles(text), r.doc_id
            assert list(r.sig) == py_minhash(py_shingles(text)), r.doc_id

    def test_lsh_finds_near_and_exact_dups(self, spark, docs_df):
        from easyner_spark.operators.dedup import minhash_lsh_pairs

        pairs = {(r.a, r.b): r.est_jaccard for r in minhash_lsh_pairs(docs_df).collect()}
        assert pairs[(1, 3)] == 1.0          # exact dup: all components equal
        assert (1, 2) in pairs               # near dup: banded together
        assert pairs[(1, 2)] > 0.5
        assert (1, 4) not in pairs           # unrelated docs never collide

    def test_xxhash_variant_recovers_same_dups(self, spark, docs_df):
        """hash_fn='xxhash64' (the 2x-faster bench knob) finds the same
        near/exact duplicate pairs as the oracle-portable md5 path on
        the fixture corpus, with estimator values within MinHash noise
        (different hash family -> different component collisions)."""
        from easyner_spark.operators.dedup import minhash_lsh_pairs

        md5_pairs = {
            (r.a, r.b): r.est_jaccard for r in minhash_lsh_pairs(docs_df).collect()
        }
        xx_pairs = {
            (r.a, r.b): r.est_jaccard
            for r in minhash_lsh_pairs(docs_df, hash_fn="xxhash64").collect()
        }
        strong = {p for p, j in md5_pairs.items() if j >= 0.5}
        assert strong and strong <= set(xx_pairs)
        for p in strong:
            assert abs(md5_pairs[p] - xx_pairs[p]) <= 0.35

    def test_bucket_cap_drops_giant_buckets(self, spark):
        from easyner_spark.operators.dedup import minhash_lsh_pairs

        same = spark.createDataFrame(
            [(i, "identical boilerplate page text here repeated") for i in range(10)],
            "doc_id long, text string",
        )
        capped = minhash_lsh_pairs(same, max_bucket_size=5)
        assert capped.count() == 0  # all buckets exceed the cap -> dropped

    def test_ngram_jaccard_exact(self, spark, docs_df):
        from easyner_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

        jac = {
            (r.a, r.b): r.jaccard
            for r in ngram_jaccard_pairs(docs_df, minhash_lsh_pairs(docs_df)).collect()
        }
        a, b = set(py_shingles(DOCS[0][1])), set(py_shingles(DOCS[1][1]))
        expected = round(len(a & b) / len(a | b), 6)
        assert jac[(1, 2)] == expected
        assert jac[(1, 3)] == 1.0


class TestSimhash:
    def test_simhash_matches_python(self, spark, docs_df):
        from easyner_spark.operators.dedup import simhash

        def py_simhash(text: str, bits: int = 32) -> int:
            counts: dict[str, int] = {}
            for w in WORD_RE.findall(text.lower()):
                counts[w] = counts.get(w, 0) + 1
            sums = [0] * bits
            for w, c in counts.items():
                h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
                for b in range(bits):
                    sums[b] += c if (h >> b) & 1 else -c
            return sum(1 << b for b in range(bits) if sums[b] > 0)

        out = {r.id: r.simhash for r in simhash(docs_df).collect()}
        for doc_id, text in DOCS:
            assert out[doc_id] == py_simhash(text), doc_id

    def test_pairs_hamming(self, spark, docs_df):
        from easyner_spark.operators.dedup import simhash_pairs

        pairs = {(r.a, r.b): r.hamming for r in simhash_pairs(docs_df).collect()}
        assert pairs[(1, 3)] == 0            # identical docs -> distance 0
        assert all(h <= 3 for h in pairs.values())


class TestTextStats:
    def test_counts_and_ratios(self, spark, docs_df):
        from easyner_spark.operators.textstats import text_stats

        out = {r.doc_id: r for r in text_stats(docs_df).collect()}
        text = DOCS[0][1]
        words = WORD_RE.findall(text.lower())
        assert out[1].n_words == len(words)
        assert out[1].n_chars == len(text)
        assert out[1].n_tokens_ws == len(text.split())
        n_alpha = sum(c.isalpha() for c in text)
        assert out[1].alpha_ratio == round(n_alpha / len(text), 6)
        stops = {"the", "and", "of", "to", "in", "is", "that", "with", "for", "was"}
        n_stop = sum(w in stops for w in words)
        assert out[1].stopword_ratio == round(n_stop / len(words), 6)
        assert out[1].mean_word_len == round(
            sum(len(w) for w in words) / len(words), 6
        )

    def test_lang_id(self, spark, docs_df):
        from easyner_spark.operators.textstats import lang_id

        out = {r.doc_id: r.lang_pred for r in lang_id(docs_df).collect()}
        assert out[1] == "en"
        assert out[5] == "de"
        assert out[6] == "und"

    def test_lang_id_cjk(self, spark):
        from easyner_spark.operators.textstats import lang_id

        df = spark.createDataFrame([(1, "这是 一个 测试 文档")], "doc_id long, text string")
        assert lang_id(df).collect()[0].lang_pred == "zh"

    def test_fingerprint_content_defined(self, spark):
        from easyner_spark.operators.textstats import fingerprint

        df = spark.createDataFrame(
            [(1, "shared content body"), (2, "shared content body"), (3, "other")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.fingerprint for r in fingerprint(df).collect()}
        assert out[1] == out[2] != out[3]
        # short text: whole-string md5
        assert out[3] == hashlib.md5(b"other").hexdigest()

    def test_stats_plan_has_no_shuffle(self, spark, docs_df):
        from easyner_spark.operators.textstats import text_stats

        plan = text_stats(docs_df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestParagraphDedup:
    """paragraph_dedup vs a plain-Python first-occurrence reference."""

    PDOCS = [
        (1, "alpha beta\nsubscribe now\ngamma delta"),
        (2, "epsilon zeta\nsubscribe now\nalpha beta"),   # both paras dup'd/kept mix
        (3, "subscribe now\nalpha beta"),                 # all paras seen before
        (4, "unique tail paragraph"),
        (5, ""),                                          # single empty para
        (6, "x\n\ny"),                                    # empty middle para
        (7, "\nz"),                                       # empty first para (dup of 5's)
    ]

    @staticmethod
    def py_expected(docs, min_chars=0):
        seen = {}
        rows = {}
        for did, text in docs:
            paras = text.split("\n")
            kept = []
            for i, p in enumerate(paras):
                if len(p) < min_chars:
                    kept.append(p)
                    continue
                if p not in seen:
                    seen[p] = (did, i)
                if seen[p] == (did, i):
                    kept.append(p)
            rows[did] = ("\n".join(kept), len(paras), len(kept))
        return rows

    def _run(self, spark, min_chars):
        from easyner_spark.operators.dedup import paragraph_dedup

        df = spark.createDataFrame(self.PDOCS, "doc_id long, text string")
        out = paragraph_dedup(df, min_para_chars=min_chars).collect()
        got = {r["doc_id"]: (r["text_dedup"], r["n_paras"], r["n_kept"]) for r in out}
        assert got == self.py_expected(self.PDOCS, min_chars)

    def test_first_occurrence_semantics(self, spark):
        self._run(spark, 0)

    def test_min_chars_bypass(self, spark):
        # empty paragraphs bypass dedup: doc 6's '' and doc 7's ''
        # both survive even though doc 5 claimed '' first
        self._run(spark, 1)

    def test_every_doc_survives(self, spark):
        from easyner_spark.operators.dedup import paragraph_dedup

        df = spark.createDataFrame(self.PDOCS, "doc_id long, text string")
        out = paragraph_dedup(df)
        assert out.count() == len(self.PDOCS)
        fully = {r["doc_id"]: r for r in out.collect()}
        # doc 3: every para is a global dup -> empty doc, n_kept 0
        assert fully[3]["text_dedup"] == ""
        assert fully[3]["n_kept"] == 0


class TestNeardupGroups:
    """Fuzzy-dedup composition: LSH pairs -> connected components ->
    min-id keeper. Chain semantics matter: A~B and B~C cost ONE doc,
    not two (pairwise output alone would over-remove)."""

    # 1~2~3 form one transitive near-dup chain (each adjacent pair
    # shares almost all shingles); 4 is unrelated.
    CHAIN = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "gamma delta epsilon zeta eta theta iota kappa"),
        (4, "totally unrelated words about spark adaptive execution plans"),
    ]

    def test_chain_one_group_min_keeper(self, spark):
        from easyner_spark.operators.dedup import neardup_groups

        df = spark.createDataFrame(self.CHAIN, "doc_id long, text string")
        got = {r["id"]: (r["group_id"], r["is_dup"]) for r in
               neardup_groups(df, min_est_jaccard=0.3).collect()}
        assert got[1] == (1, False)
        assert got[2] == (1, True)
        assert got[3][0] in (1, 3)  # 3 may chain through 2 or miss LSH
        assert got[4] == (4, False)
        # every input id appears exactly once
        assert set(got) == {1, 2, 3, 4}

    def test_singletons_when_no_pairs(self, spark):
        from easyner_spark.operators.dedup import neardup_groups

        df = spark.createDataFrame(
            [(10, "one two three four five six"),
             (20, "sieben acht neun zehn elf zwoelf")],
            "doc_id long, text string",
        )
        got = {r["id"]: (r["group_id"], r["is_dup"]) for r in
               neardup_groups(df).collect()}
        assert got == {10: (10, False), 20: (20, False)}


class TestIncrementalDedup:
    """Bloom-prefiltered new-vs-seen novelty: the filter changes cost,
    never values — bloom and exact paths must agree exactly."""

    SEEN = [(i, f"seen document number {i} with stable body text") for i in range(40)]
    # 0-19: exact copies of seen (must drop); 100-104: novel;
    # 200/201: in-batch dup pair (one survivor, min id)
    NEW = (
        [(1000 + i, f"seen document number {i} with stable body text") for i in range(20)]
        + [(100 + i, f"genuinely novel text {i} never crawled before") for i in range(5)]
        + [(200, "same fresh text twice"), (201, "same fresh text twice")]
    )

    def _frames(self, spark):
        seen = spark.createDataFrame(self.SEEN, "doc_id long, text string")
        new = spark.createDataFrame(self.NEW, "doc_id long, text string")
        return new, seen

    def test_bloom_matches_exact_antijoin(self, spark):
        from easyner_spark.operators.dedup import incremental_new_docs

        new, seen = self._frames(spark)
        with_bloom = {(r["id"], r["content_hash"]) for r in
                      incremental_new_docs(new, seen, use_bloom=True).collect()}
        exact = {(r["id"], r["content_hash"]) for r in
                 incremental_new_docs(new, seen, use_bloom=False).collect()}
        assert with_bloom == exact

    def test_values(self, spark):
        from easyner_spark.operators.dedup import incremental_new_docs

        new, seen = self._frames(spark)
        ids = sorted(r["id"] for r in incremental_new_docs(new, seen).collect())
        assert ids == [100, 101, 102, 103, 104, 200]

    def test_tiny_filter_false_positive_path(self, spark):
        # m_bits=64 (one word) makes nearly everything a Bloom hit ->
        # the exact re-check must still produce correct values
        from easyner_spark.operators.dedup import incremental_new_docs

        new, seen = self._frames(spark)
        out = incremental_new_docs(new, seen, m_bits=64, k=2)
        assert sorted(r["id"] for r in out.collect()) == [100, 101, 102, 103, 104, 200]

    def test_bloom_build_no_false_negatives(self, spark):
        # every inserted key must probe all-set against the built words
        from easyner_spark.operators.dedup import (
            BLOOM_K, _bloom_positions, bloom_build,
        )

        keys = spark.createDataFrame(
            [(f"k{i}",) for i in range(200)], "content_hash string"
        )
        m_bits = 1 << 12
        words = {r["word_idx"]: r["word"] for r in
                 bloom_build(keys, m_bits=m_bits).collect()}
        probes = keys.select(
            "content_hash",
            _bloom_positions(F.col("content_hash"), m_bits, BLOOM_K).alias("ps"),
        ).collect()
        for row in probes:
            for p in row["ps"]:
                assert (words.get(p["w"], 0) >> p["b"]) & 1 == 1, row["content_hash"]

    def test_column_order_and_prebuilt_bloom(self, spark):
        from easyner_spark.operators.dedup import (
            bloom_build, incremental_new_docs,
        )

        new, seen = self._frames(spark)
        a = incremental_new_docs(new, seen, use_bloom=True)
        b = incremental_new_docs(new, seen, use_bloom=False)
        assert a.columns == b.columns == ["id", "content_hash"]
        # a caller-persisted filter must reproduce the rebuilt one
        from pyspark.sql import functions as F
        seen_h = seen.select(
            F.sha2(F.col("text").cast("binary"), 256).alias("content_hash")
        )
        pre = bloom_build(seen_h, "content_hash")
        c = incremental_new_docs(new, seen, prebuilt_bloom=pre)
        assert sorted(r["id"] for r in c.collect()) == \
            sorted(r["id"] for r in a.collect())


class TestDecontaminate:
    """Benchmark n-gram overlap: bench-identical docs score 1.0, partial
    overlaps measure leaked grams, disjoint docs score 0."""

    BENCH = [(900, "one two three four five six seven eight nine ten")]
    DOCS = [
        # identical to the bench doc -> every 8-gram hits
        (1, "one two three four five six seven eight nine ten"),
        # shares the bench doc's first 8 words then diverges
        (2, "one two three four five six seven eight zebra yak xylo walrus"),
        # disjoint
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # short doc (<8 words): whole word sequence is the single gram
        (4, "one two three"),
    ]

    def _run(self, spark, **kw):
        from easyner_spark.operators.dedup import decontaminate

        docs = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        bench = spark.createDataFrame(self.BENCH, "doc_id long, text string")
        return {r["id"]: r.asDict() for r in
                decontaminate(docs, bench, n=8, threshold=0.5, **kw).collect()}

    def test_values(self, spark):
        got = self._run(spark)
        # doc 1: 10 words -> 3 distinct 8-grams, all in bench
        assert (got[1]["n_grams"], got[1]["n_hits"]) == (3, 3)
        assert got[1]["overlap_frac"] == 1.0 and got[1]["contaminated"]
        # doc 2: 12 words -> 5 grams, exactly one ("one..eight") in bench
        assert (got[2]["n_grams"], got[2]["n_hits"]) == (5, 1)
        assert got[2]["overlap_frac"] == 0.2 and not got[2]["contaminated"]
        # doc 3: nothing shared
        assert got[3]["n_hits"] == 0 and not got[3]["contaminated"]
        # doc 4: one whole-sequence gram, not a bench 8-gram
        assert (got[4]["n_grams"], got[4]["n_hits"]) == (1, 0)
        # every input doc got a row
        assert set(got) == {1, 2, 3, 4}

    def test_broadcast_off_same_values(self, spark):
        assert self._run(spark) == self._run(spark, broadcast_bench=False)

    def test_scale_plan_shape(self, spark):
        # bench grams broadcast; the corpus side pays ONE hash shuffle
        # (the per-doc rollup) — bench-side distinct is the only other
        # exchange and it is on the small side
        from easyner_spark.operators.dedup import decontaminate

        docs = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        bench = spark.createDataFrame(self.BENCH, "doc_id long, text string")
        df = decontaminate(docs, bench)
        df.collect()
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert plan.count("BroadcastExchange") == 1
        assert plan.count("Exchange hashpartitioning") <= 2


class TestPiiRedact:
    """Sequential email -> IPv4 -> phone scrub; counts are per-stage so
    categories never double-count the same characters."""

    def _run(self, spark, rows):
        from easyner_spark.operators.textstats import pii_redact

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r["id"]: r.asDict() for r in pii_redact(df).collect()}

    def test_each_category(self, spark):
        got = self._run(spark, [
            (1, "write to jane.doe+x@sub.ex-a.org today"),
            (2, "server at 10.0.255.7 answered"),
            (3, "call +46 70-123 45 68 now"),
            (4, "clean text with the number 42"),
        ])
        assert got[1]["n_emails"] == 1 and got[1]["text_redacted"] == \
            "write to <EMAIL> today"
        assert got[2]["n_ips"] == 1 and got[2]["text_redacted"] == \
            "server at <IP> answered"
        assert got[3]["n_phones"] == 1 and got[3]["text_redacted"] == \
            "call <PHONE> now"
        assert got[4] == {"id": 4, "text_redacted": "clean text with the number 42",
                          "n_emails": 0, "n_ips": 0, "n_phones": 0, "has_pii": False}

    def test_sequential_no_double_count(self, spark):
        # the email's digit run disappears before the phone pass;
        # the IP is redacted before the phone pass can see its digits
        got = self._run(spark, [
            (1, "mail a1234567890@x.com plus ip 192.168.100.200 end"),
        ])
        r = got[1]
        assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (1, 1, 0)
        assert r["text_redacted"] == "mail <EMAIL> plus ip <IP> end"
        assert r["has_pii"]

    def test_multiple_matches_one_row(self, spark):
        got = self._run(spark, [(1, "a@b.se then c@d.org then 10.1.1.1 and 10.2.2.2")])
        assert got[1]["n_emails"] == 2 and got[1]["n_ips"] == 2

    def test_zero_shuffle_plan(self, spark):
        from easyner_spark.operators.textstats import pii_redact

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = pii_redact(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
