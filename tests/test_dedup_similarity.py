"""Tests for the curation operators: exact and paragraph dedup, PII
redaction. Expected values are computed by independent plain-Python
implementations (not the engine's column expressions), so these
genuinely cross-validate.
"""

from __future__ import annotations

import hashlib

import pytest

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


class TestExactDedup:
    def test_groups(self, spark, docs_df):
        from easyner_spark.operators.dedup import exact_dedup

        out = {r.doc_id: r for r in exact_dedup(docs_df).collect()}
        assert out[1].canonical_id == 1 and not out[1].is_dup
        assert out[3].canonical_id == 1 and out[3].is_dup
        assert out[2].canonical_id == 2 and not out[2].is_dup
        expected = hashlib.sha256(DOCS[0][1].encode()).hexdigest()
        assert out[1].content_hash == expected

    def test_plan_is_single_shuffle(self, spark, docs_df):
        from easyner_spark.operators.dedup import exact_dedup

        plan = exact_dedup(docs_df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 1


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
