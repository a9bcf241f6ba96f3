"""Deterministic synthetic fixtures (FIXTURES.md F1-F4, seed=42).

Mirrors the reference's bundled test inputs (data/Lund-Autophagy-1_articles.json,
dictionaries/*.txt, results/sample_output/) recast to the input_hint
`pages` shape. The generator is its own oracle: dictionary terms are
planted at known offsets and the expected mention set is computed by an
INDEPENDENT brute-force token-subsequence scan (not the engine's trie),
so golden tests genuinely cross-validate the engine.

Everything derives from `random.Random(seed)` — no wall clock, no
external data. Host skew is built in (Zipf-ish over 50 hosts) so the
skew-handling paths have something to chew on.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

import pandas as pd

from easyner_spark.functions.text import TOKEN_RE, split_sentences_py

# Filler vocabulary — deliberately disjoint from dictionary-term tokens,
# except `discovery`/`covert` which CONTAIN term tokens as substrings
# (pins token-boundary semantics: "cov" must not match inside them).
FILLER = """
study result patient sample method protein level cell growth factor
signal pathway response treatment effect expression analysis model
group data test control tissue function role mechanism activity
increase decrease binding receptor complex process system clinical
discovery covert observed measured reported significant novel
""".split()

# Dictionary terms (FIXTURES.md F2): unigrams, bigrams, trigrams,
# nested terms ("cov" vs "2019 cov" vs "2019 cov disease"), hyphenated.
TERMS: list[tuple[str, str]] = [
    ("mtor", "gene"),
    ("tsc1", "gene"),
    ("akt1", "gene"),
    ("ulk1 kinase", "gene"),
    ("rapamycin", "chemical"),
    ("chloroquine", "chemical"),
    ("bafilomycin a1", "chemical"),
    ("lithium chloride salt", "chemical"),
    ("cov", "disease"),
    ("2019 cov", "disease"),
    ("2019 cov disease", "disease"),
    ("covid", "disease"),
    ("sars-cov-2", "species"),
    ("autophagy", "disease"),
    ("human", "species"),
    ("mus musculus", "species"),
    ("hela", "cell"),
    ("hek293 line", "cell"),
]

# NEL alias groups (FIXTURES.md F3): KB ids; synonym groups define the
# expected connected components. "cov"-family all -> KB:0003 group;
# `human`/`mus musculus` deliberately ABSENT from the lookup (exercises
# the ''-on-miss path, reference scripts/nel.py:30); `rapamycin` maps to
# TWO ids (one-to-many, scripts/nel.py:26-28).
ALIAS: list[tuple[str, str]] = [
    ("mtor", "KB:0001"),
    ("tsc1", "KB:0002"),
    ("akt1", "KB:0001"),          # synonym of mtor group -> same component
    ("ulk1 kinase", "KB:0007"),
    ("rapamycin", "KB:0004"),
    ("rapamycin", "KB:0104"),     # one-to-many
    ("chloroquine", "KB:0005"),
    ("bafilomycin a1", "KB:0006"),
    ("lithium chloride salt", "KB:0008"),
    ("cov", "KB:0003"),
    ("2019 cov", "KB:0003"),
    ("2019 cov disease", "KB:0003"),
    ("covid", "KB:0003"),
    ("sars-cov-2", "KB:0009"),
    ("autophagy", "KB:0010"),
    ("hela", "KB:0011"),
    ("hek293 line", "KB:0012"),
]

N_HOSTS = 50
ZIPF_S = 1.2
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _case_variant(term: str, rng: random.Random) -> str:
    r = rng.random()
    if r < 0.6:
        return term
    if r < 0.8:
        return term.upper()
    return term.title()


@dataclass
class Fixture:
    pages: pd.DataFrame
    gold_mentions: pd.DataFrame
    gold_triples: pd.DataFrame
    dict_terms: pd.DataFrame = field(default_factory=lambda: pd.DataFrame(TERMS, columns=["term", "class"]))
    alias_lookup: pd.DataFrame = field(default_factory=lambda: pd.DataFrame(ALIAS, columns=["term", "ID"]))


def brute_force_matches(text: str, terms: list[tuple[str, str]]):
    """Independent oracle matcher: for every term, slide its lowercased
    token tuple over the sentence token stream; O(terms * positions).
    Emits the same contract the engine must produce, sorted (begin, end,
    class)."""
    toks = [(m.group(0).lower(), m.start(), m.end()) for m in TOKEN_RE.finditer(text)]
    out = []
    for term, cls in terms:
        ttoks = [m.group(0) for m in TOKEN_RE.finditer(term.lower())]
        L = len(ttoks)
        for i in range(len(toks) - L + 1):
            if all(toks[i + k][0] == ttoks[k] for k in range(L)):
                b, e = toks[i][1], toks[i + L - 1][2]
                out.append((text[b:e], b, e, i, i + L, cls))
    out.sort(key=lambda r: (r[1], r[2], r[5]))
    return out


def generate(n_docs: int = 500, seed: int = 42, with_gold: bool = True) -> Fixture:
    """`with_gold=False` skips the brute-force oracle pass (gold tables
    come back empty) — used by tools/skew_bench.py to synthesize large pages
    corpora quickly; correctness fixtures always use the default."""
    rng = random.Random(seed)
    host_w = [1.0 / (i + 1) ** ZIPF_S for i in range(N_HOSTS)]

    pages_rows, gm_rows, gt_rows = [], [], []
    primary_id = {}
    for term, _ in TERMS:
        ids = sorted(i for t, i in ALIAS if t == term)
        primary_id[term] = ids[0] if ids else ""

    for i in range(n_docs):
        host = f"h{rng.choices(range(N_HOSTS), weights=host_w)[0]:02d}.example.org"
        url = f"https://{host}/doc/{i}"
        lang = "en" if rng.random() < 0.9 else rng.choice(["de", "fr", "sv", "es"])
        n_sents = rng.randint(3, 12)
        sent_texts = []
        doc_mentions = []  # (sent_idx, surface, b, e, bt, et, cls)
        for _s in range(n_sents):
            toks = rng.choices(FILLER, k=rng.randint(4, 10))
            n_ins = rng.choices([0, 1, 2, 3], weights=[2, 4, 3, 1])[0]
            for _k in range(n_ins):
                term = rng.choice(TERMS)[0]
                pos = rng.randint(0, len(toks))
                toks.insert(pos, _case_variant(term, rng))
            if rng.random() < 0.05:
                toks.insert(rng.randint(0, len(toks)), "αβ-变量")
            if rng.random() < 0.1:
                toks.insert(rng.randint(0, len(toks)), "alpha-beta(x)")
            sent = " ".join(toks) + rng.choices([".", "!", "?"], weights=[8, 1, 1])[0]
            sent_texts.append(sent)

        # raw doc text: sentences joined by spaces, occasional newlines
        # (exercises the \n+ -> ' ' normalization contract).
        sep = "\n\n" if rng.random() < 0.15 else " "
        text = sep.join(sent_texts)

        # gold is computed on the POST-normalization sentences (the
        # engine's sentence table), by the independent matcher; only for
        # lang='en' docs — the pipeline's default language filter (P2
        # analog) drops the rest before splitting.
        sents_for_gold = (
            split_sentences_py(text) if (with_gold and lang == "en") else []
        )
        for sent_idx, sent in enumerate(sents_for_gold):
            matches = brute_force_matches(sent, TERMS)
            for surface, b, e, bt, et, cls in matches:
                gm_rows.append((url, sent_idx, surface, surface.lower(), b, e, bt, et, cls))
                doc_mentions.append((sent_idx, surface.lower(), b, e))
            # triples: ordered co-occurrence pairs over canonicalized
            # DISTINCT primary ids, span order, i<j (SURVEY section 7.0.4)
            ids_in_order = []
            for surface, b, e, bt, et, cls in matches:
                pid = primary_id.get(surface.lower(), "")
                if pid and pid not in ids_in_order:
                    ids_in_order.append(pid)
            for a in range(len(ids_in_order)):
                for bb in range(a + 1, len(ids_in_order)):
                    gt_rows.append((url, sent_idx, ids_in_order[a], "co_occurs_with", ids_in_order[bb]))

        title = " ".join(rng.choices(FILLER, k=4)).title()
        html = (
            f"<html><head><title>{title}</title></head><body><p>{text}</p>"
            f"<nav>home | about | subscribe</nav>"
            f"<script>var x=1;</script></body></html>"
        ).encode("utf-8")
        warc_ts = EPOCH + dt.timedelta(seconds=97 * i)
        pages_rows.append((url, warc_ts, html, text, lang))

    pages = pd.DataFrame(pages_rows, columns=["url", "warc_ts", "html", "text", "lang"])
    gold_mentions = pd.DataFrame(
        gm_rows,
        columns=["url", "sent_idx", "mention", "mention_lc", "begin", "end", "begin_tok", "end_tok", "class"],
    )
    gold_triples = pd.DataFrame(
        gt_rows, columns=["url", "sent_idx", "subj_id", "pred", "obj_id"]
    )
    return Fixture(pages=pages, gold_mentions=gold_mentions, gold_triples=gold_triples)
