"""The fidelity contract (SURVEY.md section 7.0): normalization,
tokenization and sentence splitting are deterministic and identical
between the JVM-side column expressions and the Python mirrors."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from easyner_spark.functions.text import (
    SENT_SPLIT_JAVA,
    TOKEN_RE,
    normalize_text,
    normalize_text_py,
    split_sentences_py,
    tokenize_with_offsets,
)


def test_normalize_basic():
    assert normalize_text_py("a\nb\n\n\nc ") == "a b c"
    assert normalize_text_py("  x  ") == "x"


def test_tokenizer_boundaries():
    toks = [t for t, _, _ in tokenize_with_offsets("sars-cov-2 covid, (discovery)")]
    assert toks == ["sars", "-", "cov", "-", "2", "covid", ",", "(", "discovery", ")"]


def test_tokenizer_offsets_roundtrip():
    text = "Treatment with RAPAMYCIN (10 nM) reduced mTOR-signal!"
    for tok, b, e in tokenize_with_offsets(text):
        assert text[b:e] == tok


def test_split_sentences_rule():
    assert split_sentences_py("A b. C d! E?  F") == ["A b.", "C d!", "E?", "F"]
    assert split_sentences_py("one\n\ntwo. three.") == ["one two.", "three."]
    # version string must not split (no whitespace after the dot)
    assert split_sentences_py("v1.2 is out. yes") == ["v1.2 is out.", "yes"]


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=200))
def test_normalize_idempotent_and_stable(s):
    import re

    once = normalize_text_py(s)
    assert normalize_text_py(once) == once  # idempotent
    # splitting never loses non-space content relative to normalize
    # (use regex \s+ on both sides — str.split() has a wider whitespace
    # notion than regex \s, e.g. \x1c-\x1f)
    drop_ws = lambda x: re.sub(r"\s+", "", x)
    assert drop_ws("".join(split_sentences_py(s))) == drop_ws(once)


def test_jvm_python_normalize_parity(spark):
    rows = [
        ("a", "x\ny\n\nz"),
        ("b", "  leading and trailing \n "),
        ("c", "unicode αβ-变量 ok.\nnext"),
        ("d", "no newline at all"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {
        r["url"]: r["norm"]
        for r in df.select("url", normalize_text(F.col("text")).alias("norm")).collect()
    }
    for url, text in rows:
        assert got[url] == normalize_text_py(text), url


def test_jvm_python_split_parity(spark):
    texts = [
        "First sentence. Second! Third? fourth",
        "One only",
        "Dots... everywhere. end.",
        "tail space. ",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    jvm = df.select(
        F.filter(
            F.split(normalize_text(F.col("text")), SENT_SPLIT_JAVA),
            lambda s: F.length(s) > 0,
        ).alias("sents")
    ).collect()
    for row, t in zip(jvm, texts):
        assert row["sents"] == split_sentences_py(t), t


def _offsets_reference(text):
    """The tokenizer's offsets as regex match spans: the independent
    reference for the `str.find` walk."""
    return [(m.group(0), m.start(), m.end()) for m in TOKEN_RE.finditer(text)]


# whitespace the walk must skip (tab, NBSP, U+3000, em space), repeated
# tokens, punctuation runs, and text whose lower() changes length (İ)
# or depends on context (final sigma)
OFFSET_TEXTS = [
    "",
    "   ",
    "a\tb\t\tc",
    "x y   z",
    "全　角　　字",
    "cov cov cov",
    "covcov cov-cov",
    "!!?..,;",
    "a--b  ((c)) ...!",
    "İstanbul İİ i̇",
    "STRAẞE ẞ ß",
    "ΟΔΟΣ Σ ΣΑΣ σς",
    "\t\n x   y ",
]


def test_tokenize_with_offsets_battery():
    for text in OFFSET_TEXTS:
        assert tokenize_with_offsets(text) == _offsets_reference(text), text


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=80))
def test_tokenize_with_offsets_matches_finditer(s):
    assert tokenize_with_offsets(s) == _offsets_reference(s)


def test_dict_ner_spans_slice_the_sentence(spark):
    """Every mention is the cased slice its span names, and mention_lc
    is that slice's lower(), on text whose lowercase has another
    length; the hits are every token-aligned term match."""
    from easyner_spark.operators.ner_dict import dict_ner

    terms = [
        ("cov", "V"), ("cov cov", "V"), ("straße", "S"), ("ß", "S"),
        ("οδος", "G"), ("σ", "G"), ("y", "L"), ("角", "H"), ("c", "L"),
        ("İİ", "T"), ("b", "L"),
    ]
    sents = spark.createDataFrame(
        [("u", i, t) for i, t in enumerate(OFFSET_TEXTS)],
        "url string, sent_idx int, sentence string",
    )
    rows = dict_ner(sents, terms).collect()
    keys = {}
    for term, cls in terms:
        keys.setdefault(" ".join(TOKEN_RE.findall(term.lower())), []).append(cls)
    want = set()
    for i, text in enumerate(OFFSET_TEXTS):
        spans = _offsets_reference(text)
        low = [tok.lower() for tok, _, _ in spans]
        for b in range(len(spans)):
            for e in range(b + 1, len(spans) + 1):
                for cls in keys.get(" ".join(low[b:e]), []):
                    want.add((i, b, e, spans[b][1], spans[e - 1][2], cls))
    assert want, "the battery must produce hits"
    got = set()
    for r in rows:
        text = OFFSET_TEXTS[r["sent_idx"]]
        assert r["mention"] == text[r["begin"]:r["end"]], r
        assert r["mention_lc"] == r["mention"].lower(), r
        got.add((r["sent_idx"], r["begin_tok"], r["end_tok"], r["begin"], r["end"], r["class"]))
    assert got == want
