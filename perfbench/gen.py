"""Seeded input generators for the benchmark workloads.

Every generator is pure Python + NumPy + PyArrow (no Spark), so the
inputs and their expected outputs are fixed by ``(seed, size)`` alone.
Zipf draws go through precomputed cumulative weights and
``np.searchsorted``: per-draw ``random.choices(weights=...)`` over 20k
terms costs minutes at this input size.

``cached`` stores each input set under ``<work>/inputs/<workload>-s<seed>-n<size>``
so a repeated seed skips generation; the expectations ride along in
``expect.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# English filler: includes the Gopher stopwords (the, and, of, ...) so
# the default quality gate keeps real-looking pages.
FILLER = """
the and of to in is that with for was on as by at from it this be are
which an or not have has had were but their they its been more also
study result patient sample method protein level growth factor signal
pathway response treatment effect expression analysis model group data
test control tissue function role mechanism activity increase decrease
binding receptor complex process system clinical observed measured
reported significant novel report market city river garden history
letter window morning evening station bridge village teacher student
library museum season weather mountain island harbor engine lecture
""".split()

N_PART_FILES = 8  # input split count: at least two tasks per core on 4 cores


def _zipf_cum(n: int, s: float) -> np.ndarray:
    return np.cumsum(1.0 / np.arange(1, n + 1) ** s)


def _draw(rng: np.random.Generator, cum: np.ndarray, size: int) -> np.ndarray:
    return np.searchsorted(cum, rng.random(size) * cum[-1], side="right")


def _pseudo_words(n: int, rng: np.random.Generator) -> list[str]:
    """n distinct consonant-vowel pseudo-words, none an English filler word."""
    cons, vows = "bdfgklmnprstvz", "aeiou"
    sylls = [c + v for c in cons for v in vows]
    taken = set(FILLER)
    out: list[str] = []
    for code in rng.permutation(len(sylls) ** 3):
        w = "".join(sylls[(code // len(sylls) ** k) % len(sylls)] for k in range(3))
        if w not in taken:
            taken.add(w)
            out.append(w)
            if len(out) == n:
                return out
    raise ValueError(f"cannot draw {n} pseudo-words")


def _write_parts(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // N_PART_FILES)
    for i in range(N_PART_FILES):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:02d}.parquet")


def row_digest(rows) -> str:
    """Order-independent digest of an iterable of row tuples."""
    acc = 0
    for r in rows:
        h = hashlib.md5("\x1f".join(map(str, r)).encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "little")) % (1 << 64)
    return f"{acc:016x}"


def tree_digest(path: str) -> str:
    """Digest of every file's bytes under `path` (relative names sorted)."""
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# -- kg_wide ------------------------------------------------------------

KG_TERMS = 20_000
KG_IDS = 6_700
KG_ALIAS_SHARE = 0.9


def kg_inputs(out: str, seed: int, n_pages: int) -> dict:
    """pages(url, text, lang) + a 20k-term dictionary + alias TSV.

    Terms are 1-3 pseudo-words, each word unique to its term, so the
    matcher's mentions are exactly the planted ones; term popularity is
    Zipf so hub entities exist. ~5% of pages are German and must be
    dropped by the pipeline's language filter. Returns the expected
    edge table summary (count, total support, row digest) and node
    summary (count, component digest)."""
    rng = np.random.default_rng(seed)
    words = _pseudo_words(KG_TERMS * 3, rng)
    n_tok = rng.integers(1, 4, KG_TERMS)
    terms, w = [], 0
    for k in n_tok:
        terms.append(" ".join(words[w : w + k]))
        w += k
    classes = np.array(["gene", "chemical", "disease", "species", "cell"])[
        rng.integers(0, 5, KG_TERMS)
    ]
    mapped = rng.random(KG_TERMS) < KG_ALIAS_SHARE
    term_id = np.where(
        mapped, np.char.add("E", rng.integers(0, KG_IDS, KG_TERMS).astype(str)), ""
    )
    popularity = rng.permutation(KG_TERMS)  # Zipf rank -> term index
    term_cum = _zipf_cum(KG_TERMS, 1.1)
    filler = np.array(FILLER)

    n_sents = rng.integers(3, 11, n_pages)
    total = int(n_sents.sum())
    sent_len = rng.integers(5, 13, total)
    n_ins = np.searchsorted(np.cumsum([2, 4, 3, 1]) / 10, rng.random(total), side="right")
    fill = iter(filler[rng.integers(0, len(filler), int(sent_len.sum()))].tolist())
    ins_terms = iter(popularity[_draw(rng, term_cum, int(n_ins.sum()))].tolist())
    ins_pos = iter(rng.random(int(n_ins.sum())).tolist())
    title = iter((rng.random(int(n_ins.sum())) < 0.2).tolist())
    german = rng.random(n_pages) < 0.05

    urls, texts, langs = [], [], []
    edges: dict[tuple[str, str], list] = {}
    s = 0
    for p in range(n_pages):
        url = f"https://h{p % 97:02d}.example.org/doc/{p:07d}"
        sents = []
        for _ in range(n_sents[p]):
            toks = [next(fill) for _ in range(sent_len[s])]
            ids: list[str] = []
            slots = sorted((next(ins_pos), next(ins_terms)) for _ in range(n_ins[s]))
            # positions index the filler-only list; inserting right to
            # left keeps the left-to-right slot order as the entity order
            n_fill = len(toks)
            for frac, t in reversed(slots):
                toks.insert(int(frac * (n_fill + 1)), terms[t].title() if next(title) else terms[t])
            for _frac, t in slots:
                if term_id[t] and term_id[t] not in ids:
                    ids.append(term_id[t])
            sents.append(" ".join(toks) + ".")
            if not german[p]:
                for i in range(len(ids)):
                    for j in range(i + 1, len(ids)):
                        e = edges.setdefault((ids[i], ids[j]), [0, None, 0])
                        e[0] += 1
                        if e[1] != url:
                            e[1], e[2] = url, e[2] + 1
            s += 1
        urls.append(url)
        texts.append(" ".join(sents))
        langs.append("de" if german[p] else "en")

    os.makedirs(out, exist_ok=True)
    _write_parts(pa.table({"url": urls, "text": texts, "lang": langs}), f"{out}/pages")
    with open(f"{out}/terms.txt", "w", encoding="utf-8") as f:
        f.writelines(f"{t}\t{c}\n" for t, c in zip(terms, classes))
    with open(f"{out}/alias.tsv", "w", encoding="utf-8") as f:
        f.writelines(f"{t}\t{i}\n" for t, i in zip(terms, term_id) if i)

    comp = _components(edges)
    return {
        "pages": n_pages,
        "edges": len(edges),
        "support": sum(v[0] for v in edges.values()),
        "edges_digest": row_digest(
            (a, "co_occurs_with", b, v[0], v[2]) for (a, b), v in edges.items()
        ),
        "nodes": len(comp),
        "nodes_digest": row_digest(comp.items()),
    }


def _components(edges) -> dict[str, str]:
    """node -> min node id of its connected component (union-find)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


# -- curate_html ----------------------------------------------------------

CURATE_HOSTS = 200
HOST_CAP = 200
STALE_MARK = "obsoletecrawl"


def host_template(h: int) -> str:
    return f"hostmark{h:03d} the shared banner of this site and all of its pages with news for readers."


def curate_inputs(out: str, seed: int, n_urls: int) -> dict:
    """crawl(url, warc_ts, html) with no text column.

    About 25% of urls carry an older recrawl whose paragraphs hold
    STALE_MARK, so recrawl collapse must pick the newest. Every page of
    a host repeats that host's template paragraph; hosts are Zipf over
    200, so the head hosts exceed HOST_CAP. ~5% of pages are too short
    for the default Gopher gate."""
    rng = np.random.default_rng(seed)
    hosts = _draw(rng, _zipf_cum(CURATE_HOSTS, 1.1), n_urls)
    filler = np.array(FILLER)
    base = 1_704_067_200  # 2024-01-01T00:00:00Z, in seconds
    urls, tss, htmls = [], [], []

    def page(h: int, paras: list[str]) -> bytes:
        body = "".join(f"<p>{x}</p>" for x in [host_template(h), *paras])
        return (
            f"<html><head><title>h{h:03d}</title></head><body>"
            f"<nav><a href='/'>home</a> | <a href='/about'>about</a></nav>"
            f"{body}<script>var x=1;</script></body></html>"
        ).encode()

    def paras(n: int, lo: int, hi: int, mark: str | None) -> list[str]:
        out_ = []
        for _ in range(n):
            ws = filler[rng.integers(0, len(filler), int(rng.integers(lo, hi)))].tolist()
            if mark:
                ws.insert(int(rng.integers(0, len(ws))), mark)
            out_.append(" ".join(ws).capitalize() + ".")
        return out_

    for i in range(n_urls):
        h = int(hosts[i])
        url = f"https://h{h:03d}.example.org/p/{i:06d}"
        ts = base + i * 7 + 86_400 * 30
        thin = rng.random() < 0.05
        n = 1 if thin else int(rng.integers(2, 5))
        urls.append(url)
        tss.append(ts)
        htmls.append(page(h, paras(n, 8, 12, None) if thin else paras(n, 15, 31, None)))
        if rng.random() < 0.25:
            urls.append(url)
            tss.append(ts - int(rng.integers(1, 30)) * 86_400)
            htmls.append(page(h, paras(n, 15, 31, STALE_MARK)))

    order = rng.permutation(len(urls))
    table = pa.table(
        {
            "url": pa.array([urls[k] for k in order]),
            "warc_ts": pa.array([tss[k] for k in order], pa.int64()).cast(pa.timestamp("s", tz="UTC")),
            "html": pa.array([htmls[k] for k in order], pa.binary()),
        }
    )
    os.makedirs(out, exist_ok=True)
    _write_parts(table, f"{out}/crawl")
    return {"pages": n_urls, "rows": len(urls)}


def cached(work: str, workload: str, seed: int, size: int, build) -> tuple[str, dict]:
    """Run `build(dir, seed, size)` once per (workload, seed, size);
    later calls return the cached directory and expectations."""
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-n{size}")
    meta = os.path.join(d, "expect.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        expect = build(tmp, seed, size)
        with open(os.path.join(tmp, "expect.json"), "w", encoding="utf-8") as f:
            json.dump(expect, f)
        os.replace(tmp, d)
    with open(meta, encoding="utf-8") as f:
        return d, json.load(f)


def pin(d: str, key: str, value: str) -> str:
    """First value recorded for `key` in input dir `d` (stored on first call)."""
    path = os.path.join(d, f"pin-{key}")
    if not os.path.exists(path):
        with open(path + ".tmp", "w", encoding="utf-8") as f:
            f.write(value)
        os.replace(path + ".tmp", path)
    with open(path, encoding="utf-8") as f:
        return f.read()
