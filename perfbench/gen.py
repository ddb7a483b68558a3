"""Seeded input generators for the benchmark.

Everything here is the benchmark's own code: the program under test only
ever sees the parquet files written by these functions, so a change to the
program cannot change the benchmark's inputs. The binary layout payload
format (magic, little-endian page/line records) is re-encoded here from its
documented wire format rather than imported.

Per seed the *shape* of every table is fixed (row counts, class counts,
file and row-group layout); only content, order and sizes within a class
vary, so the work per repetition is close to constant across seeds.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import html as htmlmod
import os
import random
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAYOUT_MAGIC = b"PLAYOUT1"

# ---------------------------------------------------------------- sizes
N_PAGES = 3_000           # pages per crawl snapshot
PAGE_FILES = 8            # >= 2 x cores on a 4-core host, like a crawl dump
N_DOCS = 600              # documents table rows (one file, one row group)
NEW_FRAC = 0.10           # extract_incremental: share of urls not yet done
PRIOR_EXTRA = 1_000       # done-table urls that left the new snapshot

# class mix of the pages table (FIXTURES.md §1), as exact counts per table
GIANT_FRAC = 0.006
CORRUPT_FRAC = 0.04
GIANT_PAGES = (320, 400)  # ~0.6% of docs carry ~40% of the bytes
_MIX = (("clean", 4), ("linkheavy", 2), ("native", 2), ("layout", 2))

_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
_LANGS = np.array(["vi", "en", "ja", "de"])
_LANG_P = np.array([0.4, 0.4, 0.1, 0.1])

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
])

_FUNCTION_WORDS = (
    "the of and to in a is that for it with as on at by an be or from this "
    "are was not but have which all their more also into than only over new "
    "after first two most other some such time these when then very about"
).split()
_CONTENT_WORDS = (
    "table scan join filter sort merge hash group window order key value row "
    "column data query batch stream vector part line page text word document "
    "content index search result item list river stone bridge field garden "
    "market harbor village winter summer morning evening signal engine "
    "station letter museum forest island valley library theater kitchen"
).split()


def _vocabulary() -> tuple[np.ndarray, np.ndarray]:
    """Fixed (seed-independent) vocabulary with Zipf-like weights:
    function words head the distribution, then real content words, then
    ~3000 pronounceable pseudo-words."""
    r = np.random.default_rng(20251017)
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    pseudo: list[str] = []
    seen = set(_FUNCTION_WORDS) | set(_CONTENT_WORDS)
    while len(pseudo) < 3000:
        w = "".join(r.choice(cons) + r.choice(vows)
                    for _ in range(int(r.integers(2, 4))))
        if w not in seen:
            seen.add(w)
            pseudo.append(w)
    words = np.array(_FUNCTION_WORDS + _CONTENT_WORDS + pseudo, dtype=object)
    weights = 1.0 / np.arange(1, len(words) + 1) ** 1.05
    return words, weights / weights.sum()


_WORDS, _WEIGHTS = _vocabulary()




def _lut(weights: np.ndarray) -> np.ndarray:
    """Inverse-CDF lookup table: one uint16 draw per word, no search."""
    cdf = np.cumsum(weights / weights.sum())
    return np.minimum(np.searchsorted(cdf, (np.arange(1 << 16) + 0.5) / (1 << 16)),
                      len(_WORDS) - 1)


#: web pages: Zipf-distributed words, like real text
ZIPF = _lut(_WEIGHTS)
#: corpus documents: function words at 20%, content words uniform, so
#: 3-gram shingles are shared only where the generator plants sharing
FLAT = _lut(np.where(np.arange(len(_WORDS)) < len(_FUNCTION_WORDS),
                     0.2 / len(_FUNCTION_WORDS),
                     0.8 / (len(_WORDS) - len(_FUNCTION_WORDS))))


class _Words:
    """Bulk word sampler: draws Zipf word indices in blocks and hands out
    list slices; ``rand`` is a scalar PRNG for lengths and counts (numpy's
    per-call overhead dominates at one draw per call)."""

    def __init__(self, rng: np.random.Generator, lut: np.ndarray = ZIPF):
        self._rng = rng
        self._lut = lut
        self.rand = random.Random(int(rng.integers(1 << 62)))
        self._buf: list = []
        self._pos = 0

    def take(self, n: int) -> list:
        if self._pos + n > len(self._buf):
            u = self._rng.integers(0, 1 << 16, size=max(n, 1 << 20))
            self._buf = _WORDS[self._lut[u]].tolist()
            self._pos = 0
        self._pos += n
        return self._buf[self._pos - n:self._pos]

    def sentence(self, lo: int, hi: int) -> str:
        return " ".join(self.take(lo + int(self.rand.random() * (hi - lo + 1))))


# ---------------------------------------------------------------- pages
def _clean_html(w: _Words) -> str:
    paras = "".join(f"<p>{htmlmod.escape(w.sentence(15, 40))}</p>"
                    for _ in range(w.rand.randint(20, 60)))
    nav = "".join(f'<a href="/{x}">{x}</a> ' for x in w.take(4))
    side = "".join(f'<aside><a href="/t{j}">{w.sentence(3, 3)}</a></aside>'
                   for j in range(6))
    return ("<html><head><title>t</title></head><body>"
            f"<nav>{nav}</nav>{side}<article><h1>{htmlmod.escape(w.sentence(4, 4))}"
            f"</h1>{paras}</article><footer>copyright {w.rand.randint(1999, 2025)}"
            " example corp</footer></body></html>")


def _linkheavy_html(w: _Words) -> str:
    blocks = "".join(
        "<div>" + "".join(f'<a href="/x{j}">{w.sentence(5, 5)}</a> '
                          for j in range(w.rand.randint(4, 8)))
        + f"{w.take(1)[0]}</div>"
        for _ in range(w.rand.randint(15, 40)))
    real = "".join(f"<p>{htmlmod.escape(w.sentence(10, 30))}</p>"
                   for _ in range(w.rand.randint(5, 15)))
    return f"<html><body><nav>{' '.join(w.take(4))}</nav>{blocks}<article>{real}</article></body></html>"


def _native_text(w: _Words) -> str:
    # Zipf draws put the function words (the gate's dictionary) at the
    # head, so the native-text gate passes
    s = " ".join(w.take(40))
    while len(s) < 160:
        s += " the " + w.take(1)[0]
    return s


_FFH = struct.Struct("<ffH")
_H = struct.Struct("<H")


def _layout_payload(w: _Words, r: np.random.Generator, n_pages: int) -> bytes:
    n_lines = r.integers(25, 51, size=n_pages)
    lens = r.integers(6, 13, size=int(n_lines.sum()))
    # one join + split builds every line of the document at once
    words = w.take(int(lens.sum()))
    ends = np.cumsum(lens) - 1
    for e in ends[:-1]:
        words[e] += "\n"
    lines = " ".join(words).replace("\n ", "\n").split("\n")
    out = [LAYOUT_MAGIC, _H.pack(n_pages)]
    k = 0
    for nl in n_lines:
        ys = r.permutation(int(nl)) * 12.0  # lines arrive out of order
        xs = r.integers(0, 601, size=int(nl))
        out.append(_H.pack(int(nl)))
        for x, y in zip(xs.tolist(), ys.tolist()):
            raw = lines[k].encode("utf-8")
            k += 1
            out.append(_FFH.pack(x, y, len(raw)))
            out.append(raw)
    return b"".join(out)


def page_classes(n: int) -> list[tuple[str, int]]:
    """Exact class counts for an n-row pages table."""
    n_giant = max(1, round(n * GIANT_FRAC))
    n_corrupt = max(3, round(n * CORRUPT_FRAC))
    rest = n - n_giant - n_corrupt
    tot = sum(k for _, k in _MIX)
    counts = [(c, rest * k // tot) for c, k in _MIX]
    counts[0] = ("clean", counts[0][1] + rest - sum(k for _, k in counts))
    return counts + [("giant", n_giant), ("corrupt", n_corrupt)]


def gen_pages(seed: int, n: int = N_PAGES) -> tuple[pa.Table, list]:
    """(pages table, per-row class labels). Class order is a seeded
    permutation of exact counts; corrupt rows rotate over NULL html,
    invalid UTF-8 and truncated layout payloads."""
    r = np.random.default_rng([seed, 1])
    w = _Words(np.random.default_rng([seed, 2]))
    labels = np.array([c for c, k in page_classes(n) for _ in range(k)],
                      dtype=object)
    labels = labels[r.permutation(n)]
    langs = _LANGS[r.choice(4, size=n, p=_LANG_P)]
    site = r.integers(0, 50, size=n)
    urls, tss, htmls, texts = [], [], [], []
    n_corrupt = 0
    for i in range(n):
        c = labels[i]
        urls.append(f"https://site{site[i]}.example/s{seed}/path/{i}")
        tss.append(_EPOCH + dt.timedelta(seconds=i * 137))
        text = None
        if c == "clean":
            html = _clean_html(w).encode()
        elif c == "linkheavy":
            html = _linkheavy_html(w).encode()
        elif c == "native":
            text = _native_text(w)
            html = _clean_html(w).encode()  # present, short-circuited
        elif c == "layout":
            html = _layout_payload(w, r, int(r.integers(2, 7)))
        elif c == "giant":
            html = _layout_payload(w, r, int(r.integers(*GIANT_PAGES)))
        else:
            kind = n_corrupt % 3
            n_corrupt += 1
            if kind == 0:
                html = None
            elif kind == 1:
                html = b"\xff\xfe\x00broken" + r.bytes(16)
            else:
                full = _layout_payload(w, r, 3)
                html = full[: len(full) // 2]
        htmls.append(html)
        texts.append(text)
    tbl = pa.Table.from_arrays(
        [pa.array(urls), pa.array(tss, type=pa.timestamp("us", tz="UTC")),
         pa.array(htmls, type=pa.binary()), pa.array(texts, type=pa.string()),
         pa.array(langs.tolist())],
        schema=PAGES_SCHEMA,
    )
    return tbl, list(labels)


def incremental_split(seed: int, labels: list) -> np.ndarray:
    """Boolean mask of NEW urls: exactly NEW_FRAC of every class, so the
    extraction share of a resumed run is the same for every seed."""
    r = np.random.default_rng([seed, 3])
    labels = np.asarray(labels, dtype=object)
    new = np.zeros(len(labels), dtype=bool)
    for c in sorted(set(labels)):
        idx = np.flatnonzero(labels == c)
        k = max(1, round(len(idx) * NEW_FRAC))
        new[r.choice(idx, size=k, replace=False)] = True
    return new


def write_prior(path: str, pages: pa.Table, new_mask: np.ndarray,
                config_fp: str, n_buckets: int, seed: int) -> None:
    """The done-table of the previous snapshot, in the extracted table's
    on-disk layout (run_id=.../warc_bucket=...), holding every url that is
    not new plus PRIOR_EXTRA urls the new snapshot no longer has."""
    r = np.random.default_rng([seed, 4])
    old = pages.filter(pa.array(~new_mask))
    urls = old.column("url").to_pylist() + [
        f"https://gone{k % 50}.example/s{seed}/old/{k}" for k in range(PRIOR_EXTRA)]
    n = len(urls)
    ts = old.column("warc_ts").to_pylist() + [
        _EPOCH - dt.timedelta(seconds=k * 61) for k in range(PRIOR_EXTRA)]
    w = _Words(r)
    texts = [w.sentence(40, 120) for _ in range(n)]
    bucket = r.integers(0, n_buckets, size=n)
    tbl = pa.table({
        "url": urls,
        "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "lang": _LANGS[r.choice(4, size=n, p=_LANG_P)].tolist(),
        "extracted_text": texts,
        "method": ["html_extract"] * n,
        "error": pa.nulls(n, pa.string()),
        "config_fp": [config_fp] * n,
        "invocation_id": [f"prior-{seed}"] * n,
    })
    for b in range(n_buckets):
        part = tbl.filter(pa.array(bucket == b))
        d = os.path.join(path, "run_id=prior", f"warc_bucket={b}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(part, os.path.join(d, "part-00000.parquet"))


# ------------------------------------------------------------ documents
def _shingles(text: str, n: int = 3) -> frozenset:
    ws = text.strip().split(" ")
    if len(ws) < n:
        return frozenset([text.strip()])
    return frozenset(" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1))


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


# near-duplicate variants: share of words replaced, chosen so the true
# 3-gram jaccard lands on either side of 0.5 and of 0.9
_VARIANT_RATES = (0.012, 0.025, 0.09, 0.13)
_BOILERPLATE = [
    "cookies help us deliver our services and by using them you agree to our use of cookies",
    "subscribe to our newsletter for the latest news and offers delivered to your inbox every week",
    "all rights reserved no part of this site may be reproduced without written permission",
    "share this article with your friends on social media and leave a comment below",
]


def gen_documents(seed: int, n: int = N_DOCS) -> tuple[pa.Table, dict]:
    """(documents table, planted structure).

    Layout: 5% short docs the quality gate drops; 4% exact duplicates of
    another doc; 12% near-duplicate variants, two per base doc; 20% of docs
    carry one of four shared boilerplate spans at a 5-word-aligned position
    (span dedup removes all but the first occurrence).
    ``planted`` records the exact-duplicate pairs and every within-cluster
    pair with its exact 3-gram jaccard."""
    r = np.random.default_rng([seed, 5])
    w = _Words(np.random.default_rng([seed, 6]), FLAT)
    n_short = round(n * 0.05)
    n_exact = round(n * 0.04)
    n_var = round(n * 0.12)
    n_fresh = n - n_exact - n_var
    texts: list[str | None] = []
    for i in range(n_fresh):
        if i < n_short:
            texts.append(w.sentence(8, 30))
            continue
        body = w.take(int(r.integers(50, 151)))
        if r.random() < 0.2:
            bp = _BOILERPLATE[int(r.integers(0, len(_BOILERPLATE)))].split()
            at = 5 * int(r.integers(0, len(body) // 5))
            body = body[:at] + bp + body[at:]
        texts.append(" ".join(body))
    bases = r.choice(np.arange(n_short, n_fresh), size=n_var // 2, replace=False)
    clusters: list[list[int]] = [[int(b)] for b in bases]
    variants = []
    for k in range(n_var):
        cl = clusters[k % len(clusters)]
        words = texts[cl[0]].split(" ")
        rate = _VARIANT_RATES[int(r.integers(0, len(_VARIANT_RATES)))]
        pos = r.choice(len(words), size=max(1, round(len(words) * rate)), replace=False)
        for p, repl in zip(pos, w.take(len(pos))):
            words[p] = repl
        variants.append(" ".join(words))
        cl.append(n_fresh + k)
    texts += variants
    exact_src = r.choice(np.arange(n_short, n_fresh), size=n_exact, replace=False)
    texts += [texts[int(s)] for s in exact_src]
    # shuffle doc ids so planted copies are not all at the high ids
    perm = r.permutation(n)  # position -> doc_id
    ids = np.empty(n, dtype=np.int64)
    ids[perm] = np.arange(n)
    langs = _LANGS[r.choice(4, size=n, p=_LANG_P)]
    order = np.argsort(perm)  # rows in doc_id order
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array([texts[j] for j in order], type=pa.string()),
        "lang": pa.array(langs[order].tolist()),
    }, schema=DOCS_SCHEMA)
    exact_pairs = sorted(
        tuple(sorted((int(perm[int(s)]), int(perm[n_fresh + n_var + k]))))
        for k, s in enumerate(exact_src))
    near = {}
    for cl in clusters:
        for x in range(len(cl)):
            for y in range(x + 1, len(cl)):
                a, b = sorted((int(perm[cl[x]]), int(perm[cl[y]])))
                near[(a, b)] = jaccard(texts[cl[x]], texts[cl[y]])
    return tbl, {"exact_pairs": exact_pairs, "near_pairs": near}


# ---------------------------------------------------------------- cache
def _generator_hash() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()[:12]


def cached_dir(cache_root: str, kind: str, seed: int, keep: int = 3) -> tuple[str, bool]:
    """(directory for this kind/seed/generator version, already complete).
    Keeps the ``keep`` most recently used entries per kind."""
    d = os.path.join(cache_root, f"{kind}-{seed}-{_generator_hash()}")
    done = os.path.exists(os.path.join(d, "_COMPLETE"))
    if not done:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        old = sorted(
            (e for e in os.scandir(cache_root)
             if e.name.startswith(kind + "-") and e.path != d),
            key=lambda e: e.stat().st_mtime)
        for e in old[: max(0, len(old) - keep + 1)]:
            shutil.rmtree(e.path, ignore_errors=True)
    os.utime(d)
    return d, done


def mark_complete(d: str) -> None:
    open(os.path.join(d, "_COMPLETE"), "w").close()


def write_pages(d: str, tbl: pa.Table) -> None:
    """PAGE_FILES files, one row group each, like a crawl snapshot."""
    os.makedirs(d, exist_ok=True)
    per = -(-tbl.num_rows // PAGE_FILES)
    for k in range(PAGE_FILES):
        part = tbl.slice(k * per, per)
        pq.write_table(part, os.path.join(d, f"part-{k:05d}.parquet"),
                       row_group_size=max(1, part.num_rows))


def write_documents(d: str, tbl: pa.Table) -> None:
    """One file, one row group: the shipped documents.parquet layout."""
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, "documents.parquet"),
                   row_group_size=tbl.num_rows)
