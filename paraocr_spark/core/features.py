"""Per-document feature extraction (training-data pipeline signals).

Computed in the SAME kernel pass as extraction — one scan, one Arrow
round-trip (the reference similarly computes its quality gate inline with
extraction rather than as a second job, utils.py:107-138 called from
parallel.py:295-307). Features are derived from the first FEATURE_CAP chars
of the extracted text: quality signals saturate long before that, and the
cap keeps giant documents O(1) here.

Fields:
    n_chars       total extracted length (uncapped)
    n_tokens      whitespace tokens in the capped prefix
    alpha_ratio   alphabetic char share, 4dp
    stop_ratio    stopword share of tokens, 4dp
    lang_pred     stopword-marker language guess (functions/text.py analog)
    simhash       64-bit near-dup fingerprint (crc32-pair per token, +-1
                  bit votes) — deterministic, mergeable only pre-vote, so
                  it is computed on the capped prefix of the FINAL text
    rolling_hash  Karp-Rabin fingerprint of the token-hash stream

``compute_features`` is the serial oracle; ``compute_features_batch`` is
the kernel, bit-identical to it over any batch.
"""

from __future__ import annotations

import re
import zlib
from itertools import repeat

import numpy as np

FEATURE_CAP = 50_000


def _round4(x: float) -> float:
    """Round half UP at 4dp — matching SQL engines (Spark/DuckDB round),
    not Python's banker's rounding; ratios of small integers hit exact
    halves (e.g. 1/32) where the two modes differ."""
    import math

    return math.floor(x * 10_000 + 0.5) / 10_000

_TOKEN_RE = re.compile(r"[a-z0-9]+")
# the kernel's tokenizer: lower, encode, map every byte outside [a-z0-9]
# to a space and split. Every non-ASCII char encodes to bytes >= 0x80, so
# the maximal runs are exactly _TOKEN_RE's tokens, as bytes — and the
# byte pass is about 2x faster than the regex on crawl text.
_TOKEN_BYTES = bytes(
    i if (97 <= i <= 122 or 48 <= i <= 57) else 32 for i in range(256)
)
# alpha counting: delete every non-[A-Za-z] byte and take the length.
# UTF-8 bytes of non-ASCII chars are all >= 0x80, so they land in the
# delete set and the result length equals the regex-[A-Za-z] char count —
# one memchr-speed C pass, ~3x faster than regex-sub of the complement.
_NON_ALPHA_BYTES = bytes(
    i for i in range(256) if not (65 <= i <= 90 or 97 <= i <= 122)
)

_STOPWORDS = frozenset(
    "the a an and or not of to in on at for with from by as is are was were".split()
)

LANG_MARKERS: dict[str, frozenset] = {
    "en": frozenset("the and of to in is that for it with".split()),
    "de": frozenset("der die das und ist nicht mit ein zu den".split()),
    "es": frozenset("el la los que y un por con las del".split()),
    "fr": frozenset("le les et des une du dans est pour sur".split()),
}
_LANG_ORDER = list(LANG_MARKERS)
# token -> tuple of lang indexes it marks (handles any overlap), so the
# stop/lang scoring is ONE pass over counter.items() instead of five
_MARKER_LANGS: dict[str, tuple] = {}
for _li, _lang in enumerate(_LANG_ORDER):
    for _t in LANG_MARKERS[_lang]:
        _MARKER_LANGS[_t] = _MARKER_LANGS.get(_t, ()) + (_li,)

FEATURE_FIELDS = [
    ("n_chars", "long"),
    ("n_tokens", "long"),
    ("alpha_ratio", "double"),
    ("stop_ratio", "double"),
    ("lang_pred", "string"),
    ("simhash", "long"),
    ("rolling_hash", "long"),
]
FEATURES_DDL = "struct<" + ",".join(f"{n}:{t}" for n, t in FEATURE_FIELDS) + ">"
_ZERO_FEATURES = {"n_chars": 0, "n_tokens": 0, "alpha_ratio": 0.0,
                  "stop_ratio": 0.0, "lang_pred": "und", "simhash": 0,
                  "rolling_hash": 0}

# Karp-Rabin polynomial fingerprint over the token-hash stream:
# rolling_hash = sum(h_i * B^i) mod P — order-sensitive (unlike simhash/md5
# of the normalized text), so block reorderings change it; the standard
# rolling-hash document fingerprint built on the same token hashes.
_RK_P = (1 << 61) - 1
_RK_B = 1_000_003
_RK_POWERS: list[int] = [1]


def _token_hash(token: bytes) -> int:
    """64-bit hash of a token's bytes: two crc32s (plain and
    0xDEADBEEF-seeded)."""
    return (zlib.crc32(token) << 32) | zlib.crc32(token, 0xDEADBEEF)


def _rk_fingerprint_premod(hmods: list) -> int:
    """sum(hm_i * B^i) mod P over PREMODDED token hashes (hm = h % P).

    The mod is taken ONCE at the end: each term is < 2^122, so the
    accumulator stays a 2-3 limb bigint — one final C-level mod instead of
    2n modmuls."""
    import operator

    powers = _RK_POWERS
    while len(powers) < len(hmods):
        powers.append((powers[-1] * _RK_B) % _RK_P)
    return sum(map(operator.mul, hmods, powers)) % _RK_P


def _simhash64_counted(hs: list, counts: list) -> int:
    """SimHash from unique-token hashes + multiplicities. Identical to the
    per-token formulation: votes are linear in token counts."""
    if not hs:
        return 0
    ha = np.fromiter(hs, dtype=np.uint64, count=len(hs))
    ca = np.fromiter(counts, dtype=np.int64, count=len(hs))
    bits = ((ha[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
    votes = ((2 * bits - 1) * ca[:, None]).sum(axis=0)
    out = int(((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
    return out - (1 << 64) if out >= (1 << 63) else out  # to signed int64


def compute_features(text: str | None) -> dict:
    """Serial oracle — must match the vectorized kernel exactly."""
    from collections import Counter

    if text is None:
        return dict(_ZERO_FEATURES)
    cap = text[:FEATURE_CAP]
    lower = cap.lower()
    tokens = _TOKEN_RE.findall(lower)
    n_tok = len(tokens)
    # delete non-alpha BYTES and count what's left — one memchr-speed C
    # pass; equals the [A-Za-z] char count (non-ASCII utf-8 bytes are all
    # >= 0x80, inside the delete set)
    alpha = len(cap.encode("utf-8").translate(None, _NON_ALPHA_BYTES))
    alpha_ratio = _round4(alpha / len(cap)) if cap else 0.0
    if n_tok:
        counter = Counter(tokens)
        # ONE pass over distinct tokens scores stopwords + all languages
        stop = 0
        scores = [0] * len(_LANG_ORDER)
        for t, c in counter.items():
            if t in _STOPWORDS:
                stop += c
            for li in _MARKER_LANGS.get(t, ()):
                scores[li] += c
        stop_ratio = _round4(stop / n_tok)
        best = max(scores)
        lang_pred = "und" if best == 0 else _LANG_ORDER[scores.index(best)]
        hashes = {t: _token_hash(t.encode("utf-8")) for t in counter}
        simhash = _simhash64_counted(list(hashes.values()), list(counter.values()))
        rolling = _rk_fingerprint_premod([hashes[t] % _RK_P for t in tokens])
    else:
        stop_ratio, lang_pred, simhash, rolling = 0.0, "und", 0, 0
    return {
        "n_chars": len(text),
        "n_tokens": n_tok,
        "alpha_ratio": alpha_ratio,
        "stop_ratio": stop_ratio,
        "lang_pred": lang_pred,
        "simhash": simhash,
        "rolling_hash": rolling,
    }


# ---------------------------------------------------------------- kernel

# token bytes -> marker bits: bit 0 stopword, bit 1 + li marks
# _LANG_ORDER[li]
_TOKEN_MARKS: dict[bytes, int] = {}
for _t in _STOPWORDS:
    _TOKEN_MARKS[_t.encode()] = 1
for _t, _ls in _MARKER_LANGS.items():
    _b = _t.encode()
    for _li in _ls:
        _TOKEN_MARKS[_b] = _TOKEN_MARKS.get(_b, 0) | (2 << _li)
# _BYTE_BITS[v, k] = bit k of byte value v: a (docs x 256) histogram of one
# hash byte times this table is the per-doc count of each of its 8 bits
_BYTE_BITS = ((np.arange(256)[:, None] >> np.arange(8)) & 1).astype(np.int64)

# The vocabulary is a per-process cache: ids and per-id arrays never change
# a result, so it is replaced by an empty one (at a batch boundary) once it
# holds this many distinct tokens, bounding a long-lived worker's footprint.
_VOCAB_CAP = 1_000_000


class _TokenVocab(dict):
    """token bytes -> dense id, with per-id arrays of what the kernel
    needs.

    A lookup miss (``__missing__``) assigns the next id and queues the
    token, so ``map(vocab.__getitem__, tokens)`` runs as a C-level loop
    and only first-seen tokens cost Python work. ``sync()`` hashes the
    queued tokens into the per-id arrays, which grow by doubling."""

    def __init__(self):
        super().__init__()
        self._new: list[bytes] = []
        self.hbytes = np.empty((8, 0), np.uint8)  # hash byte j of each id
        self.hmod = np.empty(0, np.uint64)        # hash % _RK_P
        self.marks = np.empty(0, np.uint8)        # _TOKEN_MARKS bits

    def __missing__(self, token: bytes) -> int:
        self._new.append(token)
        i = self[token] = len(self)
        return i

    def sync(self) -> None:
        new = self._new
        if not new:
            return
        n1 = len(self)
        n0 = n1 - len(new)
        if n1 > len(self.hmod):
            cap = max(n1, 2 * len(self.hmod), 4096)
            hbytes = np.empty((8, cap), np.uint8)
            hmod = np.empty(cap, np.uint64)
            marks = np.empty(cap, np.uint8)
            hbytes[:, :n0] = self.hbytes[:, :n0]
            hmod[:n0] = self.hmod[:n0]
            marks[:n0] = self.marks[:n0]
            self.hbytes, self.hmod, self.marks = hbytes, hmod, marks
        h = np.fromiter(map(_token_hash, new), np.uint64, len(new))
        for j in range(8):
            self.hbytes[j, n0:n1] = h >> np.uint64(8 * j)  # keeps the low byte
        self.hmod[n0:n1] = h % np.uint64(_RK_P)
        self.marks[n0:n1] = np.fromiter(
            map(_TOKEN_MARKS.get, new, repeat(0)), np.uint8, len(new))
        new.clear()


_VOCAB = _TokenVocab()
_MODMUL_SLICE = 1 << 16   # token occurrences per _modmul61 call
# numpy mirror of _RK_POWERS (B^i mod P as uint64), grown lazily
_RK_POW_NP = np.array([1], dtype=np.uint64)


def _rk_powers_np(n: int) -> np.ndarray:
    global _RK_POW_NP
    if len(_RK_POW_NP) < n:
        powers = _RK_POWERS
        while len(powers) < n:
            powers.append((powers[-1] * _RK_B) % _RK_P)
        _RK_POW_NP = np.array(powers, dtype=np.uint64)
    return _RK_POW_NP


def _modmul61(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Elementwise (a * b) mod (2^61 - 1) on uint64, exact for a, b < P.

    Schoolbook 31-bit split; 2^61 ≡ 1 (mod P) folds every partial product
    back under 64 bits — the standard Mersenne-prime modmul, vectorized.
    """
    m31 = np.uint64((1 << 31) - 1)
    p = np.uint64(_RK_P)
    a_hi, a_lo = a >> np.uint64(31), a & m31
    b_hi, b_lo = b >> np.uint64(31), b & m31
    hh = a_hi * b_hi                                    # < 2^60
    mid = a_hi * b_lo + a_lo * b_hi                     # < 2^62
    ll = a_lo * b_lo                                    # < 2^62
    # a*b = hh*2^62 + mid*2^31 + ll;  2^62 ≡ 2, mid*2^31 folded via 2^61 ≡ 1
    t = ((hh << np.uint64(1)) + (mid >> np.uint64(30))
         + ((mid & np.uint64((1 << 30) - 1)) << np.uint64(31)) + ll)  # < 2^64
    t = (t & p) + (t >> np.uint64(61))
    t = (t & p) + (t >> np.uint64(61))
    return np.where(t >= p, t - p, t)


def compute_features_batch(texts: list) -> list[dict]:
    """Batch variant used inside the Arrow kernel.

    Per doc, Python only tokenizes (bytes-level, _TOKEN_BYTES), counts
    alpha bytes and maps the tokens to worker-vocabulary ids (a C-level
    dict lookup; the token bytes die with the doc). The rest is one numpy
    pass over the batch's id stream:

      * stop / language scores — bincounts of the per-id marker flags;
      * simhash — per hash byte, a (docs x 256) bincount histogram times
        the 256 x 8 bit table gives each bit's positive votes exactly;
      * rolling_hash — per-occurrence h*B^pos runs through the vectorized
        Mersenne-61 modmul; per-doc sums split into 32-bit halves so
        reduceat never overflows, with one final % P per doc.

    Bit-for-bit equal to [compute_features(t) for t in texts] (the serial
    oracle) — pinned by tests/test_core.py property tests.
    """
    global _VOCAB
    if len(_VOCAB) > _VOCAB_CAP:
        _VOCAB = _TokenVocab()
    vocab = _VOCAB
    lookup = vocab.__getitem__
    out: list = [None] * len(texts)
    live: list[int] = []      # out-index of docs with >= 1 token
    ids_parts: list = []      # per live doc: its token ids, in order

    for i, text in enumerate(texts):
        if text is None:
            out[i] = dict(_ZERO_FEATURES)
            continue
        cap = text[:FEATURE_CAP]
        alpha = len(cap.encode("utf-8").translate(None, _NON_ALPHA_BYTES))
        out[i] = {**_ZERO_FEATURES, "n_chars": len(text),
                  "alpha_ratio": _round4(alpha / len(cap)) if cap else 0.0}
        tokens = cap.lower().encode("utf-8").translate(_TOKEN_BYTES).split()
        if tokens:
            live.append(i)
            ids_parts.append(
                np.fromiter(map(lookup, tokens), np.intp, len(tokens)))
    if not live:
        return out
    vocab.sync()

    n_live = len(live)
    seg = np.fromiter(map(len, ids_parts), np.int64, n_live)
    starts = np.zeros(n_live, dtype=np.int64)
    np.cumsum(seg[:-1], out=starts[1:])
    ids = np.concatenate(ids_parts)
    del ids_parts
    doc = np.repeat(np.arange(n_live, dtype=np.int64), seg)

    # ---- stop / language scores: only marked occurrences contribute
    marks = vocab.marks[ids]
    hit = np.flatnonzero(marks)
    hit_doc, hit_marks = doc[hit], marks[hit]
    scores = np.stack([
        np.bincount(hit_doc, weights=(hit_marks >> b) & 1, minlength=n_live)
        for b in range(1 + len(_LANG_ORDER))
    ], axis=1).astype(np.int64)
    stop = scores[:, 0]
    lang = scores[:, 1:]
    best, best_at = lang.max(axis=1), lang.argmax(axis=1)  # first max wins

    # ---- simhash: bit 8j+k is set iff its positive votes outnumber the
    # negative ones, i.e. 2 * (occurrences with the bit set) > n_tokens
    pos = np.empty((n_live, 64), dtype=np.int64)
    doc256 = doc * 256
    for j in range(8):
        hist = np.bincount(doc256 + vocab.hbytes[j][ids],
                           minlength=256 * n_live)
        pos[:, 8 * j:8 * j + 8] = hist.reshape(n_live, 256) @ _BYTE_BITS
    del doc256
    sigs = np.packbits(2 * pos > seg[:, None], axis=1, bitorder="little")
    sigs = sigs.view("<i8")[:, 0]  # bits 0..63, wrapped to signed int64

    # ---- rolling hash over each doc's token occurrences; the modmul runs
    # in slices because its ~10 full-length temporaries would otherwise set
    # the batch's peak allocation (measured: 114 MB vs 45 MB before it on
    # an 857k-occurrence batch). Per-batch peaks matter at 8+ concurrent
    # workers per host: the munmap/TLB-shootdown wall in BENCH/BASELINE.md
    powers = _rk_powers_np(int(seg.max()))
    terms = np.empty(len(ids), dtype=np.uint64)
    for s in range(0, len(ids), _MODMUL_SLICE):
        e = s + _MODMUL_SLICE
        at = np.arange(s, min(e, len(ids)), dtype=np.int64) - starts[doc[s:e]]
        terms[s:e] = _modmul61(vocab.hmod[ids[s:e]], powers[at])
    del doc
    lo = np.add.reduceat(terms & np.uint64(0xFFFFFFFF), starts)
    hi = np.add.reduceat(terms >> np.uint64(32), starts)

    for i, n_tok, n_stop, top, top_li, sig, h, l in zip(
        live, seg.tolist(), stop.tolist(), best.tolist(), best_at.tolist(),
        sigs.tolist(), hi.tolist(), lo.tolist(),
    ):
        f = out[i]
        f["n_tokens"] = n_tok
        f["stop_ratio"] = _round4(n_stop / n_tok)
        f["lang_pred"] = "und" if top == 0 else _LANG_ORDER[top_li]
        f["simhash"] = sig
        f["rolling_hash"] = ((h << 32) + l) % _RK_P
    return out
