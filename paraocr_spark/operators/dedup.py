"""Deduplication operators for training-data pipelines.

Four families, all shuffle-conscious:

  * exact           — fingerprint groupBy (one shuffle, map-side partial agg)
  * ngram-jaccard   — exact set-similarity; PPJoin prefix-filtered
                       inverted-index join by default (naive full index
                       kept as the small-N test oracle)
  * minhash-LSH     — 64-perm MinHash signatures + banded bucket join +
                       exact-jaccard verification (the web-scale near-dup
                       pipeline: SIGMOD'07 "Detecting Near-Duplicates for
                       Web Crawling" lineage)
  * simhash         — 64-bit SimHash built entirely from relational ops
                       (explode + per-bit partial aggregates); candidates
                       via Manku'07 combination-block keys (~2/3-width
                       block keys, so buckets stay tiny at web scale),
                       exact hamming verify

Candidate generation and signatures are pyspark.sql built-ins, so Catalyst
sees those plans end to end: shuffles are keyed on doc_id or band hashes,
partial aggregation happens map-side, and AQE handles skewed shingle
frequencies. The ONE deliberate exception (round 6) is the ngram verify's
size-gated batch kernel (_make_pair_set_verify): candidate volume there is
the whole bill, and a C-speed set-intersection pass over broadcast hash
sets beat every JVM expression form by ~3x — guide §4.2's
"vectorized native inner loop" case, applied only where measured.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paraocr_spark.functions.text import fingerprint

_P = 2147483647  # 2^31 - 1 (prime); keeps a*h+b < 2^62, no ANSI overflow
_K = 64          # minhash permutations
_BANDS = 16      # 16 bands x 4 rows

_rng = random.Random(20250816)
_A = [_rng.randrange(1, _P) for _ in range(_K)]
_B = [_rng.randrange(0, _P) for _ in range(_K)]


# ------------------------------------------------------------------ exact
def dedup_exact(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup groups: (fingerprint, keeper=min id, n copies).

    One hash-shuffle with map-side combine; fingerprints are md5 of
    normalized text (functions/text.py), the analog of the reference's
    content-addressed cache keys (parallel.py:63-66).
    """
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


# ------------------------------------------------------------- shingling
def with_shingles(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingles): distinct word n-grams; whole text if < n words.

    The split() is materialized as its own projection BEFORE the gram
    lambda: inlined in the transform() closure, Catalyst re-evaluates the
    split per element_at — 3n split() calls per row, measured 2.5x slower
    at sf0.1."""
    d = docs.select(
        F.col(id_col).alias("id"), F.trim(F.col(text_col)).alias("_tt")
    ).withColumn("_ws", F.split(F.col("_tt"), " "))
    gram = F.transform(
        F.sequence(F.lit(0), F.size("_ws") - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_ws"), i + j + 1) for j in range(n)]
        ),
    )
    shingles = F.array_distinct(
        F.when(F.size("_ws") >= n, gram).otherwise(F.array("_tt"))
    )
    return d.select("id", shingles.alias("sh"))


#: fp slack for the length/positional prune comparisons: the true bounds
#: are real-valued inequalities over integers scaled by t, so subtracting
#: 1e-9 can only WEAKEN the filter (keep a few extra candidates) while
#: absorbing double-arithmetic error (~1e-13 at these magnitudes).
_EPS = 1e-9


def _ppjoin_prune(threshold: float, xp: str = "x", yp: str = "y"):
    """Length + positional candidate filters (PPJoin, Xiao et al. WWW'08
    §3) as a boolean Column over two prefix-relation sides with (id, sz,
    pos) columns, referenced by name prefix (``x.sz`` resolves both a
    dataframe alias and a struct column). Both filters are unconditionally
    exact (candidate superset):

    * length: jaccard >= t  =>  t*|y| <= |x| <= |y|/t over STRING set
      sizes (sz is the string shingle-set size — no hashing involved).
    * positional: overlap O >= alpha = t/(1+t)*(sz_x+sz_y); for the FIRST
      common hash h1 (global (df,hs) order) at its minimal positions p1x,
      p1y, every common token sorts at-or-after h1, so
      O <= 1 + min(sz_x - p1x, sz_y - p1y). Filtering each matched row and
      keeping a pair if ANY row passes (exists semantics — callers
      deduplicate pairs downstream) therefore keeps every true pair: if any
      common hash lies in both prefixes then h1 does too (it sorts first),
      and h1's minimal-position row passes the test.
    """
    t = float(threshold)
    xsz, xpos = F.col(f"{xp}.sz"), F.col(f"{xp}.pos")
    ysz, ypos = F.col(f"{yp}.sz"), F.col(f"{yp}.pos")
    len_ok = (
        (xsz.cast("double") >= F.lit(t) * ysz - F.lit(_EPS))
        & (ysz.cast("double") >= F.lit(t) * xsz - F.lit(_EPS))
    )
    ubound = F.lit(1) + F.least(xsz - xpos, ysz - ypos)
    pos_ok = ubound.cast("double") >= (
        F.lit(t / (1.0 + t)) * (xsz + ysz) - F.lit(_EPS)
    )
    return len_ok & pos_ok


def ppjoin_candidates(sh: DataFrame, threshold: float,
                      distinct: bool = True) -> DataFrame:
    """Prefix-filtered candidate pairs (a < b) for a jaccard-threshold join.

    Prefix-filter theorem (PPJoin, Xiao et al. WWW'08): under ANY consistent
    global token order, two sets with jaccard >= t must share a token inside
    each one's first |x| - ceil(t*|x|) + 1 tokens. Ordering is ascending
    document frequency (rarest first), so ubiquitous shingles — the
    quadratic blowup on Zipfian web corpora — sort LAST and mostly fall
    outside every prefix, never entering the inverted index.

    Matched pairs are further pruned by PPJoin's length and positional
    filters (_ppjoin_prune — both exact candidate-superset filters;
    measured at sf1.0/50k docs they cut 52.4M candidates to 18.6M before
    any verification cost is paid).

    NOTHING string-typed ever shuffles: the global order is (df, hs) over
    8-byte shingle hashes. Hashing can only MERGE tokens, which raises the
    hashed-set jaccard, so the hashed prefix filter keeps every true pair
    (candidate superset); equal-hash ties need no string tiebreak — merged
    tokens are interchangeable under the filter. Callers verify with exact
    jaccard over the real shingle sets, so results stay exact.

    ``distinct=False`` skips the pre-verify ``dropDuplicates`` — measured
    candidate multiplicity is only ~1.05 (the filters mostly keep one
    matched token per pair), so verifying duplicates and deduplicating the
    RESULT-sized output is far cheaper than shuffling tens of millions of
    candidate rows just to dedupe them (guide §2.4: remove shuffles).

    Pairs expand by a self-join of the prefix relation on hs, routed
    through ONE explicit hashpartition(hs) Exchange: the quadratic
    in-bucket expansion streams through the sort-merge join, where AQE's
    skew-join can split a hot prefix hash across tasks, and no bucket is
    ever held as one aggregation buffer (a collect_set-per-bucket form
    concentrates a hot hash's whole bucket in one row — an OOM risk on
    skewed corpora).
    """
    exh = sh.select(
        "id", F.size("sh").alias("sz"), F.explode("sh").alias("s")
    ).withColumn("hs", F.xxhash64("s"))
    # shuffle-as-cache for the exploded relation too: freq's groupBy(hs)
    # and the freq join both need hashpartitioning(hs) — the explicit
    # repartition satisfies both distributions, so the 2.6M-row explode is
    # shuffled ONCE (ReusedExchange) instead of once per consumer
    exh = exh.select("id", "sz", "hs").repartition(F.col("hs"))
    freq = exh.groupBy("hs").agg(F.count(F.lit(1)).alias("df"))
    # per-doc prefix via ONE groupBy (sort the doc's tokens by the global
    # (df, hs) order, slice the theorem's prefix length) — no window; the
    # collect_list buffers 16-byte structs, never shingle strings
    plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    prefix = (
        exh.join(freq, "hs")
        .groupBy("id", "sz")
        .agg(F.array_sort(F.collect_list(F.struct("df", "hs"))).alias("toks"))
        .select("id", "sz",
                F.posexplode(F.slice("toks", F.lit(1), plen)).alias("p0", "tok"))
        .select("id", "sz", (F.col("p0") + 1).alias("pos"),
                F.col("tok.hs").alias("hs"))
    )
    prefix = prefix.repartition(F.col("hs"))  # shuffle-as-cache
    x, y = prefix.alias("x"), prefix.alias("y")
    pairs = (
        x.join(y, "hs")
        .where(F.col("x.id") < F.col("y.id"))
        .where(_ppjoin_prune(threshold))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
    )
    return pairs.dropDuplicates(["a", "b"]) if distinct else pairs


def _exact_jaccard(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Attach exact jaccard to candidate (a, b) pairs via the shingle sets."""
    a = sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    j = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return j.select(
        "a", "b",
        F.round(inter.cast("double") / union.cast("double"), 6).alias("jaccard"),
    )


def shingle_stats(sh: DataFrame) -> dict:
    """ONE aggregation job over the exploded shingle table returning
    {n_instances, n_strings, n_hashes}. Two build-time decisions hang off
    it (so the pass is shared, never duplicated):

    * hash injectivity: n_strings == n_hashes iff xxhash64 is injective on
      this corpus' shingle vocabulary — then each doc's hashed shingle
      array is ISOMORPHIC to its string set, and set arithmetic (sizes,
      intersections, jaccard) on the 8-byte hashes is provably identical
      to string-space values, not just probabilistically.
    * verify-side sizing: n_instances * 8 bytes is the EXACT payload of the
      hashed-array verify table — a measured broadcast decision (guide
      §3.1: size estimates after transforms are unreliable; this is not an
      estimate).
    """
    ex = sh.select(F.explode("sh").alias("s"))
    r = ex.agg(
        F.count(F.lit(1)).alias("n_inst"),
        F.countDistinct("s").alias("ns"),
        F.countDistinct(F.xxhash64("s")).alias("nh"),
    ).first()
    return {
        "n_instances": int(r["n_inst"] or 0),
        "n_strings": int(r["ns"] or 0),
        "n_hashes": int(r["nh"] or 0),
    }


#: per-Python-worker cache of {doc_id: frozenset(hashes)}, keyed by the
#: broadcast's id so unrelated corpora (tests, other queries in one
#: session) never mix and stale corpora are evicted. Not by id() of the
#: loaded dict: CPython reuses a freed object's address, so a later
#: corpus' dict can land where an earlier one lived and would silently
#: verify against the earlier corpus' sets. Module
#: level on purpose (guide §4.5): paraocr_spark ships to executors as an
#: importable zip, so a reused Python worker keeps this across ALL tasks of
#: a stage — each doc's set is built once per worker, not once per task
#: (the per-task closure variant re-built ~50k sets x 32 tasks and was
#: measured SLOWER than the JVM join it replaced).
_PAIR_SET_CACHE: dict = {}


def _make_pair_set_verify(bc, tmin: float):
    """mapInPandas fn: keep candidate (a, b) rows whose hashed-set jaccard
    >= tmin, via C-speed frozenset intersections against the broadcast
    id->hash-list dict. Exact under the caller's injectivity probe."""
    import numpy as np
    import pandas as pd

    key = bc._jbroadcast.id()  # driver side: unique per broadcast in the app

    def verify(batches):
        data = bc.value
        cache = _PAIR_SET_CACHE.get(key)
        if cache is None:
            _PAIR_SET_CACHE.clear()  # evict stale corpora, bound memory
            cache = _PAIR_SET_CACHE[key] = {}
        get = cache.get
        for pdf in batches:
            if not len(pdf):
                continue
            keep_a, keep_b = [], []
            for a_, b_ in zip(pdf["a"].to_numpy(), pdf["b"].to_numpy()):
                ai, bi = int(a_), int(b_)
                sa = get(ai)
                if sa is None:
                    sa = cache[ai] = frozenset(data[ai])
                sb = get(bi)
                if sb is None:
                    sb = cache[bi] = frozenset(data[bi])
                inter = len(sa & sb)
                if inter >= tmin * (len(sa) + len(sb) - inter):
                    keep_a.append(ai)
                    keep_b.append(bi)
            yield pd.DataFrame({
                "a": np.asarray(keep_a, dtype=np.int64),
                "b": np.asarray(keep_b, dtype=np.int64),
            })

    return verify


def _verify_hash_prefiltered(pairs: DataFrame, sh: DataFrame,
                             threshold: float,
                             broadcast_hv: bool = False) -> DataFrame:
    """Exact-jaccard verification with a hash-space prefilter (guide §2.3:
    shuffle keys/hashes, not payloads).

    Candidate volume is the whole verify bill (sf1.0: 18.6M candidate pairs
    for a ~10^3-pair result), and the naive verify drags both docs' STRING
    shingle arrays (~1 KB each) through the pair join — tens of GB through
    the second shuffle. Instead:

    1. attach each side's xxhash64(shingle) array (8-byte elements, ~2.4x
       smaller, and array_intersect on longs stays on the primitive
       fast path);
    2. keep pairs whose hash-space jaccard >= threshold - 1e-6 (margin
       covers the 6dp rounding of the final jaccard: round(x,6) >= t
       implies x >= t - 5e-7);
    3. string-verify ONLY the survivors (result-sized) with the unchanged
       _exact_jaccard, which recomputes jaccard over the true string sets —
       so emitted values are bit-identical to the direct path.

    Callers must have proved hash injectivity on this corpus (shingle_stats:
    n_strings == n_hashes): then step 2 is exact, since hashed jaccard ==
    string jaccard. On a collision corpus callers use _exact_jaccard
    directly.

    ``broadcast_hv=True`` (small corpora only) skips the joins entirely:
    the hashed-array table is collected and broadcast as an id->hash-list
    dict and the candidate stream flows through the worker-cached
    set-intersection kernel (_make_pair_set_verify) with only (a, b) rows
    ever materialized. Callers enable it from the MEASURED table size
    (shingle_stats n_instances * 8 bytes — guide §3.1: never from an
    estimate), so the decision scales: a corpus whose hash table outgrows
    the bound keeps the shuffled join + array_intersect path below.
    """
    hv = sh.select("id", F.transform("sh", lambda s: F.xxhash64(s)).alias("hv"))
    if broadcast_hv:
        # hashed-set lookup table fits in memory (measured bytes, see
        # caller): verify pairs in a mapInPandas against a broadcast
        # id->hash-set dict instead of JOINING the arrays onto the pair
        # stream. The join form copies ~2 x set-size x 8 bytes of array
        # per candidate through the join's output rows (tens of GB at 19M
        # pairs); here each doc's set is built ONCE per worker and 19M
        # C-speed set intersections stream through with only (a, b) rows
        # ever materialized (guide §8: decide with small rows; guide §4.2:
        # batch-native inner loop). Same injectivity contract, same
        # threshold margin, same string re-verify — results identical.
        sc = sh.sparkSession.sparkContext
        bc = sc.broadcast({r["id"]: r["hv"] for r in hv.collect()})
        passing = pairs.mapInPandas(
            _make_pair_set_verify(bc, float(threshold) - 1e-6),
            schema="a long, b long",
        )
        return _exact_jaccard(passing, sh)
    a = hv.select(F.col("id").alias("a"), F.col("hv").alias("hv_a"))
    b = hv.select(F.col("id").alias("b"), F.col("hv").alias("hv_b"))
    j = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("hv_a", "hv_b"))
    union = F.size("hv_a") + F.size("hv_b") - inter
    passing = j.where(
        inter.cast("double") / union.cast("double")
        >= F.lit(float(threshold) - 1e-6)
    ).select("a", "b")
    return _exact_jaccard(passing, sh)


from contextlib import contextmanager


@contextmanager
def shingle_cache(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  storage=None):
    """Scoped DISK_ONLY materialization of the shingle table — the
    round-4 A/B winner for multi-consumer dedup plans.

    Measured at sf0.1, local[32] (min of 2): shuffle-as-cache
    ngram 9.94 s / minhash 5.99 s; DISK_ONLY persist 6.61 s / 2.42 s;
    no sharing (recompute) 9.82 s / 4.83 s. The persist computes the
    (expensive) shingle projection once and serves every consumer from
    executor-local disk with NO extra network exchange; DISK_ONLY so a
    100 TB corpus never competes with execution memory.

    The scope is what makes persist safe in long-lived sessions (the r2
    leak: a persist inside a lazy builder is never unpersisted, and
    CacheManager's logical-plan matching silently feeds it to unrelated
    queries): every action on plans built from ``sh`` must run INSIDE the
    ``with`` block — at scale that action is the sink write. On exit the
    storage is always released, even on error.
    """
    from pyspark import StorageLevel

    sh = with_shingles(docs, id_col, text_col, n).persist(
        storage or StorageLevel.DISK_ONLY
    )
    try:
        yield sh
    finally:
        sh.unpersist()


# ------------------------------------------------------ exact n-gram join
def dedup_ngram_jaccard(docs: DataFrame, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, prefix_filter: bool = True,
                        sh: DataFrame | None = None,
                        broadcast_hv_max_bytes: int = 64 << 20) -> DataFrame:
    """EXACT jaccard near-dup pairs via a prefix-filtered inverted-index join
    (PPJoin-style set-similarity join; Xiao et al., WWW'08 — public
    algorithm).

    Two modes, identical results:

    * ``prefix_filter=False``: full inverted-index join; the per-pair match
      count IS the exact intersection, so jaccard falls out of a size join
      with no verification pass. Kept as the small-N test oracle — on
      Zipfian web shingles the index is quadratic in the hottest shingle's
      document frequency, so it must never be the production path.
    * ``prefix_filter=True`` (default): the web-scale mode.
      Prefix-filter theorem: order every doc's shingles by one global total
    order (ascending document frequency, rarest first, ties by value); two
    sets with jaccard >= t MUST share a token inside each one's first
    |x| - ceil(t*|x|) + 1 tokens. So only prefixes are exploded into the
    inverted index — rare tokens generate tiny candidate buckets, and
    ubiquitous shingles (the quadratic blowup at web scale) mostly fall
    outside prefixes. Candidates are then verified with the exact jaccard,
    so results are identical to the naive join, just cheaper.
    """
    # Shared-intermediate strategy: pass ``sh`` from a shingle_cache scope
    # (DISK_ONLY persist, the measured winner — see shingle_cache) when the
    # caller controls the action; the LAZY default below stays
    # shuffle-as-cache — one explicit Exchange whose AQE shuffle-stage
    # reuse evaluates the shingle projection once per action, leak-free in
    # builders whose action the caller runs later (a persist here would
    # never be unpersisted and would cross-feed other queries via
    # CacheManager plan matching — the r2 bug).
    if sh is None:
        sh = with_shingles(docs, id_col, text_col, n).repartition(F.col("id"))

    if prefix_filter:
        # exists-semantics candidates (see ppjoin_candidates): skip the
        # pre-verify dropDuplicates shuffle (multiplicity ~1.05) and dedupe
        # the result-sized verified output instead. Duplicated pairs verify
        # to IDENTICAL rows, so dropDuplicates on (a, b) is deterministic.
        cands = ppjoin_candidates(sh, threshold, distinct=False)
        # hash-space verify prefilter when provably exact (one shared probe
        # job, shingle_stats); string verify of the survivors emits the same
        # 6dp jaccard either way, so results are identical to the direct
        # string path. The probe's measured byte count also decides whether
        # the hashed-array table is small enough to broadcast (guide §3.1),
        # which keeps the candidate stream entirely map-side.
        stats = shingle_stats(sh)
        if stats["n_strings"] == stats["n_hashes"]:
            bcast = stats["n_instances"] * 8 <= broadcast_hv_max_bytes
            verified = _verify_hash_prefiltered(cands, sh, threshold,
                                                broadcast_hv=bcast)
        else:  # a real xxhash64 collision in this corpus' vocabulary
            verified = _exact_jaccard(cands, sh)
        return (
            verified.where(F.col("jaccard") >= threshold)
            .dropDuplicates(["a", "b"])
        )

    # full inverted index: the per-pair match count IS the exact
    # intersection size — jaccard needs only the two set sizes, no
    # array_intersect verification pass
    sizes = sh.select("id", F.size("sh").alias("sz"))
    ex = sh.select("id", F.explode("sh").alias("s"))
    lhs = ex.select(F.col("id").alias("a"), "s")
    rhs = ex.select(F.col("id").alias("b"), "s")
    pairs = (
        lhs.join(rhs, "s")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("id").alias("b"), F.col("sz").alias("szb"))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .select(
            "a", "b",
            F.round(
                F.col("common").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------- minhash
def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(id, m0..m63): 64 permutation-min hashes. h = xxhash64(shingle)
    folded into [0, P); sig_i = min((a_i * h + b_i) mod P).

    Relational form: explode -> 64 partial-min aggregates, map-side
    combine, pure JVM. A numpy batch kernel (JVM hashing, one
    broadcast-multiply + reduceat per Arrow batch) measured slower at
    sf1.0/50k docs — 0.94 s vs 0.83 s — because the Arrow transfer of the
    hash arrays ate the aggregate-buffer saving.
    """
    ex = sh.select("id", F.explode("sh").alias("s"))
    h = F.pmod(F.xxhash64("s"), F.lit(_P))
    ex = ex.select("id", h.alias("h"))
    aggs = [
        F.min(F.pmod(F.lit(_A[i]) * F.col("h") + F.lit(_B[i]), F.lit(_P))).alias(f"m{i}")
        for i in range(_K)
    ]
    return ex.groupBy("id").agg(*aggs)


def dedup_minhash_lsh(docs: DataFrame, threshold: float = 0.5,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, sh: DataFrame | None = None) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-jaccard verified.

    16 bands x 4 rows: P(candidate | j) = 1-(1-j^4)^16 — ~1.0 for j>=0.9,
    so planted near-dups are always caught; every candidate is verified
    with exact jaccard, so precision is exact. Scales as: one shuffle for
    signatures, one for the band bucket join (keyed on band hash — small
    buckets unless true dups), one small join for verification.
    """
    # shared-intermediate strategy: see dedup_ngram_jaccard — pass sh from
    # a shingle_cache scope when you control the action, else the lazy
    # shuffle-as-cache default (one Exchange reused by the signature pass
    # and both verification sides within the action)
    if sh is None:
        sh = with_shingles(docs, id_col, text_col, n).repartition(F.col("id"))
    sig = minhash_signatures(sh)
    r = _K // _BANDS
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"m{b * r + i}") for i in range(r)]).alias("bh"),
        )
        for b in range(_BANDS)
    ])
    buckets = (
        sig.select("id", F.explode(bands).alias("e"))
        .select("id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))
    )
    cands = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bh"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    return _exact_jaccard(cands, sh).where(F.col("jaccard") >= threshold)


# --------------------------------------------------------------- simhash
def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", nbits: int = 64,
              hasher: str = "xxhash64") -> DataFrame:
    """(id, simhash): nbits-bit SimHash from token hashes — NO Python UDF.

    explode tokens -> per-bit +1/-1 votes as nbits partial-aggregated sums
    -> reassemble the bit vector relationally. One shuffle.

    hasher:
      * ``xxhash64`` (default): fastest, 64-bit, JVM-native.
      * ``md5_60``: first 15 hex chars of md5 parsed as a 60-bit int —
        bit-for-bit reproducible in any engine with md5 (the DuckDB
        correctness oracle computes the identical signature). Pass
        nbits=60 with it.
    """
    ex = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)).alias("t"),
    )
    if hasher == "md5_60":
        h = F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("t")
    # packed two-lane vote counters (VERDICT r4 #6): the naive form is one
    # sum(when(bit,1,-1)) aggregate per bit — a 64-column, 512-byte
    # aggregation buffer per group. Instead count ONES per bit in 32-bit
    # lanes, two bits per long: lane overflow needs 2^31 tokens in one doc
    # (~8 GB of text), and ANSI long overflow needs 2^29 — both absurd for
    # any document. votes_b = 2*ones_b - n, so bit b is set iff
    # 2*ones_b > n (ties -> 0, exactly the old sign rule). Halves the
    # buffer and the per-row aggregate-update count; A/B at sf0.1 in
    # BENCH/BASELINE.md.
    packed = [
        F.sum(
            F.shiftright(h, 2 * i).bitwiseAND(F.lit(1))
            + F.shiftleft(
                F.shiftright(h, 2 * i + 1).bitwiseAND(F.lit(1)), 32
            )
        ).alias(f"p{i}")
        for i in range((nbits + 1) // 2)
    ]
    agg = ex.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *packed)
    mask = F.lit((1 << 32) - 1)
    bits = []
    for b in range(nbits):
        ones = F.shiftright(F.col(f"p{b // 2}"), 32 * (b % 2)).bitwiseAND(mask)
        bits.append(
            F.when(ones * 2 > F.col("n"),
                   F.shiftleft(F.lit(1).cast("long"), b))
            .otherwise(F.lit(0).cast("long"))
        )
    total = bits[0]
    for expr in bits[1:]:
        total = total.bitwiseOR(expr)
    return agg.select("id", total.alias("simhash"))


def simhash_blocks(sig: DataFrame, max_hamming: int = 3, nbits: int = 64,
                   n_blocks: int = 6) -> DataFrame:
    """(id, simhash, combo, key): Manku-style combination block keys.

    Split the fingerprint into ``n_blocks`` nearly-equal bit blocks; a pair
    within hamming ``max_hamming`` has >= n_blocks - max_hamming intact
    blocks, so it shares SOME combination of ``n_blocks - max_hamming``
    blocks verbatim (pigeonhole). Keying the join on each combination's
    hash gives bucket keys of ~nbits*(1 - h/n_blocks) bits — e.g. 6 blocks,
    h=3 -> C(6,3)=20 tables with ~32-bit keys, so bucket size ~N/2^32
    instead of the ~N/2^16 of naive 4-chunk banding (the quadratic blowup
    at web scale). Manku, Jain & Sarma, WWW'07 §3 — public algorithm.
    """
    from itertools import combinations

    widths = [nbits // n_blocks + (1 if i < nbits % n_blocks else 0)
              for i in range(n_blocks)]
    offs = [sum(widths[:i]) for i in range(n_blocks)]
    blk = [
        F.shiftright(F.col("simhash"), offs[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_blocks)
    ]
    q = n_blocks - max_hamming
    combos = list(combinations(range(n_blocks), q))
    entries = F.array(*[
        F.struct(
            F.lit(ci).alias("combo"),
            F.xxhash64(*[blk[i] for i in c]).alias("key"),
        )
        for ci, c in enumerate(combos)
    ])
    return (
        sig.select("id", "simhash", F.explode(entries).alias("e"))
        .select("id", "simhash", F.col("e.combo").alias("combo"),
                F.col("e.key").alias("key"))
    )


def dedup_simhash(docs: DataFrame, max_hamming: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  nbits: int = 64, hasher: str = "xxhash64",
                  n_blocks: int = 6) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidates from Manku combination-block keys (recall 1.0 by
    pigeonhole, see simhash_blocks); bit_count(xor) verifies exactly, so
    results are independent of the banding scheme.
    """
    sig = simhash64(docs, id_col, text_col, nbits, hasher)
    b = simhash_blocks(sig, max_hamming, nbits, n_blocks)
    pairs = (
        b.alias("x").join(b.alias("y"), ["combo", "key"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"), F.col("y.id").alias("b"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["a", "b"])
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs
