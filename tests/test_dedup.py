"""Dedup operator correctness vs pure-Python oracles (sf0.001 documents)."""

import zlib

import pytest
from pyspark.sql import functions as F

from paraocr_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def doc_texts(spark, docs):
    return {r.doc_id: r.text for r in docs.collect()}


def _shingles(text, n=3):
    ws = text.strip().split(" ")
    if len(ws) < n:
        return {text.strip()}
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def _brute_pairs(doc_texts, threshold):
    sh = {d: _shingles(t) for d, t in doc_texts.items()}
    out = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= threshold:
                out[(a, b)] = round(j, 6)
    return out


def test_ngram_jaccard_exact(spark, docs, doc_texts):
    got = {(r.a, r.b): r.jaccard for r in
           dedup.dedup_ngram_jaccard(docs, threshold=0.5).collect()}
    assert got == _brute_pairs(doc_texts, 0.5)
    assert len(got) > 0, "fixture should contain planted near-dups"


def test_prefix_filter_mode_identical(spark, docs):
    plain = {(r.a, r.b): r.jaccard for r in
             dedup.dedup_ngram_jaccard(docs, 0.5, prefix_filter=False).collect()}
    pf = {(r.a, r.b): r.jaccard for r in
          dedup.dedup_ngram_jaccard(docs, 0.5, prefix_filter=True).collect()}
    assert plain == pf and plain


def test_minhash_lsh_finds_planted_dups(spark, docs, doc_texts):
    exact = _brute_pairs(doc_texts, 0.5)
    got = {(r.a, r.b): r.jaccard for r in
           dedup.dedup_minhash_lsh(docs, threshold=0.5).collect()}
    # precision is exact by construction (candidates verified with true
    # jaccard); recall at j>=0.9 is ~1.0 for 16 bands x 4 rows
    assert set(got) <= set(exact)
    high = {k for k, v in exact.items() if v >= 0.9}
    assert high <= set(got)
    for k in got:
        assert got[k] == exact[k]


def test_simhash_invariants(spark, docs, doc_texts):
    """simhash uses Spark's xxhash64 (no pure-python twin), so the oracle is
    behavioral: determinism, near-identical docs within hamming<=3, banding
    completeness (pigeonhole: hamming<=3 pairs always share a 16-bit chunk)."""
    got = {r.id: r.simhash for r in dedup.simhash64(docs).collect()}
    got2 = {r.id: r.simhash for r in dedup.simhash64(docs).collect()}
    assert got == got2  # deterministic across runs

    pairs = {(r.a, r.b): r.hamming for r in dedup.dedup_simhash(docs, 3).collect()}

    # banding found exactly what a full cross-product would (pigeonhole:
    # hamming<=3 over 4 chunks of 16 bits => at least one chunk equal)
    def hamming(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    ids = sorted(got)
    brute = {
        (a, b): hamming(got[a], got[b])
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if hamming(got[a], got[b]) <= 3
    }
    assert pairs == brute

    # separation: planted near-dups sit much closer in hamming space than
    # random pairs (simhash is count-sensitive, so an exact <=3 guarantee
    # for jaccard>=0.9 does not hold on a 30-word vocabulary)
    exact = _brute_pairs(doc_texts, 0.9)
    dup_h = [hamming(got[a], got[b]) for a, b in exact]
    import random

    rng = random.Random(7)
    rand_h = [
        hamming(got[a], got[b])
        for a, b in (rng.sample(ids, 2) for _ in range(200))
    ]
    assert sum(dup_h) / len(dup_h) < sum(rand_h) / len(rand_h) / 3


def test_exact_dedup_counts(spark, docs):
    rows = dedup.dedup_exact(docs).collect()
    assert sum(r.n_copies for r in rows) == docs.count()
    # synthetic documents at this sf have no exact dups
    assert all(r.n_copies == 1 for r in rows)


def test_prefix_filter_skew_subquadratic(spark):
    """On a Zipfian fixture (one shingle in EVERY doc) the naive inverted
    index enumerates all C(n,2) pairs through the hot shingle; the PPJoin
    prefix filter must keep the candidate set sub-quadratic because the
    ubiquitous shingle sorts last (max document frequency) and falls
    outside every prefix."""
    n = 60
    rows = [
        # 10 unique words + the shared hot trigram "the quick fox";
        # pairwise jaccard between distinct docs is ~1/21 << 0.5
        (i, f"the quick fox " + " ".join(f"w{i}x{j}" for j in range(10)))
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.with_shingles(docs)
    naive_pairs = (
        sh.select(F.col("id").alias("a"), F.explode("sh").alias("s"))
        .join(sh.select(F.col("id").alias("b"), F.explode("sh").alias("s")), "s")
        .where(F.col("a") < F.col("b"))
        .select("a", "b").distinct().count()
    )
    assert naive_pairs == n * (n - 1) // 2  # the hot shingle joins everyone
    cands = dedup.ppjoin_candidates(sh, 0.5).count()
    assert cands < n  # sub-quadratic: hot shingle excluded from prefixes
    # and the final result is still exact: no pair reaches jaccard 0.5
    assert dedup.dedup_ngram_jaccard(docs, 0.5).count() == 0


def test_simhash_portable_md5_matches_brute(spark, docs):
    """The md5_60 portable variant (the driver-oracle hash) must agree with
    a brute-force hamming join over its own signatures — proves the Manku
    combination banding loses nothing at hamming<=3 on 60-bit signatures."""
    sig = {r.id: r.simhash for r in
           dedup.simhash64(docs, nbits=60, hasher="md5_60").collect()}
    assert all(0 <= v < (1 << 60) for v in sig.values())
    got = {(r.a, r.b): r.hamming for r in
           dedup.dedup_simhash(docs, 3, nbits=60, hasher="md5_60").collect()}
    ids = sorted(sig)
    brute = {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    assert got == brute


def test_shingle_cache_scope_identical_and_released(spark, docs, doc_texts):
    """r4: the DISK_ONLY shingle_cache scope must (a) produce results
    identical to the lazy shuffle-as-cache default, (b) release its
    storage on exit — including on error — so long-lived sessions never
    accumulate persisted RDDs (the r2 leak)."""
    jsc = spark.sparkContext._jsc

    base = {(r.a, r.b): r.jaccard
            for r in dedup.dedup_ngram_jaccard(docs, threshold=0.5).collect()}
    with dedup.shingle_cache(docs) as sh:
        got = {(r.a, r.b): r.jaccard
               for r in dedup.dedup_ngram_jaccard(docs, threshold=0.5, sh=sh).collect()}
        # the action materialized the persisted shingle RDD
        assert jsc.getPersistentRDDs().size() >= 1
        got_mh = {(r.a, r.b)
                  for r in dedup.dedup_minhash_lsh(docs, threshold=0.9, sh=sh).collect()}
    assert got == base
    base_mh = {(r.a, r.b)
               for r in dedup.dedup_minhash_lsh(docs, threshold=0.9).collect()}
    assert got_mh == base_mh
    assert jsc.getPersistentRDDs().size() == 0

    with pytest.raises(RuntimeError, match="boom"):
        with dedup.shingle_cache(docs):
            raise RuntimeError("boom")
    assert jsc.getPersistentRDDs().size() == 0


def test_pair_set_cache_keyed_by_broadcast_not_address(spark):
    """A reused Python worker keeps _PAIR_SET_CACHE across queries. Keyed by
    id() of the loaded dict, a second corpus whose dict is allocated where
    the freed first one lived (CPython's allocator reuses freed addresses)
    would verify against the FIRST corpus' sets. Keyed by the broadcast id,
    each corpus is verified against its own."""
    import pandas as pd

    sc = spark.sparkContext
    pairs = pd.DataFrame({"a": [1], "b": [2]})

    def kept(bc):
        out = dedup._make_pair_set_verify(bc, 0.5)(iter([pairs]))
        return [(int(a), int(b)) for o in out for a, b in zip(o["a"], o["b"])]

    bc1, bc2 = sc.broadcast({}), sc.broadcast({})
    try:
        data = {1: [10, 11], 2: [10, 11]}  # identical sets: jaccard 1
        bc1._value = data  # the loaded value, as a worker holds it
        assert kept(bc1) == [(1, 2)]
        # corpus 2 at corpus 1's address, deterministically: id() cannot
        # tell this from a freed dict whose memory the next corpus reuses
        data.clear()
        data.update({1: [10, 11], 2: [20, 21]})  # disjoint sets: jaccard 0
        bc2._value = data
        assert kept(bc2) == []
    finally:
        dedup._PAIR_SET_CACHE.clear()
        bc1.destroy()
        bc2.destroy()
