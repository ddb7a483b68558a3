"""Similarity search vs numpy brute-force oracle (sf0.001 embeddings)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from paraocr_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def vecs(emb):
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    return ids, M


def _cos_matrix(M):
    n = M / np.linalg.norm(M, axis=1, keepdims=True)
    return n @ n.T


def test_neardup_pairs_match_numpy(spark, emb, vecs):
    ids, M = vecs
    S = np.round(_cos_matrix(M), 4)
    got = {(r.a, r.b): r.cosine for r in
           similarity.neardup_pairs(emb, threshold=0.35).collect()}
    exp = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if S[i, j] >= 0.35:
                exp[(int(ids[i]), int(ids[j]))] = float(S[i, j])
    assert set(got) == set(exp)
    for k in got:
        assert got[k] == pytest.approx(exp[k], abs=1e-9)


def test_ann_topk_bruteforce_match(spark, emb, vecs):
    ids, M = vecs
    S = np.round(_cos_matrix(M), 4)
    got = {}
    for r in similarity.ann_topk_bruteforce(emb, k=5, n_queries=10).collect():
        got.setdefault(r.q, []).append((r.rank, r.nb, r.cosine))
    for q, lst in got.items():
        lst.sort()
        qi = int(np.where(ids == q)[0][0])
        order = sorted(
            ((float(S[qi, j]), int(ids[j])) for j in range(len(ids)) if ids[j] != q),
            key=lambda t: (-t[0], t[1]),
        )
        exp = order[:5]  # (cosine, nb) ranked desc-cosine, asc-id
        assert [nb for _, nb, _ in lst] == [nb for _, nb in exp]
        for (_, _, c), (s, _) in zip(lst, exp):
            assert c == pytest.approx(s, abs=1e-9)


def test_ann_lsh_candidates_subset_and_reranked(spark, emb, vecs):
    ids, M = vecs
    S = np.round(_cos_matrix(M), 4)
    rows = similarity.ann_topk_lsh(emb, k=5, n_queries=10).collect()
    assert rows, "LSH should produce candidates"
    for r in rows:
        qi = int(np.where(ids == r.q)[0][0])
        ni = int(np.where(ids == r.nb)[0][0])
        # cosine of every returned pair is the exact (rounded) value
        assert r.cosine == pytest.approx(float(S[qi, ni]), abs=1e-9)
    # ranks are contiguous from 1 per query
    byq = {}
    for r in rows:
        byq.setdefault(r.q, []).append(r.rank)
    for q, ranks in byq.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ann_ivf_structure_and_exact_rerank(spark, emb, vecs):
    from paraocr_spark.operators.similarity import ann_topk_ivf, ivf_assign

    ids, M = vecs
    S = np.round(_cos_matrix(M), 4)
    rows = ann_topk_ivf(emb, k=5, n_queries=10, n_centroids=8, n_probe=3).collect()
    assert rows
    for r in rows:
        qi = int(np.where(ids == r.q)[0][0])
        ni = int(np.where(ids == r.nb)[0][0])
        assert r.cosine == pytest.approx(float(S[qi, ni]), abs=1e-9)
    # probing ALL cells == exact brute force
    from paraocr_spark.operators.similarity import ann_topk_bruteforce
    exact = {(r.q, r.rank): r.nb for r in
             ann_topk_bruteforce(emb, k=5, n_queries=10).collect()}
    full = {(r.q, r.rank): r.nb for r in
            ann_topk_ivf(emb, k=5, n_queries=10, n_centroids=8, n_probe=8).collect()}
    assert full == exact
    # assignment covers every vector exactly once
    assigned, C = ivf_assign(emb, n_centroids=8)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()


def test_neardup_auto_routing(spark, emb):
    """neardup_pairs_auto (VERDICT r4 #5): exact path under the row cap,
    LSH path above it — and the big-N route must never form a quadratic
    (block-pair / nested-loop / cartesian) join."""
    n = emb.count()
    # small corpus: byte-identical to the exact operator
    exact = {(r.a, r.b, r.cosine) for r in
             similarity.neardup_pairs(emb, threshold=0.35).collect()}
    auto_small = {(r.a, r.b, r.cosine) for r in
                  similarity.neardup_pairs_auto(
                      emb, threshold=0.35, exact_max_rows=n).collect()}
    assert auto_small == exact
    # force the big-N route: identical to the LSH operator, sane plan
    import contextlib
    import io

    big = similarity.neardup_pairs_auto(emb, threshold=0.35,
                                        exact_max_rows=n - 1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        big.explain(mode="formatted")
    p = buf.getvalue()
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    lsh = {(r.a, r.b, r.cosine) for r in
           similarity.neardup_pairs_lsh(emb, threshold=0.35).collect()}
    assert {(r.a, r.b, r.cosine) for r in big.collect()} == lsh
    # LSH candidates are a subset of the exact pairs (verify step is exact)
    assert {(a, b) for a, b, _ in lsh} <= {(a, b) for a, b, _ in exact}


def test_neardup_auto_row_count_hint_skips_probe(spark):
    """VERDICT r5 #8: a caller-supplied n_rows hint must be used INSTEAD of
    the count() probe (a full extra pass on a post-UDF frame at scale).
    Proof the hint drives routing: with a small table but a hint above the
    cap, auto must take the LSH route (and vice versa), without counting."""
    from paraocr_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    # hint says huge -> LSH route even though the table is small
    big = similarity.neardup_pairs_auto(
        emb, threshold=0.35, exact_max_rows=n, n_rows=n * 1000)
    lsh = {(r.a, r.b, r.cosine) for r in
           similarity.neardup_pairs_lsh(emb, threshold=0.35).collect()}
    assert {(r.a, r.b, r.cosine) for r in big.collect()} == lsh
    # hint says tiny -> exact route even with a low cap
    small = similarity.neardup_pairs_auto(
        emb, threshold=0.35, exact_max_rows=50, n_rows=10)
    exact = {(r.a, r.b, r.cosine) for r in
             similarity.neardup_pairs(emb, threshold=0.35).collect()}
    assert {(r.a, r.b, r.cosine) for r in small.collect()} == exact


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_neardup_lsh_prefilter_matches_join_only_on_zero_norm_rows(
        spark, monkeypatch, ansi):
    """A zero vector has no cosine. The exact rerank (cosine_col) gives it
    a null cosine — dropping its pairs — under ANSI on and off alike; the
    numpy prefilter normalizes it to NaN. The prefilter may only drop pairs
    the rerank would drop, so with the embedding broadcast (prefilter) and
    without it (join-only) the rows must be the same, and the same under
    either ANSI setting."""
    H0 = similarity._hyperplanes(64, similarity._BITS, similarity._TABLES)[0]
    # every table-0 projection negative: bucket 0, the zero vector's bucket
    w = -H0.T @ np.linalg.solve(H0 @ H0.T, np.ones(len(H0)))
    v = np.random.RandomState(0).normal(size=64)
    emb = spark.createDataFrame(
        [(1, v.tolist()), (2, (2 * v).tolist()), (3, [0.0] * 64),
         (4, w.tolist())],
        "vec_id long, embedding array<float>",
    )

    def outcome():
        return sorted(tuple(r) for r in
                      similarity.neardup_pairs_lsh(emb, 0.5).collect())

    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        prefilter = outcome()
        monkeypatch.setattr(similarity, "_PREFILTER_BROADCAST_MAX_BYTES", 0)
        join_only = outcome()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert prefilter == join_only == [(1, 2, 1.0)]


def test_neardup_lsh_understated_hint_cannot_oversize_the_prefilter(
        spark, monkeypatch):
    """The ``n_rows`` hint only decides whether to try the broadcast
    prefilter: the driver collect stops at the byte cap + 1 row, so a hint
    of 1 over a table above the cap takes the join-only path (no prefilter
    MapInPandas) with the join-only rows."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    row_bytes = similarity._DIM_DEFAULT * 8

    def run(hint):
        q = similarity.neardup_pairs_lsh(emb, 0.3, n_rows=hint)
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        return sorted(tuple(r) for r in q.collect()), "MapInPandas" in plan

    monkeypatch.setattr(similarity, "_PREFILTER_BROADCAST_MAX_BYTES", 0)
    join_only, prefiltered = run(None)
    assert not prefiltered
    # the table fits: the hint of 1 is honest enough, the prefilter runs
    monkeypatch.setattr(similarity, "_PREFILTER_BROADCAST_MAX_BYTES", n * row_bytes)
    assert run(1) == (join_only, True)
    # one row over the cap: the same hint now falls back to the join-only path
    monkeypatch.setattr(similarity, "_PREFILTER_BROADCAST_MAX_BYTES",
                        (n - 1) * row_bytes)
    assert run(1) == (join_only, False)
