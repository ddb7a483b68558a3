"""Similarity search over embedding columns (array<float>).

Two paths:

  * brute-force cosine top-k — exact baseline, all pyspark.sql built-ins
    (zip_with + aggregate for the dot product stays JVM-side); fine up to
    ~10^5 x 10^5 with a broadcast query side;
  * LSH-bucketed ANN — random-hyperplane signatures computed in a
    vectorized pandas UDF (one numpy matmul per Arrow batch), candidates
    from bucket equality over L tables, exact cosine rerank on candidates
    only. This is the 100 TB path: the full cross product never
    materializes; each bucket join is keyed and partial.

Cosines are computed in float64 (embeddings cast element-wise) and rounded
to 4dp before any threshold/ranking so results are stable across engines
(the DuckDB oracle computes the same quantity).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.window import Window

#: byte cap for broadcasting the embedding matrix into verify prefilters
#: (adaptive: corpora above it keep the pure-join rerank path)
_PREFILTER_BROADCAST_MAX_BYTES = 64 << 20


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a, b):
    """4dp cosine; null when either side is a zero vector, under ANSI on
    and off alike (try_divide: a plain divide is null with ANSI off and
    raises DIVIDE_BY_ZERO with it on)."""
    return F.round(F.try_divide(_dot(a, b), _norm(a) * _norm(b)), 4)


def neardup_pairs(emb: DataFrame, threshold: float,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  block: int = 1024) -> DataFrame:
    """Exact cosine near-dup pairs >= threshold (a < b), blocked matmul.

    The naive crossJoin evaluates an interpreted higher-order-function dot
    product per pair (measured 68 s for a 2k x 2k corpus). Instead: assign
    each vector a block id, join BLOCK pairs (upper triangle — |blocks|^2/2
    rows, not |vectors|^2/2), and compute each block-pair's full cosine
    matrix with one float64 numpy matmul inside an Arrow batch. Exact, not
    approximate; scales to ~10^5 vectors — beyond that, prefilter candidates
    with lsh_signatures and rerank (ann_topk_lsh pattern).
    """
    import pandas as pd

    blocks = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("blk", (F.col("id") / block).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "v")).alias("items"))
    )
    pairs = (
        blocks.alias("x")
        .join(blocks.alias("y"), F.col("x.blk") <= F.col("y.blk"))
        .select(
            F.col("x.items").alias("ia"), F.col("y.items").alias("ib"),
        )
    )

    def score(batches):
        for pdf in batches:
            for ia_items, ib_items in zip(pdf["ia"], pdf["ib"]):
                aid = np.array([r["id"] for r in ia_items], dtype=np.int64)
                bid = np.array([r["id"] for r in ib_items], dtype=np.int64)
                A = np.array([r["v"] for r in ia_items], dtype=np.float64)
                B = np.array([r["v"] for r in ib_items], dtype=np.float64)
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                B /= np.linalg.norm(B, axis=1, keepdims=True)
                S = np.round(A @ B.T, 4)
                i, j = np.nonzero(S >= threshold)
                keep = aid[i] < bid[j]
                yield pd.DataFrame({
                    "a": aid[i][keep], "b": bid[j][keep],
                    "cosine": S[i, j][keep],
                })

    return pairs.mapInPandas(score, schema="a long, b long, cosine double")


def ann_topk_bruteforce(emb: DataFrame, k: int = 5, n_queries: int = 20,
                        id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors for the first n_queries vectors.

    Two-phase top-k: the (small) query matrix is broadcast as a numpy array;
    each Arrow batch of candidates computes a float64 matmul against it and
    emits only its LOCAL top-k per query, so the shuffle carries
    O(partitions x queries x k) rows — never the full score matrix. A final
    window takes the global top-k. Ranking is deterministic:
    (4dp-rounded cosine desc, neighbor id asc).
    """
    import pandas as pd

    q_rows = (
        emb.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q"), F.col(vec_col).alias("vq"))
        .collect()
    )
    q_ids = np.array([r.q for r in q_rows], dtype=np.int64)
    Q = np.array([list(r.vq) for r in q_rows], dtype=np.float64)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    sc = emb.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, Q))

    def local_topk(batches):
        ids_b, Qn = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            nb = pdf[id_col].to_numpy(dtype=np.int64)
            M = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            M /= np.linalg.norm(M, axis=1, keepdims=True)
            S = np.round(M @ Qn.T, 4)  # (batch, queries)
            out_q, out_nb, out_c = [], [], []
            for qi in range(len(ids_b)):
                col = S[:, qi]
                mask = nb != ids_b[qi]
                cand_nb, cand_c = nb[mask], col[mask]
                if not len(cand_nb):
                    continue
                # local top-k with deterministic (cosine desc, nb asc) order
                order = np.lexsort((cand_nb, -cand_c))[:k]
                out_q.extend([ids_b[qi]] * len(order))
                out_nb.extend(cand_nb[order])
                out_c.extend(cand_c[order])
            yield pd.DataFrame({"q": out_q, "nb": out_nb, "cosine": out_c})

    scored = emb.select(id_col, vec_col).mapInPandas(
        local_topk, schema="q long, nb long, cosine double"
    )
    w = Window.partitionBy("q").orderBy(F.desc("cosine"), F.asc("nb"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q", "nb", "cosine", "rank")
    )


# ----------------------------------------------------------- IVF ANN path
def ivf_assign(emb: DataFrame, n_centroids: int = 16, sample: int = 2048,
               id_col: str = "vec_id", vec_col: str = "embedding") -> tuple:
    """Train a coarse quantizer (k-means on a driver-side sample; seeded,
    deterministic) and assign every vector to its nearest centroid with one
    numpy matmul per Arrow batch. Returns (assigned_df, centroids).

    This is the IVF (inverted-file) layout: at 10^9+ vectors the assignment
    is a narrow map, the index is just a partitioned table keyed by
    centroid id, and queries probe a handful of cells instead of the corpus.
    """
    import pandas as pd

    # uniform sample with NO extra corpus pass: the global bottom-`sample`
    # rows by a uniform hash of the id ARE a uniform random sample, and
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition top-k,
    # driver merge) — one job, no count(), deterministic, independent of
    # partitioning. (limit() alone would bias to the first partitions;
    # sample(fraction) needs the row count to size the fraction.)
    rows = (
        emb.select(F.xxhash64(F.col(id_col)).alias("_h"), F.col(vec_col))
        .orderBy("_h")
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.RandomState(20250816)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)].copy()
    for _ in range(10):  # Lloyd iterations on the sample
        a = np.argmax(X @ C.T, axis=1)
        for c in range(len(C)):
            m = X[a == c]
            if len(m):
                v = m.mean(axis=0)
                C[c] = v / np.linalg.norm(v)
    bc = emb.sparkSession.sparkContext.broadcast(C)

    def assign(batches):
        Cn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            M /= np.linalg.norm(M, axis=1, keepdims=True)
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["cell"] = np.argmax(M @ Cn.T, axis=1)
            yield pdf

    out_schema = f"{id_col} long, {vec_col} array<float>, cell int"
    return emb.select(id_col, vec_col).mapInPandas(assign, schema=out_schema), C


def ann_topk_ivf(emb: DataFrame, k: int = 5, n_queries: int = 20,
                 n_centroids: int = 16, n_probe: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via IVF: probe the n_probe nearest cells per query,
    exact rerank inside them. Recall grows with n_probe (n_probe ==
    n_centroids -> exact). The candidate join is keyed on cell id — the
    corpus-sized side is filtered by a small broadcast of probed cells."""
    assigned, C = ivf_assign(emb, n_centroids, id_col=id_col, vec_col=vec_col)
    q_rows = emb.where(F.col(id_col) < n_queries).select(id_col, vec_col).collect()
    qid = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    probes = np.argsort(-(Qn @ C.T), axis=1)[:, :n_probe]  # (q, n_probe)
    spark = emb.sparkSession
    probe_df = spark.createDataFrame(
        [(int(q), int(c)) for qi, q in enumerate(qid) for c in probes[qi]],
        schema="q long, cell int",
    )
    cands = (
        F.broadcast(probe_df).join(assigned, "cell")
        .where(F.col(id_col) != F.col("q"))
        .select("q", F.col(id_col).alias("nb"), F.col(vec_col).alias("vn"))
        .dropDuplicates(["q", "nb"])
    )
    qv = spark.createDataFrame(
        [(int(q), [float(x) for x in Q[i]]) for i, q in enumerate(qid)],
        schema="q long, vq array<float>",
    )
    scored = cands.join(F.broadcast(qv), "q").select(
        "q", "nb", cosine_col(F.col("vq"), F.col("vn")).alias("cosine")
    )
    w = Window.partitionBy("q").orderBy(F.desc("cosine"), F.asc("nb"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q", "nb", "cosine", "rank")
    )


_CENTROID_STRIDE = 31  # deterministic id-selected centroids: vec_id % 31 == 0


def select_centroids(emb: DataFrame, n_centroids: int = 16,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> np.ndarray:
    """Deterministic, SQL-expressible centroid choice: the vectors whose id
    is a multiple of _CENTROID_STRIDE (first n_centroids of them),
    L2-normalized in float64 and rounded to 6dp — the rounding collapses
    engine-level ulp differences so a DuckDB oracle reproduces every dot
    product bit-for-bit (the ann_topk_lsh embedded-constants pattern)."""
    rows = (
        emb.where(
            (F.col(id_col) % _CENTROID_STRIDE == 0)
            & (F.col(id_col) < n_centroids * _CENTROID_STRIDE)
        )
        .select(id_col, vec_col)
        .collect()
    )
    rows.sort(key=lambda r: r[0])
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    return np.round(C, 6)


def ann_topk_ivf_recall(emb: DataFrame, k: int = 5, n_queries: int = 20,
                        n_centroids: int = 16, n_probe: int = 4,
                        id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """recall@k of PARTIAL-probe IVF vs exact brute force, per query.

    Quantifies the approximation the scale path actually ships (full-probe
    IVF == exact, so the plain ann_topk_ivf oracle never exercises it).
    Deterministic end to end: id-selected 6dp centroids, 6dp-rounded
    assignment/probe dots with lowest-cell tie-breaks — exactly reproducible
    in the DuckDB twin. Returns (q, n_hits, recall)."""
    import pandas as pd

    C = select_centroids(emb, n_centroids, id_col, vec_col)
    bc = emb.sparkSession.sparkContext.broadcast(C)

    def assign(batches):
        Cn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            D = np.round(M @ Cn.T, 6)
            # argmax with lowest-cell tie-break (np.argmax takes the first max)
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["cell"] = np.argmax(D, axis=1).astype("int32")
            yield pdf

    assigned = emb.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, {vec_col} array<float>, cell int"
    )

    q_rows = emb.where(F.col(id_col) < n_queries).select(id_col, vec_col).collect()
    qid = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    QD = np.round(Q @ C.T, 6)  # (q, cells)
    # top-n_probe cells by (dot desc, cell asc): lexsort on (cell, -dot)
    spark = emb.sparkSession
    probe_rows = []
    for i, q in enumerate(qid):
        order = np.lexsort((np.arange(len(C)), -QD[i]))[:n_probe]
        probe_rows.extend((int(q), int(c)) for c in order)
    probe_df = spark.createDataFrame(probe_rows, schema="q long, cell int")

    cands = (
        F.broadcast(probe_df).join(assigned, "cell")
        .where(F.col(id_col) != F.col("q"))
        .select("q", F.col(id_col).alias("nb"), F.col(vec_col).alias("vn"))
        .dropDuplicates(["q", "nb"])
    )
    qv = spark.createDataFrame(
        [(int(q), [float(x) for x in Q[i]]) for i, q in enumerate(qid)],
        schema="q long, vq array<float>",
    )
    scored = cands.join(F.broadcast(qv), "q").select(
        "q", "nb", cosine_col(F.col("vq"), F.col("vn")).alias("cosine")
    )
    w = Window.partitionBy("q").orderBy(F.desc("cosine"), F.asc("nb"))
    ivf_topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q", "nb")
    )
    brute = ann_topk_bruteforce(emb, k, n_queries, id_col, vec_col).select("q", "nb")
    hits = ivf_topk.join(brute, ["q", "nb"]).groupBy("q").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    qdf = spark.createDataFrame([(int(q),) for q in qid], schema="q long")
    return (
        F.broadcast(qdf).join(hits, "q", "left")
        .select(
            "q",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(k), 4).alias("recall"),
        )
    )


# ----------------------------------------------------------- LSH ANN path
_DIM_DEFAULT = 64
_BITS = 12
_TABLES = 8


def _hyperplanes(dim: int, bits: int, tables: int) -> np.ndarray:
    rng = np.random.RandomState(20250816)
    # rounded to 6 decimals so the planes embed exactly in the DuckDB
    # correctness oracle's SQL (repr round-trips; both engines see
    # bit-identical constants)
    return np.round(rng.normal(size=(tables, bits, dim)).astype(np.float64), 6)


def _bucket_matrix(M: np.ndarray, dim: int, bits: int, tables: int) -> np.ndarray:
    """(n, L) int64 bucket ids for a float matrix — THE bucket definition,
    shared by the distributed UDF and driver-side query hashing so both
    always agree bit-for-bit."""
    H = _hyperplanes(dim, bits, tables)  # (L, bits, dim)
    flat = H.reshape(tables * bits, dim).T  # (dim, L*bits)
    weights = (1 << np.arange(bits)).astype(np.int64)
    signs = (M.astype(np.float64) @ flat) > 0  # (n, L*bits)
    signs = signs.reshape(len(M), tables, bits)
    return (signs * weights).sum(axis=2)  # (n, L)


def lsh_signatures(emb: DataFrame, dim: int = _DIM_DEFAULT, bits: int = _BITS,
                   tables: int = _TABLES, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(id, table, bucket): random-hyperplane sign buckets, L tables.

    Vectorized: one numpy (batch x dim) @ (dim x bits*L) matmul per Arrow
    batch inside a pandas UDF — no per-row Python.
    """

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy())  # (n, dim) float32
        return pd.Series(list(_bucket_matrix(M, dim, bits, tables)))

    ex = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    return ex


def ann_topk_lsh(emb: DataFrame, k: int = 5, n_queries: int = 20,
                 dim: int = _DIM_DEFAULT, bits: int = _BITS,
                 tables: int = _TABLES, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: LSH bucket candidates -> exact cosine rerank.

    Recall grows with L (tables); the cross product never forms — the
    candidate join is keyed on (table, bucket). The query side is tiny, so
    its buckets are hashed DRIVER-side (same _bucket_matrix) and broadcast:
    the corpus streams through the signature UDF exactly once, with no
    persist to leak and no second corpus pass.
    """
    q_rows = (
        emb.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q"), F.col(vec_col).alias("vq"))
        .collect()
    )
    Q = np.array([list(r.vq) for r in q_rows], dtype=np.float64)
    qb = _bucket_matrix(Q, dim, bits, tables) if len(q_rows) else np.empty((0, tables))
    probe_df = emb.sparkSession.createDataFrame(
        [(int(r.q), int(t), int(qb[i, t]))
         for i, r in enumerate(q_rows) for t in range(tables)],
        schema="q long, table int, bucket long",
    )
    sigs = lsh_signatures(emb, dim, bits, tables, id_col, vec_col)
    cands = (
        F.broadcast(probe_df).join(sigs, ["table", "bucket"])
        .where(F.col("q") != F.col("id"))
        .select("q", F.col("id").alias("nb"))
        .dropDuplicates(["q", "nb"])
    )
    qv = emb.select(F.col(id_col).alias("q"), F.col(vec_col).alias("vq"))
    nv = emb.select(F.col(id_col).alias("nb"), F.col(vec_col).alias("vn"))
    scored = (
        cands.join(F.broadcast(qv), "q").join(nv, "nb")
        .select("q", "nb", cosine_col(F.col("vq"), F.col("vn")).alias("cosine"))
    )
    w = Window.partitionBy("q").orderBy(F.desc("cosine"), F.asc("nb"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q", "nb", "cosine", "rank")
    )


def neardup_pairs_lsh(emb: DataFrame, threshold: float,
                      dim: int = _DIM_DEFAULT, bits: int = _BITS,
                      tables: int = _TABLES, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      n_rows: int | None = None) -> DataFrame:
    """LSH-prefiltered near-dup pairs — the 100 TB path for neardup_pairs.

    The exact blocked-matmul neardup_pairs is O(blocks^2); here candidates
    come from the keyed (table, bucket) self-join of the hyperplane
    signatures — no quadratic join ever forms — and every candidate is
    exact-4dp-cosine verified, so precision is exact. Recall is the LSH
    bucket-collision probability (grows with ``tables``); the DuckDB twin
    reproduces the same buckets from the same embedded hyperplanes, so the
    correctness gate is exact for the algorithm as shipped.

    Signatures route through ONE explicit Exchange on the join key: AQE
    shuffle-stage reuse evaluates the signature UDF once per action (the
    dedup.py shuffle-as-cache pattern; no persist to leak).
    """
    sigs = lsh_signatures(emb, dim, bits, tables, id_col, vec_col).repartition(
        "table", "bucket"
    )
    cands = (
        sigs.alias("x").join(sigs.alias("y"), ["table", "bucket"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    # Cheap vectorized prefilter before the exact rerank (guide §4.2): the
    # JVM cosine_col is an interpreted zip_with+aggregate per pair — at
    # 584k bucket candidates (sf1.0) it was the whole query bill. When the
    # embedding matrix fits in a broadcast (measured rows x dim x 8 bytes,
    # adaptive — large corpora keep the join-only path), candidates stream
    # through one numpy matmul per batch and only pairs with float64
    # cosine >= threshold - 1e-4 survive to the UNCHANGED exact JVM rerank,
    # whose 4dp-rounded value is what filters and is emitted — so results
    # are identical (the margin covers the 4dp round-up; numpy-vs-JVM
    # summation-order ulps are ~1e-15, far inside it).
    # The hint only decides whether to try: the collect itself stops at
    # cap + 1 rows, so an understated hint cannot pull an oversized table
    # onto the driver — it falls back to the join-only path instead.
    cap = _PREFILTER_BROADCAST_MAX_BYTES // (dim * 8)
    if n_rows is None:  # callers with table stats pass the hint instead
        n_rows = emb.count()
    rows = emb.select(id_col, vec_col).limit(cap + 1).collect() if n_rows <= cap else []
    if 0 < len(rows) <= cap:
        ids = np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows))
        M = np.array([list(r[1]) for r in rows], dtype=np.float64)
        with np.errstate(invalid="ignore"):  # zero-norm rows become NaN
            M /= np.linalg.norm(M, axis=1, keepdims=True)
        idx = {int(i): j for j, i in enumerate(ids)}
        bc = emb.sparkSession.sparkContext.broadcast((idx, M))
        tmin = float(threshold) - 1e-4

        def prefilter(batches):
            idx_, M_ = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                a = pdf["a"].to_numpy()
                b = pdf["b"].to_numpy()
                ra = np.fromiter((idx_[int(x)] for x in a), dtype=np.int64,
                                 count=len(a))
                rb = np.fromiter((idx_[int(x)] for x in b), dtype=np.int64,
                                 count=len(b))
                cos = np.einsum("ij,ij->i", M_[ra], M_[rb])
                # NaN (a zero-norm side) is not pruned: the rerank decides
                # it exactly as on the join-only path — a null cosine,
                # which drops the pair
                keep = ~(cos < tmin)
                yield pdf[["a", "b"]][keep]

        cands = cands.mapInPandas(prefilter, schema="a long, b long")
    va = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(va, "a").join(vb, "b")
        .select("a", "b", cosine_col(F.col("va"), F.col("vb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def neardup_pairs_auto(emb: DataFrame, threshold: float,
                       exact_max_rows: int = 100_000,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       n_rows: int | None = None) -> DataFrame:
    """Near-dup pairs with size-based routing (VERDICT r4 #5).

    Small corpora (<= ``exact_max_rows``, where the blocked matmul's
    O(blocks^2) block-pair join is cheap and recall must be 1.0 — e.g. as
    the oracle for the approximate path) take the EXACT ``neardup_pairs``;
    anything larger routes through ``neardup_pairs_lsh``, whose keyed
    (table, bucket) self-join never forms a quadratic plan. One count-star
    probe (parquet metadata only when the source is a plain scan) decides —
    the same decision an engine's cost-based optimizer would make from
    table stats, made explicit because recall differs between paths and
    silence would hide it. Output schema is identical: (a, b, cosine).
    Pass ``n_rows`` (e.g. from table stats / lineage) to skip the count
    probe — on a post-UDF DataFrame the count is a full extra pass at
    scale; the hint threads through to the LSH path's broadcast-prefilter
    sizing too.
    """
    n = emb.count() if n_rows is None else int(n_rows)
    if n <= exact_max_rows:
        return neardup_pairs(emb, threshold, id_col, vec_col)
    return neardup_pairs_lsh(emb, threshold, id_col=id_col, vec_col=vec_col,
                             n_rows=n)
