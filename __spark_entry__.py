"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 (or a
training-data-pipeline op the north rule adds); ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL for everything SQL-expressible. Column names and
roundings are aligned on both sides so the driver's order-insensitive
value-hash matches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship paraocr_spark to executors' Python workers via addPyFile.

    The driver process importing this module has the repo on ITS sys.path,
    but Python workers inherit only PYTHONPATH/cwd — defensively register a
    zip so mapInPandas closures unpickle anywhere (idempotent)."""
    if getattr(_ensure_shipped, "_done", False):
        return
    import hashlib
    import os
    import tempfile
    import zipfile

    root = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(root, "paraocr_spark")
    sources = []
    for dirpath, _, files in os.walk(pkg):
        for f in sorted(files):
            # .txt: bundled data fixtures (e.g. the BPE merges table) read
            # via importlib.resources, which resolves inside the zip
            if f.endswith((".py", ".txt")):
                sources.append(os.path.join(dirpath, f))
    # name the zip by a content hash so edits to paraocr_spark never ship a
    # stale executor copy (addPyFile caches by filename)
    h = hashlib.sha1()
    for full in sorted(sources):
        h.update(full.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    path = os.path.join(
        tempfile.gettempdir(), f"paraocr_spark_auto_{h.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(path):
        with zipfile.ZipFile(path, "w") as z:
            for full in sorted(sources):
                z.write(full, os.path.relpath(full, root))
    try:
        spark.sparkContext.addPyFile(path)
    except Exception:
        pass  # e.g. Spark Connect sessions: rely on PYTHONPATH instead
    _ensure_shipped._done = True


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet, fanned out to the cores when the file has fewer
    row groups than that (every sf table is one row group)."""
    from paraocr_spark.sources.io import read_table

    _ensure_shipped(spark)
    return read_table(spark, f"{sf_dir}/documents.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over pages built from sf0.001.

    html-wrapped docs (boilerplate strip route) + native-text docs
    (fast-path gate route), through salting/kernel/reassembly, one output
    row per url with spans, method, in-band errors.
    """
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.pages import pages_from_documents

    docs = _docs(spark, "/root/testdata/sf0.001")
    pages = pages_from_documents(docs.where(F.col("doc_id") % 3 != 0), "html").unionByName(
        pages_from_documents(docs.where(F.col("doc_id") % 3 == 0), "native")
    )
    return extract_pages(pages).select(
        "url", "warc_ts", "lang", "extracted_text", "spans", "method", "error"
    )


# --------------------------------------------------------------------------
# queries: name -> (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------

def _q_extract_html_roundtrip(spark, sf_dir):
    """P1 core extract (SURVEY §2.2): boilerplate-strip must recover the
    original text byte-for-byte from the HTML wrap."""
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(_docs(spark, sf_dir), "html")
    return extract_pages(pages, salt=False).select("url", "extracted_text", "method")


def _q_extract_fastpath_gate(spark, sf_dir):
    """P2+P3 native-text gate (parallel.py:295-334 analog): gate passes ->
    native_text; else in-band error (html is NULL)."""
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(_docs(spark, sf_dir), "native")
    return extract_pages(pages, salt=False).select("url", "method", "error")


def _q_extract_features(spark, sf_dir):
    """Kernel feature stage (tokens/quality/lang-id computed in the same
    Arrow pass as extraction; core/features.py). simhash is excluded here —
    it has no SQL twin (crc32) and is covered by pytest invariants."""
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(_docs(spark, sf_dir), "html")
    return extract_pages(pages, salt=False).select(
        "url",
        F.col("features.n_chars").alias("n_chars"),
        F.col("features.n_tokens").alias("n_tokens"),
        F.col("features.alpha_ratio").alias("alpha_ratio"),
        F.col("features.stop_ratio").alias("stop_ratio"),
        F.col("features.lang_pred").alias("lang_pred"),
    )


def _q_resume_anti_join(spark, sf_dir):
    """S4 resume anti-join (cli.py:227-231 analog)."""
    from paraocr_spark.operators.resume import filter_unprocessed
    from paraocr_spark.sources.pages import pages_from_documents

    docs = _docs(spark, sf_dir)
    pages = pages_from_documents(docs, "html")
    done = pages_from_documents(docs.where(F.col("doc_id") % 3 == 0), "html").select("url")
    return filter_unprocessed(pages, done).select("url")


def _q_lineage_rollup(spark, sf_dir):
    """A5 perf/lineage rollup pattern (groupBy + partial aggregation)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _q_page_assembly(spark, sf_dir):
    """A1/A3 per-document page assembly: deterministic ordered merge via
    sort_array(collect_list(struct)) — never shuffle order."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type")))
    return (
        ev.groupBy("user_id")
        .agg(arr.alias("a"))
        .select(
            "user_id",
            F.array_join(F.transform("a", lambda x: x["event_type"]), "|").alias("timeline"),
            F.size("a").alias("n_events"),
        )
    )


def _q_quality_gate(spark, sf_dir):
    """P2 quality classifier, relational form (Catalyst-visible filter)."""
    from paraocr_spark.functions.text import quality_gate, quality_score

    return (
        _docs(spark, sf_dir)
        .select("doc_id", quality_score(F.col("text")).alias("qscore"),
                quality_gate(F.col("text")).cast("int").alias("passes"))
    )


def _q_dedup_exact(spark, sf_dir):
    from paraocr_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


_MATERIALIZE_CAP = 2_000_000


def _materialize_small(spark, q, cap: int = _MATERIALIZE_CAP):
    """Run a query eagerly and hand back its (small) result as a local
    DataFrame. Used by entry queries whose efficient plan persists an
    intermediate inside a scope (shingle_cache): the action must run while
    the scope is open — at production scale that action is the sink write;
    here the result sets are pair lists, tiny at every gate/bench SF.

    Guarded: collect() is a driver bottleneck the moment a "small" result
    grows, so anything past ``cap`` rows fails loudly instead of silently
    ballooning the driver — at that size the caller should write to a sink
    inside the scope instead."""
    rows = q.limit(cap + 1).collect()
    if len(rows) > cap:
        raise RuntimeError(
            f"_materialize_small: result exceeds {cap} rows — no longer "
            "driver-small; write it to a sink inside the scope instead"
        )
    return spark.createDataFrame(rows, schema=q.schema)


def _q_dedup_ngram_jaccard(spark, sf_dir):
    """Eager: the r4 A/B winner materializes the shingle table DISK_ONLY
    for the plan's three consumers (candidate chain + both verify sides),
    scoped so the storage is released before returning — 6.6 s vs 9.9 s
    (shuffle-as-cache) at sf0.1 (operators/dedup.shingle_cache).

    Arrow batch size is scoped UP to Spark's stock 10k for this query's
    action (guide §4.2: raise it for narrow rows): the only Python stage
    here is the pair-verify kernel whose rows are two longs, and a session
    tuned to ~1k batches for 30 KB html rows pays ~18k batch roundtrips on
    19M candidate pairs (measured 13.1 -> 10.1 s at sf1.0). Restored in
    finally so other queries keep the session's setting."""
    from paraocr_spark.operators.dedup import dedup_ngram_jaccard, shingle_cache

    docs = _docs(spark, sf_dir)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    try:
        if prev is not None and int(prev) < 10000:
            spark.conf.set(key, "10000")
        with shingle_cache(docs) as sh:
            return _materialize_small(
                spark, dedup_ngram_jaccard(docs, threshold=0.5, sh=sh)
            )
    finally:
        if prev is not None:
            spark.conf.set(key, prev)


def _q_dedup_minhash_lsh(spark, sf_dir):
    """threshold=0.9: 16x4 banding has ~1.0 candidate recall only at
    j >= 0.9 (P(miss) = (1-0.9^4)^16 ~ 4e-8), so ONLY there is the exact
    all-pairs jaccard SQL a fair oracle for the approximate algorithm;
    at j=0.5 recall is ~64% and the gate would over-claim.
    Eager shingle_cache scope like _q_dedup_ngram_jaccard (2.4 s vs 6.0 s)."""
    from paraocr_spark.operators.dedup import dedup_minhash_lsh, shingle_cache

    docs = _docs(spark, sf_dir)
    with shingle_cache(docs) as sh:
        return _materialize_small(
            spark, dedup_minhash_lsh(docs, threshold=0.9, sh=sh)
        )


def _q_dedup_simhash(spark, sf_dir):
    """Portable 60-bit md5-based simhash so DuckDB reproduces the signature
    bit-for-bit; candidates via Manku combination blocks, exact hamming
    verify — the oracle computes the same pairs from the same signatures."""
    from paraocr_spark.operators.dedup import dedup_simhash

    return dedup_simhash(_docs(spark, sf_dir), max_hamming=3,
                         nbits=60, hasher="md5_60")


def _q_neardup_embedding(spark, sf_dir):
    """Size-routed near-dup (VERDICT r4 #5): exact blocked matmul at the
    test SFs (500-2k vectors), LSH-prefiltered above _NEARDUP_EXACT_MAX.
    The oracle generator mirrors the SAME row-count decision, so the two
    stay in lockstep at any SF."""
    from paraocr_spark.operators.similarity import neardup_pairs_auto
    from paraocr_spark.sources.io import parquet_footers

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the row count from the footers: no count() job in the query
    n_rows = sum(md.num_rows for md in parquet_footers(emb))
    return neardup_pairs_auto(emb, threshold=0.4,
                              exact_max_rows=_NEARDUP_EXACT_MAX, n_rows=n_rows)


#: env-overridable so tests can force the LSH route at tiny SFs
_NEARDUP_EXACT_MAX = int(
    __import__("os").environ.get("PARAOCR_NEARDUP_EXACT_MAX", "100000")
)


def _q_ann_topk(spark, sf_dir):
    from paraocr_spark.operators.similarity import ann_topk_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_topk_bruteforce(emb, k=5, n_queries=20)


def _q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN with full probing (n_probe == n_centroids) — exact, so it
    shares the brute-force oracle; partial probing is the approximate scale
    path (recall tested in pytest)."""
    from paraocr_spark.operators.similarity import ann_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_topk_ivf(emb, k=5, n_queries=20, n_centroids=16, n_probe=16)


def _q_ann_topk_lsh(spark, sf_dir):
    from paraocr_spark.operators.similarity import ann_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_topk_lsh(emb, k=5, n_queries=20)


def _q_neardup_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: LSH bucket candidates (keyed
    self-join, never blocks^2) -> exact cosine verify. The oracle reproduces
    the same buckets from the same embedded hyperplanes, so the gate is a
    full hash match for the algorithm as shipped."""
    from paraocr_spark.operators.similarity import neardup_pairs_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return neardup_pairs_lsh(emb, threshold=0.3)


def _q_ann_topk_ivf_recall(spark, sf_dir):
    """recall@5 of partial-probe IVF (n_probe=4 of 16 cells) vs exact brute
    force — quantifies the approximation the scale path ships (full-probe
    IVF is exact and never exercises it). Deterministic: id-selected
    6dp-rounded centroids, 6dp dots, lowest-cell tie-breaks."""
    from paraocr_spark.operators.similarity import ann_topk_ivf_recall

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_topk_ivf_recall(emb, k=5, n_queries=20, n_centroids=16, n_probe=4)


def _q_streaming_extract(spark, sf_dir):
    """Batch/stream parity: the availableNow foreachBatch pipeline over the
    same pages must produce the same rows as the batch oracle (same
    extraction SQL as extract_html_roundtrip). Eager: runs the stream to
    completion, then returns the written table."""
    import os
    import shutil
    import tempfile

    from paraocr_spark.pipeline import PipelineConfig
    from paraocr_spark.sources.pages import pages_from_documents
    from paraocr_spark.streaming.extract_stream import extract_stream

    pages = pages_from_documents(_docs(spark, sf_dir), "html")
    # per-invocation workdir under one fixed parent, with stale-sibling GC
    # (ADVICE r4): a single wiped-on-entry dir made two concurrent harness
    # invocations rmtree each other's in-flight stream state; a leaked
    # mkdtemp was concurrency-safe but unbounded. Unique suffix = safe under
    # concurrency; deleting only siblings older than 2h bounds residue.
    import time as _time
    import uuid as _uuid

    parent = os.path.join(
        tempfile.gettempdir(), "paraocr_stream_entry",
        sf_dir.strip("/").replace("/", "_"),
    )
    os.makedirs(parent, exist_ok=True)
    cutoff = _time.time() - 2 * 3600
    for sib in os.listdir(parent):
        sp = os.path.join(parent, sib)
        try:
            if os.path.getmtime(sp) < cutoff:
                shutil.rmtree(sp, ignore_errors=True)
        except OSError:
            pass  # sibling vanished mid-scan (concurrent GC): fine
    work = os.path.join(parent, _uuid.uuid4().hex[:12])
    os.makedirs(work, exist_ok=True)
    src = os.path.join(work, "pages")
    # pages inherit _docs' scan fan-out, so the staged table has one file
    # per core and each availableNow micro-batch (and its Python kernel)
    # runs on every core
    pages.write.mode("overwrite").parquet(src)
    q = extract_stream(
        spark, src, os.path.join(work, "out"), os.path.join(work, "ckpt"),
        PipelineConfig(run_id="stream_entry", warc_buckets=8),
        available_now=True,
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(work, "out")).select(
        "url", "extracted_text", "method"
    )


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination sweep (C4/GPT-3 style): held-out docs
    (doc_id % 97 == 0) sharing a word-4-gram with any training doc.
    Hash-keyed join with string verify — never joins on raw n-grams."""
    from paraocr_spark.operators.corpus import decontaminate

    docs = _docs(spark, sf_dir)
    return decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        n=4,  # real sweeps use 8-13; the synthetic docs are short word soups
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic per-language subsample (md5-bucket thresholds: en 30%,
    zh 20%, others 10%) — reproducible across engines/runs/partitionings."""
    from paraocr_spark.operators.corpus import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), quotas={"en": 300, "zh": 200}, default_quota=100
    )


def _q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 characteristic terms by tf * ln(N/df)."""
    from paraocr_spark.operators.corpus import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


def _q_lang_id(spark, sf_dir):
    """Tokenize ONCE into a projected array, then score the language
    profiles from the array (text.lang_id_from_tokens): the one-expression
    lang_id(text) re-tokenizes per language profile because Catalyst does
    not CSE the repeated regexp subtree — measured 4.3 s -> 2.4 s at
    sf1.0. Results identical (same tokens, same tie-breaks)."""
    from paraocr_spark.functions.text import lang_id_from_tokens, lowered_tokens

    return (
        _docs(spark, sf_dir)
        .select(lowered_tokens(F.col("text")).alias("_lt"))
        .select(lang_id_from_tokens(F.col("_lt")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_lang_id_ngram(spark, sf_dir):
    """Char-trigram n-gram lang-ID profile (substring-count scoring)."""
    from paraocr_spark.functions.text import lang_id_ngram

    return (
        _docs(spark, sf_dir)
        .select("doc_id", lang_id_ngram(F.col("text")).alias("lang_pred"))
    )


def _q_doc_stats(spark, sf_dir):
    from paraocr_spark.functions.text import token_count, token_count_bpe

    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text"))).alias("total_tokens"),
            F.sum(token_count_bpe(F.col("text"))).alias("total_bpe_tokens"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


def _q_doc_stats_bpe(spark, sf_dir):
    """REAL byte-pair-encoding token count (functions/bpe.py: bundled
    merges fixture, greedy rank-ordered merge loop, per-worker memoized) —
    upgrade of the regex approximation in doc_stats."""
    from paraocr_spark.functions.bpe import token_count_bpe_vocab

    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count_bpe_vocab(F.col("text"))).alias("total_bpe_tokens"),
        )
    )


def _q_fingerprint(spark, sf_dir):
    from paraocr_spark.functions.text import fingerprint

    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return _docs(spark, sf_dir).select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp_md5"),
        F.sha2(norm.cast("binary"), 256).alias("fp_sha256"),
    )


def _q_gopher_quality(spark, sf_dir):
    """Gopher-style repetition/quality signal battery + boolean gate per
    doc (Rae et al. 2021 Table A1 lineage) — pure JVM expressions."""
    from paraocr_spark.functions.text import gopher_gate, gopher_signals

    return (
        _docs(spark, sf_dir)
        .select("doc_id", gopher_signals(F.col("text")).alias("g"))
        .select(
            "doc_id", "g.*",
            gopher_gate(signals=F.col("g")).alias("pass_gate"),
        )
    )


def _q_media_stats(spark, sf_dir):
    """Multimodal lane rollup (VERDICT r4 #2): deterministic synthetic media
    derived from doc_id -> header decode + frame decode + mean-pixel feature
    in one pass (mean_pixel_features, errors in-band) -> per (kind, valid)
    rollup. One linear chain of two Arrow kernels, no diamond; the DuckDB
    twin predicts every value from the id rules in
    multimodal.synthetic_media."""
    from paraocr_spark import multimodal as mm

    media = mm.synthetic_media(_docs(spark, sf_dir).select("doc_id"))
    feats = mm.mean_pixel_features(media)
    return (
        feats.groupBy(
            F.col("meta.kind").alias("kind"), F.col("meta.valid").alias("valid")
        )
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("meta.bytes").alias("total_bytes"),
            F.round(F.coalesce(F.sum("mean_pixel"), F.lit(0.0)), 4).alias("sum_mean_pixel"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
            F.coalesce(F.round(F.avg("mean_pixel"), 4), F.lit(-1.0)).alias("avg_mean_pixel"),
        )
    )


def _q_span_dedup(spark, sf_dir):
    """C4-style corpus-wide duplicate-span removal over 5-word tiles:
    every span occurring more than once survives only at its globally
    first (doc_id, pos); docs are rebuilt from kept spans."""
    from paraocr_spark.operators.corpus import span_dedup

    return span_dedup(_docs(spark, sf_dir), w=5)


def _q_clean_corpus(spark, sf_dir):
    """The composed end-to-end corpus-cleaning pipeline (VERDICT r4 #3):
    extract (html boilerplate strip) -> Gopher gate -> C4 span dedup ->
    MinHash near-dup drop (t=0.9, where banding recall ~1.0 makes the
    exact-jaccard SQL a fair oracle) -> deterministic stratified sample.
    One summary row per surviving doc; fp = md5(clean_text) pins the exact
    post-dedup bytes. The extraction kernel runs ONCE (scoped DISK_ONLY
    persist inside clean_corpus serves every downstream consumer)."""
    from paraocr_spark.operators.corpus import clean_corpus
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(_docs(spark, sf_dir), "html")
    extracted = extract_pages(pages, salt=False).select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "lang",
        F.col("extracted_text").alias("text"),
    )
    with clean_corpus(
        extracted, w=5, threshold=0.9, quotas={"en": 300, "zh": 200},
        default_quota=100,
    ) as result:
        return _materialize_small(spark, result)


def _q_length_quantiles(spark, sf_dir):
    """Exact interpolated percentiles of document length per lang (corpus
    length profiling — the stats a training-data pipeline reports)."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _q_doc_stats_cube(spark, sf_dir):
    """CUBE rollup over (lang, source): grouping-sets coverage; NULL marks
    the aggregated dimension in both engines."""
    return (
        _docs(spark, sf_dir)
        .cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"))
    )


def _q_skew_salted_rollup(spark, sf_dir):
    """B3 skew handling: salted two-phase aggregation == direct groupBy.

    Phase 1 partial agg on (key, salt) spreads a hot key over 8 reducers;
    phase 2 merges partials. Result must equal the unsalted rollup."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    salted = li.withColumn("salt", F.pmod(F.col("l_linenumber"), F.lit(8)))
    partial = salted.groupBy("l_suppkey", "salt").agg(
        F.sum("l_quantity").alias("pq"), F.count(F.lit(1)).alias("pn")
    )
    return partial.groupBy("l_suppkey").agg(
        F.round(F.sum("pq"), 6).alias("sum_qty"), F.sum("pn").alias("n_rows")
    )


def _q_window_topk_sources(spark, sf_dir):
    w = Window.partitionBy("lang").orderBy(F.desc("total_chars"), F.asc("source"))
    return (
        _docs(spark, sf_dir)
        .groupBy("lang", "source")
        .agg(F.sum("n_chars").alias("total_chars"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
    )


def _q_events_window_agg(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            # ts is TIMESTAMP_NTZ: format the naive value (TZ-independent on
            # both engines) instead of casting to epoch
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


def _shipped(fn):
    def wrapper(spark, sf_dir):
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    return wrapper


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _shipped(fn) for name, fn in _RAW_QUERIES.items()}


_RAW_QUERIES = {
        "extract_html_roundtrip": _q_extract_html_roundtrip,
        "extract_fastpath_gate": _q_extract_fastpath_gate,
        "extract_features": _q_extract_features,
        "resume_anti_join": _q_resume_anti_join,
        "lineage_rollup": _q_lineage_rollup,
        "page_assembly": _q_page_assembly,
        "quality_gate": _q_quality_gate,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_simhash": _q_dedup_simhash,
        "neardup_embedding": _q_neardup_embedding,
        "ann_topk": _q_ann_topk,
        "ann_topk_ivf": _q_ann_topk_ivf,
        "ann_topk_lsh": _q_ann_topk_lsh,
    "neardup_lsh": _q_neardup_lsh,
    "ann_topk_ivf_recall": _q_ann_topk_ivf_recall,
    "streaming_extract": _q_streaming_extract,
    "decontaminate": _q_decontaminate,
    "stratified_sample": _q_stratified_sample,
    "tfidf_top_terms": _q_tfidf_top_terms,
    "gopher_quality": _q_gopher_quality,
    "span_dedup": _q_span_dedup,
    "media_stats": _q_media_stats,
    "clean_corpus": _q_clean_corpus,
        "lang_id": _q_lang_id,
    "lang_id_ngram": _q_lang_id_ngram,
        "doc_stats": _q_doc_stats,
    "doc_stats_bpe": _q_doc_stats_bpe,
        "fingerprint": _q_fingerprint,
        "length_quantiles": _q_length_quantiles,
    "doc_stats_cube": _q_doc_stats_cube,
    "skew_salted_rollup": _q_skew_salted_rollup,
        "window_topk_sources": _q_window_topk_sources,
        "events_window_agg": _q_events_window_agg,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect)
# --------------------------------------------------------------------------

_URL = "'https://site' || (doc_id % 50)::varchar || '.example/doc/' || doc_id::varchar"

def _shingles_sql(threshold: float) -> str:
    """Exact all-pairs jaccard over word-3-gram shingle sets at >= threshold."""
    return f"""
with t as (
  select doc_id, trim(text) as tt, string_split(trim(text), ' ') as ws from documents
), s as (
  select doc_id,
         case when len(ws) >= 3 then
           list_distinct(list_transform(range(1, len(ws) - 1),
                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
         else [tt] end as sh
  from t
), pairs as (
  select a.doc_id as a, b.doc_id as b,
         len(list_intersect(a.sh, b.sh)) as inter,
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) as uni
  from s a join s b on a.doc_id < b.doc_id
)
select a, b, round(inter::double / uni::double, 6) as jaccard
from pairs where inter::double / uni::double >= {threshold}
"""


def _simhash_oracle_sql(max_hamming: int = 3, nbits: int = 60) -> str:
    """DuckDB twin of dedup_simhash(nbits=60, hasher='md5_60'): identical
    60-bit md5-based signatures, then the EXACT hamming self-join — valid
    for any banding scheme because banding recall is 1.0 by pigeonhole."""
    votes = ", ".join(
        f"sum(case when (hv >> {b}) & 1 = 1 then 1 else -1 end) as v{b}"
        for b in range(nbits)
    )
    sh_terms = " + ".join(
        f"(case when v{b} > 0 then {1 << b} else 0 end)" for b in range(nbits)
    )
    return f"""
with toks as (
  select doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as t
  from documents
), h as (
  select doc_id, ('0x' || substr(md5(t), 1, 15))::bigint as hv from toks
), votes as (
  select doc_id, {votes} from h group by doc_id
), sig as (
  select doc_id, ({sh_terms})::bigint as sh from votes
)
select a.doc_id as a, b.doc_id as b, bit_count(xor(a.sh, b.sh))::int as hamming
from sig a join sig b on a.doc_id < b.doc_id
where bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


def _gate_sql() -> tuple[str, str]:
    """(valid_ratio expr, dict_hits expr) mirroring core/quality.py."""
    from paraocr_spark.core.quality import DICTIONARY

    words = ", ".join(f"'{w}'" for w in sorted(DICTIONARY))
    invalid_class = (
        r"[^A-Za-z0-9À-ỹ\s.,;:!?\-'\"()/%&+@#*\[\]_=<>|]".replace("'", "''")
    )
    # regexp_replace strips INVALID chars; what remains is the valid count
    valid_ratio = (
        "case when length(text) > 0 then "
        f"length(regexp_replace(text, '{invalid_class}', '', 'g'))::double"
        " / length(text) else 0.0 end"
    )
    toks = "regexp_extract_all(text, '[A-Za-zÀ-ỹ]+')"
    dict_ratio = (
        f"case when len({toks}) >= 5 then "
        f"len(list_filter({toks}, t -> lower(t) in ({words})))::double / len({toks}) "
        "else 0.0 end"
    )
    return valid_ratio, dict_ratio


def _features_oracle_sql() -> str:
    """DuckDB twin of core/features.py over the html-roundtrip text
    (extracted_text == whitespace-normalized documents.text)."""
    from paraocr_spark.core.features import LANG_MARKERS, _STOPWORDS

    cap = "substr(regexp_replace(trim(text), '\\s+', ' ', 'g'), 1, 50000)"
    toks = f"regexp_extract_all(lower({cap}), '[a-z0-9]+')"
    stop = ", ".join(f"'{w}'" for w in sorted(_STOPWORDS))
    alpha = f"length(regexp_replace({cap}, '[^A-Za-z]', '', 'g'))"
    hits = {}
    for lang, markers in LANG_MARKERS.items():
        m = ", ".join(f"'{w}'" for w in sorted(markers))
        hits[lang] = f"len(list_filter(toks, t -> t in ({m})))"
    greatest = "greatest(" + ", ".join(hits.values()) + ")"
    cases = " ".join(
        f"when {hits[lang]} > 0 and {hits[lang]} = {greatest} then '{lang}'"
        for lang in LANG_MARKERS
    )
    return f"""
with t as (
  select {_URL} as url,
         length(regexp_replace(trim(text), '\\s+', ' ', 'g')) as n_chars,
         {cap} as cap, {toks} as toks, {alpha} as alpha
  from documents
)
select url, n_chars,
       len(toks) as n_tokens,
       case when length(cap) > 0
            then round(alpha::double / length(cap), 4) else 0.0 end as alpha_ratio,
       case when len(toks) > 0
            then round(len(list_filter(toks, t -> t in ({stop})))::double / len(toks), 4)
            else 0.0 end as stop_ratio,
       case {cases} else 'und' end as lang_pred
from t
"""


def _lang_ngram_oracle_sql() -> str:
    from paraocr_spark.functions.text import LANG_TRIGRAMS

    def count_expr(tri: str) -> str:
        t = tri.replace("'", "''")
        return (
            f"(length(lower(text)) - length(replace(lower(text), '{t}', '')))"
            f" / {len(tri)}"
        )

    scores = {
        lang: "(" + " + ".join(count_expr(t) for t in tris) + ")"
        for lang, tris in LANG_TRIGRAMS.items()
    }
    greatest = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"when {scores[lang]} > 0 and {scores[lang]} = {greatest} then '{lang}'"
        for lang in LANG_TRIGRAMS
    )
    return f"select doc_id, case {cases} else 'und' end as lang_pred from documents"


def _oracle_sf_dir() -> str:
    """SF dir the generated oracle SQL embeds data-derived constants from
    (IVF centroids, BPE corpus vocab). The driver's gate runs at sf0.01 —
    the default — but tools/check_oracles.py threads its SF_DIR argv
    through this env var so oracles stay exact at any SF."""
    import os

    return os.environ.get("PARAOCR_SF_DIR", "/root/testdata/sf0.01").rstrip("/")


def _bpe_oracle_sql() -> str:
    """DuckDB twin of the real-BPE token count: each word's token count is
    precomputed by the SAME encode_word over the SAME bundled merges fixture
    and embedded as a map. The map covers the fixture vocab UNION the
    distinct corpus tokens of the local test SFs (so merges that apply to
    out-of-fixture words are counted with real encode_word semantics, not a
    guess); any token still missing hits a 10^9 sentinel — a LOUD mismatch,
    never a silent divergence."""
    import os
    from importlib import resources

    from paraocr_spark.functions.bpe import encode_word

    vocab = {
        line.split()[0]
        for line in resources.files("paraocr_spark.functions")
        .joinpath("bpe_train_vocab.txt").read_text().splitlines()
        if line.strip() and not line.startswith("#")
    }
    try:
        import duckdb

        con = duckdb.connect()
        # cover the gate SF (env-threaded, see _oracle_sf_dir) plus the two
        # local test SFs, so the map is exact wherever the oracle runs
        dirs = {_oracle_sf_dir(), "/root/testdata/sf0.001", "/root/testdata/sf0.01"}
        for d in sorted(dirs):
            if not os.path.exists(os.path.join(d, "documents.parquet")):
                continue  # that SF's testdata absent: others still cover
            # present-but-unreadable parquet must PROPAGATE (ADVICE r4): a
            # silently skipped dir yields an incomplete vocab and a wrong
            # oracle that surfaces later as a confusing gate mismatch
            rows = con.sql(
                "select distinct unnest(regexp_extract_all(lower(text), "
                f"'[a-z0-9]+')) from read_parquet('{d}/documents.parquet')"
            ).fetchall()
            vocab.update(r[0] for r in rows)
        con.close()
    except ImportError:
        pass  # no duckdb: fixture vocab only (sentinel still catches gaps)
    words = sorted(vocab)
    keys = ",".join(f"'{w}'" for w in words)
    vals = ",".join(str(len(encode_word(w))) for w in words)
    toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"
    per_doc = (
        f"coalesce(list_sum(list_transform({toks}, "
        f"t -> coalesce(map([{keys}],[{vals}])[t][1], 1000000000))), 0)"
    )
    return (
        f"select lang, count(*) as n_docs, sum({per_doc})::bigint as total_bpe_tokens "
        "from documents group by lang"
    )


def _ann_lsh_oracle_sql(k: int = 5, n_queries: int = 20) -> str:
    """DuckDB twin of ann_topk_lsh: the seeded hyperplanes are embedded as
    SQL constants (rounded identically on both engines), so the bucket
    assignment, candidate join, and exact 4dp-cosine rerank are reproduced
    EXACTLY — a full hash-match oracle for the approximate algorithm."""
    from paraocr_spark.operators.similarity import _BITS, _DIM_DEFAULT, _TABLES, _hyperplanes

    H = _hyperplanes(_DIM_DEFAULT, _BITS, _TABLES)  # (L, bits, dim)
    bucket_exprs = []
    for t in range(_TABLES):
        terms = []
        for b in range(_BITS):
            plane = "[" + ",".join(repr(x) for x in H[t, b]) + "]::double[]"
            terms.append(
                f"(case when list_dot_product(e, {plane}) > 0 then {1 << b} else 0 end)"
            )
        bucket_exprs.append("(" + " + ".join(terms) + ")::bigint")
    buckets = ",\n    ".join(bucket_exprs)
    return f"""
with v as (
  select vec_id, embedding::double[] as e from embeddings
), sig as (
  select vec_id, [{buckets}] as buckets from v
), ex as (
  select vec_id, t.range as tbl, buckets[t.range + 1] as bucket
  from sig cross join range({_TABLES}) t
), cands as (
  select distinct q.vec_id as q, s.vec_id as nb
  from (select * from ex where vec_id < {n_queries}) q
  join ex s on q.tbl = s.tbl and q.bucket = s.bucket and s.vec_id != q.vec_id
), scored as (
  select c.q, c.nb, round(list_cosine_similarity(a.e, b.e), 4) as cosine
  from cands c join v a on a.vec_id = c.q join v b on b.vec_id = c.nb
)
select q, nb, cosine,
       row_number() over (partition by q order by cosine desc, nb asc) as rank
from scored qualify rank <= {k}
"""


def _lsh_sig_ctes() -> str:
    """Shared CTEs (v, sig, ex) reproducing lsh_signatures exactly: the
    seeded hyperplanes are embedded as SQL constants."""
    from paraocr_spark.operators.similarity import _BITS, _DIM_DEFAULT, _TABLES, _hyperplanes

    H = _hyperplanes(_DIM_DEFAULT, _BITS, _TABLES)  # (L, bits, dim)
    bucket_exprs = []
    for t in range(_TABLES):
        terms = []
        for b in range(_BITS):
            plane = "[" + ",".join(repr(x) for x in H[t, b]) + "]::double[]"
            terms.append(
                f"(case when list_dot_product(e, {plane}) > 0 then {1 << b} else 0 end)"
            )
        bucket_exprs.append("(" + " + ".join(terms) + ")::bigint")
    buckets = ",\n    ".join(bucket_exprs)
    return f"""
with v as (
  select vec_id, embedding::double[] as e from embeddings
), sig as (
  select vec_id, [{buckets}] as buckets from v
), ex as (
  select vec_id, t.range as tbl, buckets[t.range + 1] as bucket
  from sig cross join range({_TABLES}) t
)"""


def _neardup_lsh_oracle_sql(threshold: float) -> str:
    """DuckDB twin of neardup_pairs_lsh: identical bucket candidates from
    the embedded hyperplanes, identical exact-cosine verify."""
    return (
        _lsh_sig_ctes()
        + f""", cands as (
  select distinct x.vec_id as a, y.vec_id as b
  from ex x join ex y on x.tbl = y.tbl and x.bucket = y.bucket and x.vec_id < y.vec_id
)
select c.a, c.b, round(list_cosine_similarity(va.e, vb.e), 4) as cosine
from cands c join v va on va.vec_id = c.a join v vb on vb.vec_id = c.b
where round(list_cosine_similarity(va.e, vb.e), 4) >= {threshold}
"""
    )


def _neardup_auto_oracle_sql(threshold: float) -> str:
    """Twin of neardup_pairs_auto's routing: count the gate SF's embeddings
    (same probe the Spark side runs) and emit the SQL of whichever path the
    operator will take — exact all-pairs under _NEARDUP_EXACT_MAX, the LSH
    twin above it."""
    import duckdb

    con = duckdb.connect()
    n = con.sql(
        f"select count(*) from read_parquet('{_oracle_sf_dir()}/embeddings.parquet')"
    ).fetchone()[0]
    con.close()
    if n <= _NEARDUP_EXACT_MAX:
        return (
            "select a.vec_id as a, b.vec_id as b, "
            "round(list_cosine_similarity(a.embedding::double[], b.embedding::double[]), 4) as cosine "
            "from embeddings a join embeddings b on a.vec_id < b.vec_id "
            "where round(list_cosine_similarity(a.embedding::double[], b.embedding::double[]), 4) "
            f">= {threshold}"
        )
    return _neardup_lsh_oracle_sql(threshold)


def _ivf_recall_oracle_sql(k: int = 5, n_queries: int = 20,
                           n_probe: int = 4) -> str:
    """DuckDB twin of ann_topk_ivf_recall: the deterministic centroids are
    computed with the SAME numpy code (select_centroids math) over the gate
    corpus and embedded as constants, so assignment/probing/rerank reproduce
    exactly (6dp dots, lowest-cell ties, 4dp cosine rerank)."""
    import numpy as np

    from paraocr_spark.operators.similarity import _CENTROID_STRIDE

    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        "select vec_id, embedding from "
        f"read_parquet('{_oracle_sf_dir()}/embeddings.parquet') "
        f"where vec_id % {_CENTROID_STRIDE} = 0 and vec_id < {16 * _CENTROID_STRIDE} "
        "order by vec_id"
    ).fetchall()
    con.close()
    C = np.array([list(r[1]) for r in rows], dtype=np.float64)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    C = np.round(C, 6)
    cent_values = ", ".join(
        f"({cell}, [" + ",".join(repr(x) for x in C[cell]) + "]::double[])"
        for cell in range(len(C))
    )
    return f"""
with v as (
  select vec_id, embedding::double[] as e from embeddings
), cent(cell, c) as (
  values {cent_values}
), dots as (
  select v.vec_id, cent.cell, round(list_dot_product(v.e, cent.c), 6) as d
  from v cross join cent
), asg as (
  select vec_id, cell from (
    select vec_id, cell,
           row_number() over (partition by vec_id order by d desc, cell asc) as rn
    from dots
  ) where rn = 1
), probes as (
  select vec_id as q, cell from (
    select vec_id, cell,
           row_number() over (partition by vec_id order by d desc, cell asc) as rn
    from dots where vec_id < {n_queries}
  ) where rn <= {n_probe}
), cands as (
  select distinct p.q, a.vec_id as nb
  from probes p join asg a on a.cell = p.cell
  where a.vec_id != p.q
), scored as (
  select c.q, c.nb, round(list_cosine_similarity(qv.e, nv.e), 4) as cosine
  from cands c join v qv on qv.vec_id = c.q join v nv on nv.vec_id = c.nb
), ivf as (
  select q, nb from (
    select q, nb, row_number() over (partition by q order by cosine desc, nb asc) as rn
    from scored
  ) where rn <= {k}
), brute as (
  select q, nb from (
    select qv.vec_id as q, nv.vec_id as nb,
           row_number() over (partition by qv.vec_id
             order by round(list_cosine_similarity(qv.e, nv.e), 4) desc,
                      nv.vec_id asc) as rn
    from v qv join v nv on nv.vec_id != qv.vec_id
    where qv.vec_id < {n_queries}
  ) where rn <= {k}
), hits as (
  select i.q, count(*) as n_hits
  from ivf i join brute b on b.q = i.q and b.nb = i.nb
  group by i.q
)
select qs.q, coalesce(h.n_hits, 0)::bigint as n_hits,
       round(coalesce(h.n_hits, 0) / {k}.0, 4) as recall
from (select distinct vec_id as q from v where vec_id < {n_queries}) qs
left join hits h using (q)
"""


def _decontaminate_oracle_sql(n: int) -> str:
    """DuckDB twin of decontaminate over the %97 train/test split."""
    terms = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    return f"""
with toks as (
  select doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') as ws from documents
), grams as (
  select doc_id,
         unnest(list_distinct(list_transform(range(1, len(ws) - {n - 2}),
                i -> {terms}))) as g
  from toks where len(ws) >= {n}
)
select te.doc_id as test_id,
       count(distinct te.g) as n_hits,
       count(distinct tr.doc_id) as n_train_docs
from (select * from grams where doc_id % 97 = 0) te
join (select * from grams where doc_id % 97 <> 0) tr
  on te.g = tr.g and te.doc_id <> tr.doc_id
group by te.doc_id
"""


def oracle_sql() -> dict[str, str]:
    from paraocr_spark.functions.text import LANG_MARKERS, STOPWORDS_EN

    valid_ratio, dict_ratio = _gate_sql()

    gate = (
        f"(length(text) >= 100 and ({valid_ratio}) >= 0.85 and ({dict_ratio}) >= 0.30)"
    )

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    toks_an = "regexp_extract_all(text, '[A-Za-z0-9]+')"
    stop_ratio = (
        f"case when len({toks_an}) > 0 then "
        f"len(list_filter({toks_an}, t -> lower(t) in ({stop_list})))::double / len({toks_an}) "
        "else 0.0 end"
    )
    alpha_ratio = (
        "case when length(text) > 0 then "
        "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::double / length(text) "
        "else 0.0 end"
    )
    # relational gate used by functions/text.py:quality_gate (strip invalid,
    # count what remains)
    rel_valid = (
        "case when length(text) > 0 then "
        "length(regexp_replace(text, '[^A-Za-z0-9\\s.,;:!?\\-''\"()]', '', 'g'))::double"
        " / length(text) else 0.0 end"
    )
    rel_gate = (
        f"(length(text) >= 100 and ({rel_valid}) >= 0.85 and ({stop_ratio}) >= 0.30)"
    )

    lang_cases = []
    hit_exprs = {}
    for lang, markers in LANG_MARKERS.items():
        mlist = ", ".join(f"'{m}'" for m in markers)
        hit_exprs[lang] = (
            f"len(list_filter(list_transform({toks_an}, t -> lower(t)),"
            f" t -> t in ({mlist})))"
        )
    greatest = "greatest(" + ", ".join(hit_exprs.values()) + ")"
    for lang in LANG_MARKERS:  # first in order wins ties
        lang_cases.append(
            f"when {hit_exprs[lang]} > 0 and {hit_exprs[lang]} = {greatest} then '{lang}'"
        )
    lang_case = "case " + " ".join(lang_cases) + " else 'und' end"

    norm = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

    return {
        "extract_html_roundtrip": (
            f"select {_URL} as url, "
            "regexp_replace(trim(text), '\\s+', ' ', 'g') as extracted_text, "
            "'html_extract' as method from documents"
        ),
        "extract_fastpath_gate": (
            f"select {_URL} as url, "
            f"case when {gate} then 'native_text' else 'error' end as method, "
            f"case when {gate} then NULL else 'no_content' end as error "
            "from documents"
        ),
        "extract_features": _features_oracle_sql(),
        "resume_anti_join": (
            f"select {_URL} as url from documents where doc_id % 3 <> 0"
        ),
        "lineage_rollup": (
            "select l_returnflag, l_linestatus, round(sum(l_quantity), 6) as sum_qty, "
            "round(sum(l_extendedprice), 6) as sum_price, round(avg(l_discount), 6) as avg_disc, "
            "count(*) as n_rows from lineitem group by l_returnflag, l_linestatus"
        ),
        "page_assembly": (
            "select user_id, string_agg(event_type, '|' order by ts, event_id) as timeline, "
            "count(*) as n_events from events group by user_id"
        ),
        "quality_gate": (
            f"select doc_id, round(({alpha_ratio} + {stop_ratio}) / 2.0, 4) as qscore, "
            f"case when {rel_gate} then 1 else 0 end as passes from documents"
        ),
        "dedup_exact": (
            f"select md5({norm}) as fp, min(doc_id) as keeper, count(*) as n_copies "
            "from documents group by 1"
        ),
        "dedup_ngram_jaccard": _shingles_sql(0.5),
        "dedup_minhash_lsh": _shingles_sql(0.9),
        "dedup_simhash": _simhash_oracle_sql(max_hamming=3, nbits=60),
        "neardup_embedding": _neardup_auto_oracle_sql(threshold=0.4),
        "ann_topk": (
            "select q.vec_id as q, n.vec_id as nb, "
            "round(list_cosine_similarity(q.embedding::double[], n.embedding::double[]), 4) as cosine, "
            "row_number() over (partition by q.vec_id "
            "order by round(list_cosine_similarity(q.embedding::double[], n.embedding::double[]), 4) desc, n.vec_id asc) as rank "
            "from embeddings q join embeddings n on q.vec_id != n.vec_id "
            "where q.vec_id < 20 "
            "qualify rank <= 5"
        ),
        "ann_topk_ivf": (
            "select q.vec_id as q, n.vec_id as nb, "
            "round(list_cosine_similarity(q.embedding::double[], n.embedding::double[]), 4) as cosine, "
            "row_number() over (partition by q.vec_id "
            "order by round(list_cosine_similarity(q.embedding::double[], n.embedding::double[]), 4) desc, n.vec_id asc) as rank "
            "from embeddings q join embeddings n on q.vec_id != n.vec_id "
            "where q.vec_id < 20 "
            "qualify rank <= 5"
        ),
        "ann_topk_lsh": _ann_lsh_oracle_sql(k=5, n_queries=20),
        "neardup_lsh": _neardup_lsh_oracle_sql(threshold=0.3),
        "ann_topk_ivf_recall": _ivf_recall_oracle_sql(k=5, n_queries=20, n_probe=4),
        "streaming_extract": (
            f"select {_URL} as url, "
            "regexp_replace(trim(text), '\\s+', ' ', 'g') as extracted_text, "
            "'html_extract' as method from documents"
        ),
        "decontaminate": _decontaminate_oracle_sql(n=4),
        "stratified_sample": (
            "select doc_id, lang from documents "
            "where ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 1000 < "
            "case when lang = 'en' then 300 when lang = 'zh' then 200 else 100 end"
        ),
        "tfidf_top_terms": """
with toks as (
  select doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) as term
  from documents
), tf as (
  select doc_id, term, count(*) as tf from toks group by 1, 2
), df as (
  select term, count(distinct doc_id) as df from toks group by 1
), n as (
  select count(distinct doc_id) as n from documents
)
select tf.doc_id as id, tf.term,
       round(tf.tf * ln(n.n / df.df), 6) as tfidf,
       row_number() over (partition by tf.doc_id
         order by round(tf.tf * ln(n.n / df.df), 6) desc, tf.term asc) as rank
from tf join df using (term) cross join n
qualify rank <= 3
""",
        "gopher_quality": f"""
with base as (
  select doc_id, string_split_regex(trim(text), '\\s+') as ws,
         length(trim(text)) > 0 as hw
  from documents
), sig as (
  select doc_id,
    case when hw then len(ws) else 0 end as n_words,
    case when hw then round(list_sum(list_transform(ws, w -> length(w)))::double / len(ws), 4) else 0.0 end as mean_word_len,
    case when hw then list_max(list_transform(ws, w -> length(w))) else 0 end as max_word_len,
    case when hw then round(len(list_distinct(ws))::double / len(ws), 4) else 0.0 end as distinct_ratio,
    case when hw then round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::double / len(ws), 4) else 0.0 end as alpha_word_ratio,
    case when hw then len(list_distinct(list_filter(list_transform(ws, w -> lower(w)), w -> list_contains([{stop_list}], w)))) else 0 end as stop_hits
  from base
)
select doc_id, n_words, mean_word_len, max_word_len, distinct_ratio,
       alpha_word_ratio, stop_hits,
       (n_words between 50 and 100000 and mean_word_len between 3.0 and 10.0
        and distinct_ratio >= 0.2 and alpha_word_ratio >= 0.8
        and stop_hits >= 2) as pass_gate
from sig
""",
        "media_stats": """
with g as (
  select doc_id as id, 4 + doc_id % 8 as w, 3 + doc_id % 5 as h, 3 as c
  from documents
), r as (
  select id,
    case when id % 13 = 0 then 'unknown' else 'image' end as kind,
    id % 13 <> 0 as valid,
    case when id % 13 = 0 then 4 + id % 7
         when id % 17 = 0 then 11 + (w*h*c) // 2
         else 11 + w*h*c end as bytes,
    case when id % 13 = 0 or id % 17 = 0 then null
         else (id % 256)::double end as mean_pixel
  from g
)
select kind, valid, count(*)::bigint as n_media, sum(bytes)::bigint as total_bytes,
       round(coalesce(sum(mean_pixel), 0.0), 4) as sum_mean_pixel,
       sum(case when mean_pixel is null then 1 else 0 end)::bigint as n_errors,
       coalesce(round(avg(mean_pixel), 4), -1.0) as avg_mean_pixel
from r group by kind, valid
""",
        "span_dedup": """
with d as (
  select doc_id as id, string_split(trim(text), ' ') as ws
  from documents where text is not null
), ex as (
  select id, u.pos as pos, u.win as win from (
    select id, unnest(list_transform(range(0, cast(ceil(len(ws) / 5.0) as bigint)),
      r -> struct_pack(pos := r,
                       win := array_to_string(ws[r*5+1 : r*5+5], ' ')))) as u
    from d
  )
), ranked as (
  select id, pos, win,
         row_number() over (partition by win order by id, pos) as rn
  from ex
), rebuilt as (
  select id, string_agg(win, ' ' order by pos) as clean_text,
         count(*) as n_kept
  from ranked where rn = 1 group by id
), totals as (
  select id, count(*) as n_windows from ex group by id
)
select t.id, coalesce(r.clean_text, '') as clean_text,
       t.n_windows::bigint as n_windows,
       (t.n_windows - coalesce(r.n_kept, 0))::bigint as n_removed
from totals t left join rebuilt r on t.id = r.id
""",
        # composed pipeline twin: extract (whitespace-normalize, the html
        # roundtrip identity) -> gopher gate (rounded signals, distinct
        # stops) -> w=5 span dedup -> exact-jaccard>=0.9 near-dup drop
        # (fair for the banded MinHash at t=0.9, recall ~1-4e-8) -> md5-60
        # stratified sample. Every stage mirrors its standalone oracle.
        "clean_corpus": f"""
with ext as (
  select doc_id, lang, regexp_replace(trim(text), '\\s+', ' ', 'g') as text
  from documents where text is not null
), sigb as (
  select doc_id, lang, text, string_split(text, ' ') as ws,
         length(text) > 0 as hw
  from ext
), sig as (
  select doc_id, lang, text, ws,
    case when hw then len(ws) else 0 end as n_words,
    case when hw then round(list_sum(list_transform(ws, w -> length(w)))::double / len(ws), 4) else 0.0 end as mean_word_len,
    case when hw then round(len(list_distinct(ws))::double / len(ws), 4) else 0.0 end as distinct_ratio,
    case when hw then round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::double / len(ws), 4) else 0.0 end as alpha_word_ratio,
    case when hw then len(list_distinct(list_filter(list_transform(ws, w -> lower(w)), w -> list_contains([{stop_list}], w)))) else 0 end as stop_hits
  from sigb
), gated as (
  select doc_id, lang, ws from sig
  where n_words between 50 and 100000 and mean_word_len between 3.0 and 10.0
    and distinct_ratio >= 0.2 and alpha_word_ratio >= 0.8 and stop_hits >= 2
), ex as (
  select id, u.pos as pos, u.win as win from (
    select doc_id as id, unnest(list_transform(range(0, cast(ceil(len(ws) / 5.0) as bigint)),
      r -> struct_pack(pos := r, win := array_to_string(ws[r*5+1 : r*5+5], ' ')))) as u
    from gated
  )
), ranked as (
  select id, pos, win, row_number() over (partition by win order by id, pos) as rn from ex
), rebuilt as (
  select id, string_agg(win, ' ' order by pos) as clean_text, count(*) as n_kept
  from ranked where rn = 1 group by id
), totals as (
  select id, count(*) as n_windows from ex group by id
), cleaned as (
  select t.id, coalesce(r.clean_text, '') as clean_text,
         t.n_windows::bigint as n_windows,
         (t.n_windows - coalesce(r.n_kept, 0))::bigint as n_removed
  from totals t left join rebuilt r on t.id = r.id
), cw as (
  select id, clean_text, string_split(clean_text, ' ') as cws from cleaned
), s as (
  select id, case when len(cws) >= 3 then
    list_distinct(list_transform(range(1, len(cws) - 1), i -> cws[i] || ' ' || cws[i+1] || ' ' || cws[i+2]))
    else [clean_text] end as sh
  from cw
), pairs as (
  select a.id as a, b.id as b from s a join s b on a.id < b.id
  where len(list_intersect(a.sh, b.sh))::double
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.9
), survivors as (
  select c.* from cleaned c where c.id not in (select b from pairs)
)
select s.id as doc_id, g.lang, s.n_windows, s.n_removed,
       length(s.clean_text)::bigint as clean_len,
       md5(s.clean_text) as fp
from survivors s join gated g on s.id = g.doc_id
where ('0x' || substr(md5(s.id::varchar), 1, 15))::bigint % 1000 <
      case when g.lang = 'en' then 300 when g.lang = 'zh' then 200 else 100 end
""",
        "lang_id": (
            f"select {lang_case} as lang_pred, count(*) as n from documents group by 1"
        ),
        "lang_id_ngram": _lang_ngram_oracle_sql(),
        "doc_stats": (
            # ::bigint casts: DuckDB sum(BIGINT) yields HUGEINT, which pandas
            # renders as float64 ('1136.0') and the driver's value hash then
            # mismatches Spark's bigint ('1136')
            f"select source, count(*) as n_docs, sum(len({toks_an}))::bigint as total_tokens, "
            "sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::bigint as total_bpe_tokens, "
            "round(avg(n_chars), 6) as avg_chars from documents group by source"
        ),
        "doc_stats_bpe": _bpe_oracle_sql(),
        "fingerprint": (
            f"select doc_id, md5({norm}) as fp_md5, sha256({norm}) as fp_sha256 from documents"
        ),
        "length_quantiles": (
            "select lang, round(quantile_cont(n_chars, 0.5), 6) as p50, "
            "round(quantile_cont(n_chars, 0.9), 6) as p90, "
            "round(quantile_cont(n_chars, 0.99), 6) as p99, count(*) as n "
            "from documents group by lang"
        ),
        "doc_stats_cube": (
            "select lang, source, count(*) as n_docs, sum(n_chars)::bigint as total_chars "
            "from documents group by cube (lang, source)"
        ),
        "skew_salted_rollup": (
            "select l_suppkey, round(sum(l_quantity), 6) as sum_qty, count(*) as n_rows "
            "from lineitem group by l_suppkey"
        ),
        "window_topk_sources": (
            "select lang, source, sum(n_chars)::bigint as total_chars, "
            "row_number() over (partition by lang order by sum(n_chars) desc, source asc) as rank "
            "from documents group by lang, source qualify rank <= 3"
        ),
        "events_window_agg": (
            "select strftime(time_bucket(interval 1 hour, ts), '%Y-%m-%d %H:%M:%S') as window_start, "
            "event_type, count(*) as n, round(sum(value), 6) as sum_value "
            "from events group by 1, 2"
        ),
    }
