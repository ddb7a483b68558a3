"""The vectorized Arrow-batch extraction kernel (the engine's hot path).

Re-expresses the reference's five-stage multiprocessing engine
(parallel.py:214-597: scan -> dispatch -> route -> render+OCR pools ->
merge/write) as ONE ``mapInArrow`` over Arrow batches:

  * per document, the backend (core/routes.py by default) routes (the
    native-text gate, layout-vs-html dispatch, error tagging: the analogs
    of ``worker_dispatcher``, processors.py:24-59, and the gate,
    parallel.py:295-334) and parses (DOM tokenize / layout decode: the
    reference's render+OCR inner kernel, processors.py:63-115,
    gpu_worker.py:56-106). Parsing a document is inherently a
    per-document operation; the win over the reference is that batches
    stream through executors with no process pools, no temp files, and no
    driver coordination;
  * the batch goes in and out as Arrow: input columns are read with
    ``to_pylist()``, unchanged ones pass through as the input's own
    arrays, and new ones are built from buffers (operators/arrow_cols.py),
    so the worker never imports pandas;
  * errors stay in-band (``error`` column), never dropped or thrown —
    parallel.py:565-569 semantics;
  * per-batch wall time is attributed evenly across the batch's rows
    (exactly the reference's attribution, parallel.py:42-49) and rolled up
    per partition into the lineage table required by the north rule.

Scale notes (100 TB / 1000 executors): the kernel is embarrassingly
parallel — no shuffle at all for non-giant docs; layout docs larger than
one scan split are salted into shards upstream (operators/skew.py) and
reassembled with one small groupBy over only the giant urls. Input
partitioning is whatever the scan gives (maxPartitionBytes); Arrow batch
size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` and
``maxBytesPerBatch`` (job.build_session).
"""

from __future__ import annotations

import functools
import time
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paraocr_spark import PAGE_BREAK
from paraocr_spark.core.reference import METHOD_ERROR, METHOD_LAYOUT

from paraocr_spark.core.features import (FEATURE_CAP, FEATURES_DDL,
                                          compute_features_batch)
from paraocr_spark.operators import arrow_cols as ac
from paraocr_spark.operators.lineage import report, tally
from paraocr_spark.operators.shard_cache import ShardCache, extract_shards

#: (name, Spark DDL type) of every extracted column; the schema DDL strings
#: and the kernel's output names both derive from these lists
_EXTRACTED_FIELDS = [
    ("url", "string"), ("warc_ts", "timestamp"), ("lang", "string"),
    ("extracted_text", "string"),
    ("spans", "array<struct<start:long,end:long>>"), ("method", "string"),
    ("error", "string"), ("features", FEATURES_DDL),
]
_KERNEL_FIELDS = _EXTRACTED_FIELDS + [
    ("shard_id", "int"), ("n_shards", "int"), ("_pid", "int"),
    ("_doc_bytes", "long"), ("_wall_s", "double"),
]
EXTRACTED_SCHEMA_DDL = ac.ddl(_EXTRACTED_FIELDS)
_KERNEL_SCHEMA_DDL = ac.ddl(_KERNEL_FIELDS)
_KERNEL_COLS = [name for name, _ in _KERNEL_FIELDS]

_BASE_COLS = ["url", "warc_ts", "html", "text", "lang"]
_METRIC_COLS = ("_pid", "_doc_bytes", "_wall_s")


def _extract_batch(batch: pa.RecordBatch, pid: int, backend_spec: str,
                   backend_kwargs: dict | None) -> pa.RecordBatch:
    """Backend extraction + engine-side bookkeeping (features, metrics).

    The route/parse logic lives in the backend (backends.py registry,
    default: core/routes.py:RoutedExtractorBackend — resolved ONCE per
    Python worker); this wrapper owns what every backend shares: Arrow
    in and out, per-doc features, shard passthrough, and the lineage
    metric columns. ``batch`` carries the kernel input (url, warc_ts,
    html, text, lang, shard_id, n_shards); the backend gets its columns
    as lists."""
    from paraocr_spark.backends import BACKEND_INPUT_COLS, get_backend

    t0 = time.perf_counter()
    n = batch.num_rows
    cols = {c: batch.column(c).to_pylist()
            for c in (*BACKEND_INPUT_COLS, "shard_id", "n_shards")}
    res = get_backend(backend_spec, backend_kwargs).extract_batch(cols)
    ext = list(res["extracted_text"])
    doc_bytes = np.fromiter((0 if h is None else len(h) for h in cols["html"]),
                            np.int64, n)

    # per-doc training-data features, same pass (no second scan / job);
    # shards of giants get theirs after reassembly (_merge_shards_relational).
    # Batched kernel: simhash + rolling hash run as one numpy pass over the
    # whole Arrow batch (bit-identical to per-doc compute_features).
    whole = [k <= 1 for k in cols["n_shards"]]
    feats = compute_features_batch(
        [t if w else None for t, w in zip(ext, whole)])
    feats = [f if w else None for f, w in zip(feats, whole)]

    wall = time.perf_counter() - t0
    return pa.RecordBatch.from_arrays(
        [
            batch.column("url"), batch.column("warc_ts"), batch.column("lang"),
            ac.strings(ext),
            ac.spans_array(res["spans"]),
            ac.strings(res["method"]),
            ac.strings(res["error"]),
            ac.features_array(feats),
            batch.column("shard_id"), batch.column("n_shards"),
            ac.int32s(np.full(n, pid)),
            ac.fixed(pa.int64(), doc_bytes, np.int64),
            # even attribution across the batch — parallel.py:42-49 analog
            ac.fixed(pa.float64(), np.full(n, wall / max(n, 1)), np.float64),
        ],
        names=_KERNEL_COLS,
    )


_zip_directories_memoized = False


def _memoize_zip_directories() -> None:
    """Read each unchanged zip archive's directory once per worker process.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (worker_util.setup_spark_files). On Python 3.11 that
    makes every cached ``zipimporter`` re-read its archive's whole central
    directory; a worker holds 16 of them, over pyspark.zip, the py4j zip
    and the spark-core jar. Measured at local[4] on the perfbench
    incremental run: 0.13-0.26 s per task before its first row, and about
    0.9 of the 1.4 Python CPU-s each repetition spent. It is also the
    noisiest part of a short kernel stage. Memoized on (path, mtime, size),
    so an archive that changed is still re-read. Called from the kernel,
    so it runs in Python workers only; a reused worker keeps it for every
    later task."""
    global _zip_directories_memoized
    if _zip_directories_memoized:
        return
    _zip_directories_memoized = True
    import os
    import zipimport

    read = getattr(zipimport, "_read_directory", None)
    if read is None:  # a zipimport without this private helper
        return
    memo: dict = {}

    def read_directory(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return read(archive)  # raises zipimport's own error
        key = (archive, st.st_mtime_ns, st.st_size)
        if key not in memo:
            memo[key] = read(archive)
        return memo[key]

    zipimport._read_directory = read_directory


def extract_kernel(df: DataFrame, backend: str = "default",
                   backend_kwargs: dict | None = None,
                   lineage_acc=None) -> DataFrame:
    """mapInArrow wrapper. Input needs url/warc_ts/html/text/lang plus
    shard_id/n_shards (_unsharded, or salt_pages' shards). ``backend`` is a
    registry name or dotted module.Class path (backends.py); only the
    strings travel in the closure — workers resolve them locally.

    ``lineage_acc`` (a LineageAccParam accumulator) fuses the lineage
    rollup into THIS action: the task counts every row it outputs under its
    _pid and sends one update at completion (operators/lineage.py), so the
    caller gets lineage without a second job over the written table. Pass
    it only where every output row is a written row — the normal branch;
    shard rows are counted after reassembly (_merge_shards_relational).
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _memoize_zip_directories()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        totals: dict = {}
        for b in batches:
            if b.num_rows:
                out = _extract_batch(b, pid, backend, backend_kwargs)
                if lineage_acc is not None:
                    tally(totals, *(out.column(c) for c in _METRIC_COLS))
                yield out
        report(lineage_acc, totals)

    return df.mapInArrow(run, schema=_KERNEL_SCHEMA_DDL)


def _giant_features(batches: Iterator[tuple], lineage_acc=None
                    ) -> Iterator[pa.Array]:
    """The giant reassembly's features: one ``features`` array per batch of
    (prefix, n_chars, _pid, _doc_bytes, _wall_s) arrays.

    ``prefix`` is already text[:FEATURE_CAP] (JVM substring; both count
    code points) — compute_features_batch re-caps it, a no-op. Its
    n_chars is len(prefix); the uncapped JVM length overrides it (null
    text -> null length -> keep the zero-features 0). With
    ``lineage_acc``, each row counts under its merged metrics, sent as
    one update at task end (operators/lineage.py)."""
    totals: dict = {}
    for prefix, n_chars, pid, doc_bytes, wall_s in batches:
        feats = compute_features_batch(prefix.to_pylist())
        for f, n in zip(feats, n_chars.to_pylist()):
            if n is not None:
                f["n_chars"] = n
        if lineage_acc is not None:
            tally(totals, pid, doc_bytes, wall_s)
        yield ac.features_array(feats)
    report(lineage_acc, totals)


def _merge_shards_relational(kernel_out: DataFrame,
                             lineage_acc=None) -> DataFrame:
    """Reassemble giant-doc shards WITHOUT moving bytes through Python.

    groupBy(url) + array_sort(collect_list(struct(shard_id, ...))) gives a
    deterministic shard order (never shuffle order — SURVEY.md §7); the
    merged text is a JVM-side concat_ws, and span offsets shift via a
    higher-order aggregate() that carries a running offset. Only the final
    per-doc feature computation touches Python — as an iterator arrow_udf fed
    the JVM-side substring(text, 1, FEATURE_CAP) prefix plus length(text),
    so the merged giant text itself (tens of MB per doc) NEVER crosses
    Arrow: every feature field except n_chars derives from the capped
    prefix by construction (core/features.py docstring), and n_chars rides
    in as the JVM length.

    That UDF is also the Python task that finishes each merged row, so with
    ``lineage_acc`` it counts the row under its merged _pid, _doc_bytes and
    _wall_s (sums over the shards, cached or fresh) and sends one update at
    task end (operators/lineage.py).
    """
    pb = F.lit(PAGE_BREAK)
    grouped = kernel_out.groupBy("url").agg(
        F.array_sort(
            F.collect_list(F.struct("shard_id", "extracted_text", "spans", "error"))
        ).alias("arr"),
        F.first("warc_ts").alias("warc_ts"),
        F.first("lang").alias("lang"),
        F.min("_pid").alias("_pid"),
        F.sum("_doc_bytes").alias("_doc_bytes"),
        F.sum("_wall_s").alias("_wall_s"),
    )
    any_err = F.exists("arr", lambda x: x["error"].isNotNull())
    first_err = F.filter("arr", lambda x: x["error"].isNotNull())[0]["error"]
    merged_text = F.array_join(
        F.transform("arr", lambda x: x["extracted_text"]), PAGE_BREAK
    )
    # running-offset span shift: acc = (offset so far, spans so far)
    merged_spans = F.aggregate(
        "arr",
        F.struct(
            F.lit(0).cast("long").alias("off"),
            F.expr("array()").cast("array<struct<start:long,end:long>>").alias("sp"),
        ),
        lambda acc, x: F.struct(
            (acc["off"] + F.length(x["extracted_text"]) + F.length(pb)).alias("off"),
            F.concat(
                acc["sp"],
                F.transform(
                    x["spans"],
                    lambda s: F.struct(
                        (s["start"] + acc["off"]).alias("start"),
                        (s["end"] + acc["off"]).alias("end"),
                    ),
                ),
            ).alias("sp"),
        ),
        lambda acc: acc["sp"],
    )
    merged = grouped.select(
        "url", "warc_ts", "lang",
        F.when(any_err, F.lit(None).cast("string")).otherwise(merged_text).alias("extracted_text"),
        F.when(any_err, F.expr("array()").cast("array<struct<start:long,end:long>>"))
         .otherwise(merged_spans).alias("spans"),
        F.when(any_err, F.lit(METHOD_ERROR)).otherwise(F.lit(METHOD_LAYOUT)).alias("method"),
        F.when(any_err, first_err).otherwise(F.lit(None).cast("string")).alias("error"),
        "_pid", "_doc_bytes", "_wall_s",
    )

    @F.arrow_udf(FEATURES_DDL)
    def giant_features(
        batches: Iterator[tuple[pa.Array, pa.Array, pa.Array, pa.Array,
                                pa.Array]],
    ) -> Iterator[pa.Array]:
        yield from _giant_features(batches, lineage_acc)

    return merged.select(
        "url", "warc_ts", "lang", "extracted_text", "spans", "method",
        "error",
        giant_features(
            F.substring("extracted_text", 1, FEATURE_CAP),
            F.length("extracted_text"), "_pid", "_doc_bytes", "_wall_s",
        ).alias("features"),
        "_pid", "_doc_bytes", "_wall_s",
    )


def extract_pages(pages: DataFrame, *, salt: bool = True,
                  backend: str = "default",
                  backend_kwargs: dict | None = None,
                  lineage_acc=None,
                  n_buckets: int | None = None,
                  shard_cache: ShardCache | None = None) -> DataFrame:
    """Full extraction: split -> kernel -> shard reassembly -> union.

    Returns EXTRACTED_SCHEMA plus metric cols (_pid, _doc_bytes, _wall_s);
    callers project them away or roll them into lineage
    (operators/lineage.py). Exactly one output row per input url.

    Plan shape (scale-critical): the normal and giant branches split at the
    SOURCE, so the expensive kernel runs exactly once per row. Splitting
    after the kernel would re-execute the whole kernel DAG once per branch
    (Spark does not auto-cache a diamond); persisting the kernel output
    instead would materialize the full corpus at 100 TB. The giant branch
    is not cheap, though, even when no row reaches it: it scans the source
    a second time (and, under a resume, runs the anti-join a second time),
    and the write waits on its one-task stages — measured at local[4] on
    the perfbench crawl, 0.5-0.8 s wall and about 1.8 CPU-s per
    repetition. ``salt=False`` sends every row down the normal branch (no
    giant branch, no second scan); pipeline._extraction_plan passes it
    whenever the input's parquet footers rule out a doc larger than a scan
    split (sources.io.input_footprint). Unsalted extraction gives the same
    bytes, so that decision only ever costs speed.

    The normal kernel runs with its input's partitioning: no Exchange, the
    shuffle-free kernel plan. A coarse input is fanned out where it is
    read (sources.io.read_table, read_pages_zip), never here, so building
    this plan runs no Spark job (the shard cache's append aside).

    ``n_buckets`` (writers only) buckets each branch for
    sources.io.write_extracted BELOW the union — see union_branches.
    ``lineage_acc`` goes to the two tasks that finish written rows: the
    normal kernel and the giant reassembly, never the shard kernel.
    ``shard_cache`` takes the giant branch's shards through that cache
    (operators/shard_cache.extract_shards, EAGER: a Spark job while this
    plan is built); with no giant branch it is neither read nor written.
    """
    from paraocr_spark.operators.skew import salt_pages

    if salt:
        normal, giant_pages = split_normal_giants(pages)
    else:
        normal, giant_pages = _unsharded(pages), None
    branches = [
        extract_kernel(normal, backend, backend_kwargs,
                       lineage_acc).drop("shard_id", "n_shards")
    ]
    if giant_pages is not None:
        shards = salt_pages(giant_pages)
        if shard_cache is None:
            shard_out = extract_kernel(shards, backend, backend_kwargs)
        else:
            shard_out = extract_shards(
                shard_cache, shards, giant_pages,
                lambda todo: extract_kernel(todo, backend, backend_kwargs))
        branches.append(_merge_shards_relational(shard_out, lineage_acc))
    return union_branches(branches, n_buckets)


def union_branches(branches: list[DataFrame],
                   n_buckets: int | None = None) -> DataFrame:
    """unionByName the extraction branches (normal-kernel output, merged
    giants).

    With ``n_buckets`` each branch first gets its own warc_bucket hash
    exchange (sources.io.bucket_for_write, identical partition count on
    both sides), and the union zips the aligned partitions with no
    exchange above it. A single exchange above the union would put the
    normal kernel and the giant merge in ONE map stage, which cannot start
    until the giant chain's salt and shard-kernel stages finish — a
    serial prefix before any normal doc is extracted. Per-branch, the
    normal kernel's map stage runs concurrently with the giant chain
    (FP-Hadoop, VLDB'15: skew handling must not serialize the rest of the
    job)."""
    if n_buckets is not None:
        from paraocr_spark.sources.io import bucket_for_write

        branches = [bucket_for_write(b, n_buckets) for b in branches]
    return functools.reduce(DataFrame.unionByName, branches)


def split_normal_giants(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(normal_prepped, giant_pages): the gate-aware giant split. A giant
    is a layout doc larger than one scan split (operators/skew.py), the
    threshold read from the session when this is called.

    A giant layout payload accompanied by gate-PASSING native text must
    resolve native_text (the serial oracle checks fastpath_ok(text) FIRST,
    core/reference.py:43) — but the shard path never applies the gate. So
    only docs whose text DEFINITELY fails the gate (null or too short — a
    cheap Catalyst-visible sufficient-fail predicate) are sharded; the rare
    long-text giant falls through to the normal kernel, which applies the
    exact gate and can still layout-extract the whole doc correctly, just
    unsalted."""
    from paraocr_spark.core.quality import MIN_NATIVE_TEXT_CHARS
    from paraocr_spark.operators.skew import giant_bytes, giant_condition

    text_cant_fastpath = F.col("text").isNull() | (
        F.length("text") < F.lit(MIN_NATIVE_TEXT_CHARS)
    )
    giant_cond = F.coalesce(
        giant_condition(giant_bytes(pages.sparkSession)) & text_cant_fastpath,
        F.lit(False),
    )
    normal = _unsharded(pages.where(~giant_cond))
    giants = pages.where(giant_cond).select(*_BASE_COLS)
    return normal, giants


def _unsharded(pages: DataFrame) -> DataFrame:
    """Kernel input for whole (unsalted) documents: one shard of one."""
    return pages.select(
        *_BASE_COLS, F.lit(0).alias("shard_id"), F.lit(1).alias("n_shards"),
    )
