"""Iceberg-or-parquet IO with graceful fallback.

The north rule targets Iceberg tables partitioned by warc_ts bucket. The
sandbox has no Iceberg runtime jar, so writes fall back to parquet with the
same logical partitioning (bucket column materialized). The code path keeps
the Iceberg branch first so a cluster with the runtime jar uses snapshots
natively (they replace the reference's manifest cache, parallel.py:85-96).
"""

from __future__ import annotations

import math
import os
import pathlib
import shutil
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the default cap on an invocation's bucket(warc_ts) count: a write gets
#: one bucket per scan split of its input, at most this many
#: (pipeline.write_bucket_count)
WARC_BUCKETS = 64


def _iceberg_available(spark: SparkSession) -> bool:
    """Whether the Iceberg runtime is on the classpath, probed once per
    SparkContext and kept on it: the py4j ``Class.forName`` costs ~20 ms
    per call when Iceberg is absent (it converts the
    ClassNotFoundException), and every write_extracted and read_table
    asks. A new context, which may ship other jars, is probed again."""
    sc = spark.sparkContext
    if getattr(sc, "_paraocr_iceberg", None) is None:
        try:
            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.spark.SparkCatalog"
            )
            sc._paraocr_iceberg = True
        except Exception:
            sc._paraocr_iceberg = False
    return sc._paraocr_iceberg


def _bucket_key():
    """The key bucket(warc_ts) hashes; bucket_for_write's exchange hashes
    the same one."""
    return F.col("warc_ts").cast("long")


def with_warc_bucket(df: DataFrame, n_buckets: int = WARC_BUCKETS) -> DataFrame:
    """Materialize the Iceberg-style bucket(warc_ts) partition column."""
    return df.withColumn(
        "warc_bucket", F.pmod(F.hash(_bucket_key()), F.lit(n_buckets)))


def write_tasks(n_buckets: int, cores: int) -> int:
    """The write's partition count P for ``n_buckets``: the largest divisor
    of ``n_buckets`` that is at most ``cores`` (bucket_for_write). That is
    min(n_buckets, cores) for every count pipeline.write_bucket_count
    gives; a caller's own count with no divisor near the cores (a prime
    above them) writes on fewer tasks."""
    return max(d for d in range(1, min(n_buckets, cores) + 1)
               if n_buckets % d == 0)


def bucket_for_write(df: DataFrame, n_buckets: int = WARC_BUCKETS) -> DataFrame:
    """Add ``warc_bucket`` and hash-partition into P partitions on the
    bucket's own key, ``cast(warc_ts as bigint)``: the write layout's one
    exchange. P = write_tasks(n_buckets, defaultParallelism).

    The exchange's Murmur3 pmod P and with_warc_bucket's pmod n_buckets
    hash the same key with the same seed, and P divides n_buckets, so
    bucket b lands in partition b mod P: every bucket in exactly one
    partition (the partitioned write opens exactly one file per bucket),
    and every partition holds n_buckets / P buckets. Hashing the bucket
    number itself would pile small counts onto few tasks: 4 buckets
    hashed onto 4 partitions fill 2 of them, one with 3 buckets, so one
    task would write three quarters of the rows. P is sized to the cores,
    not the buckets: with 64 buckets on 4 cores the write runs 4 tasks
    holding 16 buckets each instead of 64 one-bucket tasks; at scale
    (cores >= n_buckets) P = n_buckets. The partition count is explicit,
    so AQE never coalesces it — two frames bucketed by this helper have
    identical partitioning and a Union of them zips partition i with
    partition i (``spark.sql.unionOutputPartitioning``, scoped on by
    write_extracted) instead of needing an exchange above it."""
    p = write_tasks(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
    return with_warc_bucket(df, n_buckets).repartition(p, _bucket_key())


def write_extracted(df: DataFrame, path: str, mode: str = "append",
                    n_buckets: int = WARC_BUCKETS) -> None:
    """Append extracted rows partitioned by (run_id, bucket(warc_ts)).

    ``mode="overwrite"`` needs a run_id column: it replaces, whole, each
    ``run_id=...`` directory df writes (_replace_runs) and touches no
    other run's, so a replayed stream micro-batch replaces its own run_id.

    run_id (when present) is the OUTER partition so each run's appends land
    in their own directories — ``job.py --errors`` prunes to the current
    run instead of scanning every prior append; within a run, a constant
    invocation_id column lets parquet file stats skip earlier resumes'
    files without reading their pages.

    An input that already carries ``warc_bucket`` must have been bucketed
    by bucket_for_write with the same ``n_buckets`` (extract_pages does so
    per branch, below its union, when given n_buckets): it is written with
    no further exchange. Any other input is bucketed here.

    ``n_buckets`` is the invocation's file count, one per bucket. The
    pipeline fronts pass the count pipeline._extraction_plan decided from
    the input's footers (pipeline.write_bucket_count: one bucket per scan
    split of input, at most ``PipelineConfig.warc_buckets``), so a small
    input writes few files.
    ``warc_bucket`` is a file-layout level of one invocation, not a stable
    key -> bucket map: two invocations may hash the same warc_ts into
    different buckets, and no reader relies on the number.

    Per-file cost: where ``NativeIO.isAvailable()`` is false (no
    libhadoop), Hadoop's ``RawLocalFileSystem.setPermission`` runs a
    ``chmod`` process for every file, ``.crc`` and partition directory it
    creates. Measured writing the cached 3000-doc perfbench crawl output
    (local[4], 4-core host): ~430 spawned processes and 1.2-1.3 s at 64
    buckets, ~55 processes and 0.7 s at 4 buckets."""
    spark = df.sparkSession
    if _iceberg_available(spark) and path.count(".") >= 1 and "/" not in path:
        # Iceberg catalog table name, e.g. "cat.db.extracted"; the table's
        # own bucket(warc_ts) transform partitions it
        df.drop("warc_bucket").writeTo(path).append()
        return
    parts = (["run_id"] if "run_id" in df.columns else []) + ["warc_bucket"]
    if mode == "overwrite" and parts[0] != "run_id":
        raise ValueError("write_extracted(mode='overwrite') replaces run_id "
                         "directories: df needs a run_id column")
    _check_partition_layout(path, parts[0])
    # co-locate each bucket in one task BEFORE the partitioned write:
    # without this every task holds an open writer per bucket (buckets x
    # tasks tiny files, writer memory, and a 6x wall-time hit measured at
    # 24k docs)
    if "warc_bucket" not in df.columns:
        df = bucket_for_write(df, n_buckets)
    target = path
    if mode == "overwrite":
        # not a dynamic overwrite: that replaces only the (run_id,
        # warc_bucket) leaves df writes, so a replay into fewer buckets
        # (a restart on another core count) would keep the first
        # attempt's extra buckets as duplicate rows. Write the runs to a
        # hidden staging dir, then swap each run_id dir in whole.
        import uuid

        _drop_stale_staging(spark, path)
        target = os.path.join(path, f"{_REPLACING}{uuid.uuid4().hex}")
        mode = "errorifexists"
    w = df.write.mode(mode).partitionBy(*parts)
    # url/extracted_text/spans are all-distinct per row: parquet dictionary
    # encoding buys nothing for them but pays hash-table build + lookup per
    # value until the 1MB dictionary overflows EVERY column chunk — measured
    # at 1.15M docs / 4 executors: write-stage wall 85->61 s, CPU 428->354 s
    # for +1.7% file size (the low-cardinality lang/method columns lose
    # their dict, a rounding error next to the text bytes)
    w = w.option("parquet.enable.dictionary", "false")
    # plannedWrite (default on) would SORT every task's rows by the
    # partition columns before writing — but the bucketing already puts
    # each (run_id, warc_bucket) value in one task (run_id is a literal per
    # invocation), so the sort moves the full output through an
    # UnsafeExternalSorter for nothing. Measured at 1.15M docs / 4
    # executors: the write stage burned 312 CPU-s (4.8x its 1-executor
    # cost — 8 concurrent sorters hit the host memory-bandwidth wall);
    # scoped off, the task-side writer keeps one open file per bucket it
    # holds. A task holds n_buckets/P buckets (bucket_for_write: 16
    # each for 64 on 4 cores), so allow max(32, n_buckets) concurrent
    # writers: above the cap FileFormatWriter falls back to sorting the
    # rest of the task's rows, the sort this scoping exists to avoid.
    # unionOutputPartitioning (Spark 4.1 default true) lets a Union of
    # per-branch bucketed inputs keep their common hash partitioning —
    # pinned here so a session that turned it off still gets one task
    # (and one file) per bucket. Restore all three after: other writers
    # (e.g. unbucketed saves) want the planned sort.
    scoped = {
        "spark.sql.optimizer.plannedWrite.enabled": "false",
        "spark.sql.maxConcurrentOutputFileWriters": str(max(32, n_buckets)),
        "spark.sql.unionOutputPartitioning": "true",
    }
    prev = {k: spark.conf.get(k) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        w.parquet(target)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    if target != path:
        _replace_runs(spark, target, path)


#: prefix of write_extracted's staging dir inside the table; Spark's
#: readers skip ``_``-prefixed dirs
_REPLACING = "_replacing-"


def _hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop Path class, FileSystem of ``path``): any filesystem Spark
    writes to works."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path  # type: ignore[union-attr]
    conf = spark._jsc.hadoopConfiguration()  # type: ignore[union-attr]
    return hpath, hpath(path).getFileSystem(conf)


def _drop_stale_staging(spark: SparkSession, path: str) -> None:
    """Remove the staging dirs a crashed overwrite left inside ``path``
    (one writer per table at a time, as a stream's checkpoint is)."""
    hpath, fs = _hadoop_fs(spark, path)
    if fs.exists(hpath(path)):
        for st in fs.listStatus(hpath(path)):
            if st.getPath().getName().startswith(_REPLACING):
                fs.delete(st.getPath(), True)


def _replace_runs(spark: SparkSession, staging: str, path: str) -> None:
    """Move each ``run_id=...`` dir of ``staging`` into ``path``, replacing
    the dir of that name there whole, then drop staging. A crash before
    the swap leaves the table as it was plus a hidden staging dir (the
    next overwrite removes it); a crash during it can leave a run missing
    until its replay."""
    hpath, fs = _hadoop_fs(spark, staging)
    for st in fs.listStatus(hpath(staging)):
        name = st.getPath().getName()
        if not name.startswith("run_id="):
            continue
        dest = hpath(path, name)
        # a rename onto an existing dir would move INTO it
        fs.delete(dest, True)
        if not fs.rename(st.getPath(), dest):
            raise OSError(f"could not move {st.getPath()} to {dest}")
    fs.delete(hpath(staging), True)


def _check_partition_layout(path: str, outer_col: str) -> None:
    """Refuse an append whose partition columns differ from the existing
    table's: mixing run_id=... and warc_bucket=... directories at the same
    level breaks Spark partition discovery for every subsequent read
    (including --resume of that same table). Filesystem paths only — the
    Iceberg branch evolves partition specs natively."""
    p = pathlib.Path(path)
    if not p.is_dir():
        return
    for child in p.iterdir():
        if child.is_dir() and "=" in child.name:
            existing = child.name.split("=", 1)[0]
            if existing != outer_col:
                raise ValueError(
                    f"partition layout mismatch at {path}: existing table is "
                    f"partitioned by {existing!r} but this write would add "
                    f"{outer_col}=... directories at the same level, which "
                    "breaks partition discovery for all readers. Migrate the "
                    "old table (rewrite with the new layout) or write to a "
                    "fresh path."
                )
            return  # first partition dir settles the layout


def write_lineage_rows(rows: list, path: str) -> None:
    """Append lineage rows (plain dicts, one per partition) to the lineage
    table from the DRIVER via pyarrow — no Spark job.

    The lineage payload is one row per kernel partition (tens to low
    thousands of rows even at 100 TB — it scales with task count, not data),
    so launching a distributed write job for it is pure fixed overhead: one
    scheduler round-trip + commit protocol per run that the r4 ladder
    decomposition showed capping N->4N scaling. A driver-local file append
    with a unique name is the same durability contract as a one-task Spark
    append (parquet dirs are just files; Spark reads the result
    identically), minus the job. Falls back to nothing if rows is empty —
    an empty append would only add a zero-row file.

    Remote paths (hdfs://, s3a://, ...) resolve through
    pyarrow.fs.FileSystem.from_uri (ADVICE r5: the previous os.makedirs +
    local write silently turned 'hdfs:/...' into a bogus LOCAL directory);
    plain paths keep the local fast path."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not rows:
        return
    schema = pa.schema([
        ("run_id", pa.string()),
        ("partition_id", pa.int32()),
        ("doc_count", pa.int64()),
        ("bytes", pa.int64()),
        ("wall_time_s", pa.float64()),
        ("config_fp", pa.string()),
        ("invocation_id", pa.string()),
    ])
    table = pa.Table.from_pylist(
        [{k: (int(r[k]) if k == "partition_id" else r[k]) for k in
          schema.names} for r in rows],
        schema=schema,
    )
    fname = f"part-{uuid.uuid4().hex}.snappy.parquet"
    if "://" in path:  # remote URI: resolve the scheme's filesystem
        from pyarrow import fs as pafs

        filesystem, fs_path = pafs.FileSystem.from_uri(path)
        filesystem.create_dir(fs_path, recursive=True)
        pq.write_table(table, f"{fs_path}/{fname}", filesystem=filesystem,
                       compression="snappy")
        return
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        table,
        os.path.join(path, fname),
        compression="snappy",
    )


#: where swap_in parks the live table between its two renames
SWAP_BACKUP = "__old"


def recover_swap(path: str, staging: str | None = None) -> None:
    """Reconcile what a crashed swap_in left beside ``path``: a crash
    between its renames left the table at ``path + SWAP_BACKUP`` and none
    at ``path``, so rename it back. With ``staging`` (a rewrite about to
    swap), also remove a stale staging dir and a stale backup beside a
    live table, so the rewrite's renames cannot collide with them."""
    backup = path.rstrip("/") + SWAP_BACKUP
    if os.path.isdir(backup) and not os.path.isdir(path):
        os.rename(backup, path)
    if staging is not None:
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(backup, ignore_errors=True)


def swap_in(staging: str, path: str) -> None:
    """Replace the table at ``path`` with ``staging``: park it at
    ``path + SWAP_BACKUP``, rename staging into place, drop the backup.
    os.rename is atomic on POSIX filesystems only; object stores have no
    rename, so a real deployment uses the Iceberg branch's
    snapshot-isolated rewrite_data_files instead."""
    backup = path.rstrip("/") + SWAP_BACKUP
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup, ignore_errors=True)


def compact_table(spark: SparkSession, path: str,
                  target_file_mb: int = 256) -> dict:
    """Small-files compaction for the extracted table (maintenance op).

    Incremental appends (streaming micro-batches, resume re-runs) accumulate
    small parquet files; at 100 TB the scan cost is dominated by file-open
    overhead. Rewrite each warc_bucket partition into ~target_file_mb files
    — the parquet stand-in for Iceberg's rewrite_data_files compaction.
    Writes to a staging dir then swaps (swap_in), so readers never see a
    half state, and first recovers what a crashed compaction left
    (recover_swap).
    """
    staging = path.rstrip("/") + "__compacting"
    recover_swap(path, staging)
    df = spark.read.parquet(path)
    total_bytes = sum(
        f.stat().st_size for f in pathlib.Path(path).rglob("*.parquet")
    )
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    parts = (["run_id"] if "run_id" in df.columns else []) + ["warc_bucket"]
    (
        df.repartition(n_files, F.col("warc_bucket"))
        .write.mode("overwrite").partitionBy(*parts).parquet(staging)
    )
    swap_in(staging, path)
    return {"total_bytes": total_bytes, "target_files": n_files}


#: JSONL pages schema: JSON cannot carry raw bytes, so the html payload
#: rides base64-encoded (the convention of JSONL crawl interchange dumps)
PAGES_JSONL_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html_b64 string, text string, lang string"
)


def read_pages_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S1 alternate source format: JSONL crawl dumps -> the pages schema.

    Explicit schema (never inferSchema — at 100 TB schema inference is a
    full extra pass over the data); unbase64 is a JVM expression, so the
    decode rides the scan with no Python. Output matches PAGES_SCHEMA_DDL
    exactly: every downstream operator works unchanged.
    """
    return (
        spark.read.schema(PAGES_JSONL_SCHEMA_DDL)
        # microsecond fraction FIRST (what write_pages_jsonl emits — Spark's
        # default writer format truncates to ms, silently losing sub-ms
        # digits on the roundtrip); each optional section is atomic, so
        # ms-only external dumps still parse via the [.SSS] fallback
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][.SSS][XXX]")
        .json(path)
        .select(
            "url", "warc_ts",
            F.unbase64("html_b64").alias("html"),
            "text", "lang",
        )
    )


def write_pages_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Inverse of read_pages_jsonl (tests + interchange exports).

    Explicit microsecond timestampFormat: Spark's default writes ms
    precision, so micro-precision warc_ts values would silently lose their
    sub-ms digits on the JSONL roundtrip."""
    (
        df.select(
            "url", "warc_ts",
            F.base64("html").alias("html_b64"),
            "text", "lang",
        )
        .write.mode(mode)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .json(path)
    )


def read_pages_zip(spark: SparkSession, path: str,
                   glob: str = "*.zip") -> DataFrame:
    """S10: ZIP ingestion as a distributed source (reference
    webui.py:70-118 `_collect_inputs`, ui_utils.py:708-746 — expand
    uploaded archives into per-document inputs; here minus the UI).

    ``binaryFile`` scans the archives (distributed, one task per archive —
    zip central directories live at EOF, so an archive can't be split
    below file level). Fewer archives than cores would run every
    downstream map stage on that many cores, so the expanded rows are then
    round-robined to defaultParallelism — decided here, from the archive
    count, with no Spark job. Each entry becomes one pages row:

      url      "<archive path>!<entry name>"  (stable, resume-friendly)
      warc_ts  the entry's zip timestamp (archive mtime when the entry
               predates zip's 1980 epoch) — deterministic, not read-time
      html     entry bytes; text/lang null (content routing decides)

    A corrupt archive yields ONE row carrying the raw archive bytes, so
    the kernel tags it METHOD_ERROR in-band (S6 semantics) instead of
    failing the scan — same convention as salt_pages' corrupt-giant path.
    """
    from paraocr_spark.sources.pages import PAGES_SCHEMA_DDL

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "modificationTime", "content")
    )

    def expand(batches):
        import io as _io
        import zipfile
        from datetime import datetime

        import pandas as pd

        cols = ["url", "warc_ts", "html", "text", "lang"]
        for b in batches:
            rows = []
            for apath, mtime, content in zip(
                b["path"], b["modificationTime"], b["content"]
            ):
                mt = mtime.to_pydatetime().replace(tzinfo=None)
                blob = bytes(content)
                try:
                    zf = zipfile.ZipFile(_io.BytesIO(blob))
                    infos = zf.infolist()
                except Exception:
                    rows.append((apath, mt, blob, None, None))
                    continue
                for info in infos:
                    if info.is_dir():
                        continue
                    try:
                        payload = zf.read(info)
                    except Exception:
                        # truncated/encrypted entry: empty payload routes
                        # to the error method in-band, scan never fails
                        payload = b""
                    try:
                        ts = datetime(*info.date_time)
                    except ValueError:
                        ts = mt
                    rows.append(
                        (f"{apath}!{info.filename}", ts, payload, None, None)
                    )
            yield pd.DataFrame(rows, columns=cols)

    pages = raw.mapInPandas(expand, schema=PAGES_SCHEMA_DDL)
    target = spark.sparkContext.defaultParallelism
    if len(raw.inputFiles()) < target:
        pages = pages.repartition(target)
    return pages


def parquet_footers(df: DataFrame):
    """The parquet footer (pyarrow FileMetaData) of each of ``df``'s input
    files, read on the driver: file listing and metadata only, no Spark
    job. Raises pyarrow's error for a URI scheme it cannot open."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    for uri in df.inputFiles():
        fs, path = pafs.FileSystem.from_uri(uri)
        yield pq.read_metadata(path, filesystem=fs)


class Footprint(NamedTuple):
    """What an input's parquet footers tell a plan (input_footprint)."""
    #: False only when no html value can be larger than the giant threshold
    may_hold_giants: bool
    #: compressed bytes of the input's parquet files, counted up to the
    #: caller's ``enough_bytes``; None when there are no footers to read
    bytes: int | None


def input_footprint(pages: DataFrame, giant_bytes: int,
                    enough_bytes: int) -> Footprint:
    """One walk over the parquet footers of ``pages``' input files, read
    on the driver: file listing and metadata only, no Spark job.

    ``may_hold_giants`` is False only when ``pages`` has input files, all
    of them parquet, and every row group's ``html`` column chunk is at
    most ``giant_bytes`` uncompressed — then no single html value can be
    larger, so no giant exists (operators/skew.py). It is True for a file
    without an ``html`` column. A False is wrong only when ``html`` is not
    the files' own column (say, a union with a generated frame), and even
    then it costs speed, not bytes: unsalted extraction gives the same
    output.

    ``bytes`` sums the column chunks' compressed sizes; it counts only the
    input's files, so it too undercounts a union with a generated frame.

    An input with no files (a generated frame, a stream micro-batch), a
    non-parquet file (JSON, zip archives) or a store pyarrow cannot open
    gives ``Footprint(True, None)``: nothing is known. The walk stops once
    a giant is possible and ``bytes`` has reached ``enough_bytes``, so a
    large table is not read to its last footer for an answer already
    settled; reading every footer of one is still far cheaper than what a
    no-giant answer saves (the giant branch would read the whole ``html``
    column a second time)."""
    import pyarrow as pa

    files, total, giants = 0, 0, False
    try:
        for md in parquet_footers(pages):
            files += 1
            cols = [md.schema.column(k).path for k in range(md.num_columns)]
            j = cols.index("html") if "html" in cols else None
            giants = giants or j is None
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                total += sum(rg.column(k).total_compressed_size
                             for k in range(rg.num_columns))
                if not giants:
                    giants = rg.column(j).total_uncompressed_size > giant_bytes
            if giants and total >= enough_bytes:
                break
    except (pa.ArrowException, OSError):
        return Footprint(True, None)
    if files == 0:
        return Footprint(True, None)
    return Footprint(giants, total)


def scan_split_bytes(spark: SparkSession, input_bytes: int) -> int:
    """The scan split for an input of ``input_bytes``, as Spark's file scan
    sizes it (FilePartition.maxSplitBytes): the bytes spread over
    ``spark.sql.files.minPartitionNum`` partitions (default: the
    leaf-node parallelism, the cores), but no larger than
    ``spark.sql.files.maxPartitionBytes`` and no smaller than
    ``spark.sql.files.openCostInBytes``. So an input smaller than cores x
    maxPartitionBytes gets a split per core. Spark also adds the open cost
    of every file to the bytes; that is an estimate of a file open, not
    data, and is left out here, so a small input of many files is not
    given one split per file. Spark's own parse of each setting, read on
    the driver."""
    jspark = spark._jsparkSession
    conf = jspark.sessionState().conf()
    open_cost = int(conf.filesOpenCostInBytes())
    min_parts = conf.filesMinPartitionNum()
    parts = (int(min_parts.get()) if min_parts.isDefined()
             else int(jspark.leafNodeDefaultParallelism()))
    per_core = -(-input_bytes // max(1, parts))  # rounded up: <= parts splits
    return max(1, min(int(conf.filesMaxPartitionBytes()),
                      max(open_cost, per_core)))


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """An Iceberg catalog table, or a parquet path fanned out to the cores
    when it is coarse.

    A parquet scan runs one task per row group at most, and a small table
    is often ONE row group: every map stage downstream (a Python kernel, a
    regex tokenize, an n-gram explode) would run on one core while the rest
    idle (measured at 50k docs/local[32]: the extraction kernel ran 4.6 s
    on a 2-split scan vs 1.0 s fanned out). So a table with fewer row
    groups than defaultParallelism is round-robined to defaultParallelism
    here, once, from the footers — no Spark job, and no operator below
    needs to probe its input. At scale a table has >= cores row groups and
    no Exchange is added. The keyless repartition is deterministic under
    task retry (Spark's sort-before-repartition, SPARK-23207)."""
    import pyarrow as pa

    if _iceberg_available(spark) and path.count(".") >= 1 and "/" not in path:
        return spark.read.format("iceberg").load(path)
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    row_groups = 0
    try:
        for md in parquet_footers(df):  # stops once the count reaches target
            row_groups += md.num_row_groups
            if row_groups >= target:
                return df
    except (pa.ArrowException, OSError):
        return df  # a store pyarrow cannot open: taken as already wide
    return df.repartition(target)
