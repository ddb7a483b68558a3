"""Iceberg-or-parquet IO with graceful fallback.

The north rule targets Iceberg tables partitioned by warc_ts bucket. The
sandbox has no Iceberg runtime jar, so writes fall back to parquet with the
same logical partitioning (bucket column materialized). The code path keeps
the Iceberg branch first so a cluster with the runtime jar uses snapshots
natively (they replace the reference's manifest cache, parallel.py:85-96).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_BUCKETS = 64


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def with_warc_bucket(df: DataFrame, n_buckets: int = WARC_BUCKETS) -> DataFrame:
    """Materialize the Iceberg-style bucket(warc_ts) partition column."""
    return df.withColumn(
        "warc_bucket",
        F.pmod(F.hash(F.col("warc_ts").cast("long")), F.lit(n_buckets)),
    )


def bucket_for_write(df: DataFrame, n_buckets: int = WARC_BUCKETS) -> DataFrame:
    """Add ``warc_bucket`` and hash-partition on it into
    P = min(n_buckets, defaultParallelism) partitions: the write layout's
    one exchange.

    Every bucket lands in exactly one partition, so the partitioned write
    opens exactly one file per bucket. P is sized to the cores, not the
    buckets: with 64 buckets on 4 cores the write runs 4 tasks holding
    ~16 buckets each instead of 64 one-bucket tasks; at scale (cores >=
    n_buckets) P = n_buckets, as before. The partition count is explicit,
    so AQE never coalesces it — two frames bucketed by this helper have
    identical partitioning and a Union of them zips partition i with
    partition i (``spark.sql.unionOutputPartitioning``, scoped on by
    write_extracted) instead of needing an exchange above it."""
    p = min(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
    return with_warc_bucket(df, n_buckets).repartition(p, F.col("warc_bucket"))


def write_extracted(df: DataFrame, path: str, mode: str = "append",
                    n_buckets: int = WARC_BUCKETS) -> None:
    """Append extracted rows partitioned by (run_id, bucket(warc_ts)).

    run_id (when present) is the OUTER partition so each run's appends land
    in their own directories — ``job.py --errors`` prunes to the current
    run instead of scanning every prior append; within a run, a constant
    invocation_id column lets parquet file stats skip earlier resumes'
    files without reading their pages.

    An input that already carries ``warc_bucket`` must have been bucketed
    by bucket_for_write with the same ``n_buckets`` (extract_pages does so
    per branch, below its union, when given n_buckets): it is written with
    no further exchange. Any other input is bucketed here.

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
    # n_buckets is a LAYOUT knob (Iceberg bucket(N) analog): hundreds at
    # 100 TB, small for small tables — 64 buckets on a 2.4 GB bench table
    # is pure shuffle + tiny-file overhead
    parts = (["run_id"] if "run_id" in df.columns else []) + ["warc_bucket"]
    _check_partition_layout(path, parts[0])
    # co-locate each bucket in one task BEFORE the partitioned write:
    # without this every task holds an open writer per bucket (buckets x
    # tasks tiny files, writer memory, and a 6x wall-time hit measured at
    # 24k docs)
    if "warc_bucket" not in df.columns:
        df = bucket_for_write(df, n_buckets)
    w = df.write.mode(mode).partitionBy(*parts)
    if mode == "overwrite":
        # replace only the partitions present in df (idempotent micro-batch
        # replay), never the whole table
        w = w.option("partitionOverwriteMode", "dynamic")
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
    # holds. A task holds ~n_buckets/P buckets (64 hashed onto 4
    # partitions: 11/16/16/21), so allow max(32, n_buckets) concurrent
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
        w.parquet(path)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _check_partition_layout(path: str, outer_col: str) -> None:
    """Refuse an append whose partition columns differ from the existing
    table's: mixing run_id=... and warc_bucket=... directories at the same
    level breaks Spark partition discovery for every subsequent read
    (including --resume of that same table). Filesystem paths only — the
    Iceberg branch evolves partition specs natively."""
    import pathlib

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
    import os

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


def compact_table(spark: SparkSession, path: str,
                  target_file_mb: int = 256) -> dict:
    """Small-files compaction for the extracted table (maintenance op).

    Incremental appends (streaming micro-batches, resume re-runs) accumulate
    small parquet files; at 100 TB the scan cost is dominated by file-open
    overhead. Rewrite each warc_bucket partition into ~target_file_mb files
    — the parquet stand-in for Iceberg's rewrite_data_files compaction.
    Writes to a staging dir then swaps, so readers never see a half state.

    CAVEAT: the swap uses os.rename, which is atomic on POSIX filesystems
    but does NOT exist on object stores (S3/GCS have no rename; "renames"
    are copy+delete and non-atomic). On a real deployment use the Iceberg
    branch (snapshot-isolated rewrite_data_files) — this fallback is only
    for filesystem-backed tables like this sandbox.
    """
    import math
    import os
    import shutil

    df = spark.read.parquet(path)
    total_bytes = sum(
        f.stat().st_size
        for f in __import__("pathlib").Path(path).rglob("*.parquet")
    )
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    staging = path.rstrip("/") + "__compacting"
    parts = (["run_id"] if "run_id" in df.columns else []) + ["warc_bucket"]
    (
        df.repartition(n_files, F.col("warc_bucket"))
        .write.mode("overwrite").partitionBy(*parts).parquet(staging)
    )
    backup = path.rstrip("/") + "__old"
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup, ignore_errors=True)
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


def may_hold_giants(pages: DataFrame, giant_bytes: int) -> bool:
    """False only when ``pages`` has input files, all of them parquet, and
    every row group's ``html`` column chunk is at most ``giant_bytes``
    uncompressed — then no single html value can be larger, so no giant
    exists (operators/skew.py). True for an input with no files (a
    generated frame, a stream micro-batch), a non-parquet file (JSON, zip
    archives), a file without an ``html`` column, or a store pyarrow
    cannot open. A False is wrong only when ``html`` is not the files'
    own column (say, a union with a generated frame), and even then it
    costs speed, not bytes: unsalted extraction gives the same output.

    Footers only, read on the driver: no Spark job, and it stops at the
    first chunk above ``giant_bytes``. Reading every footer of a large
    table is still far cheaper than what a False answer saves: the giant
    branch would read the whole ``html`` column a second time."""
    import pyarrow as pa

    files = 0
    try:
        for md in parquet_footers(pages):
            files += 1
            cols = [md.schema.column(k).path for k in range(md.num_columns)]
            if "html" not in cols:
                return True
            j = cols.index("html")
            for g in range(md.num_row_groups):
                if md.row_group(g).column(j).total_uncompressed_size > giant_bytes:
                    return True
    except (pa.ArrowException, OSError):
        return True
    return files == 0


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
