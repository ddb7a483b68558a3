"""spark-submit entry point.

Usage (cluster):
    spark-submit --py-files paraocr_spark.zip -m ... paraocr_spark/job.py \
        --input /path/pages_parquet --output /tmp/out --lineage /tmp/lineage \
        [--resume] [--synthetic N] [--run-id r1]

Analog of the reference CLI ``paraocr run -i DIR -o OUT.jsonl``
(cli.py:546-559 argument parsing; run_pipeline cli.py:259-291). The
``--synthetic N`` mode generates the deterministic pages table in-executor
(sources/pages.py) so benchmarks need no external data.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


# Python workers allocate/free large Arrow buffers per batch; default
# allocator behavior returns them to the OS (munmap / madvise) and the
# resulting TLB-shootdown IPIs cost O(cores) — measured 4-8x anti-scaling at
# 32 workers on one host. Keep freed pages in-process instead.
WORKER_ALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "268435456",
    "MALLOC_TRIM_THRESHOLD_": "268435456",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


# Byte cap on every Arrow batch the JVM sends a Python task (Spark 4.1
# honours it for the kernel's mapInArrow input, next to
# maxRecordsPerBatch). Layout docs
# up to a scan split ride the normal kernel whole, so a record cap alone
# lets one batch hold several 0.7 MB giants and the worker's peak grows with
# them: on the perfbench crawl (local[4], seed 4) a task's 750-row batch
# peaked 23 MB above the worker's base with this cap, 39 MB without it.
# Spark closes a batch at the first row that takes it to the cap, so a
# batch exceeds the cap by at most its last row.
ARROW_MAX_BYTES_PER_BATCH = 4 * 1024 * 1024


def build_session(app: str = "paraocr_spark", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    import os

    os.environ.update(WORKER_ALLOC_ENV)  # local mode: workers inherit
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in WORKER_ALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    return (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOTE: builder.config OVERRIDES spark-submit --conf (getOrCreate
        # applies builder options onto the session), so a hard-coded value
        # here silently pins every submitted job to it — measured trap: all
        # r4/r5 "Arrow batch size A/Bs" through scaling.py actually ran at
        # the old hard-coded 1024. Env var = the submit-visible override.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("PARAOCR_ARROW_BATCH", "1024"))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(ARROW_MAX_BYTES_PER_BATCH))
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="paraocr_spark extraction job")
    p.add_argument("--input", help="pages parquet/iceberg path")
    p.add_argument("--synthetic", type=int, default=None,
                   help="generate N synthetic pages instead of --input")
    p.add_argument("--output", required=True, help="extracted table path")
    p.add_argument("--lineage", required=True, help="lineage table path")
    p.add_argument("--errors", default=None,
                   help="optional side output of error rows (url, error, "
                   "run_id) — the error-log sink analog (parallel.py:109-122); "
                   "errors always remain in-band in --output regardless")
    p.add_argument("--resume", action="store_true",
                   help="anti-join against existing --output before running")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--backend", default="default",
                   help="extractor backend: registry name or dotted "
                   "module.Class path (the --ocr-backend analog, "
                   "cli.py:101-123); preflight-imported before any work")
    p.add_argument("--backend-kwargs", default=None,
                   help="JSON dict of backend constructor kwargs")
    p.add_argument("--ignore-keywords", default=None,
                   help="comma-separated url keywords to skip, "
                   "case-insensitive substring (cli.py:249-251 analog)")
    p.add_argument("--warc-buckets", type=int, default=64,
                   help="cap on the run's bucket(warc_ts) count; the count "
                   "itself is one bucket (one output file) per scan split "
                   "of input bytes, read from the input's parquet footers, "
                   "or this cap when there are none; above the cores it "
                   "is rounded down to a multiple of them. The JSON "
                   "line reports it as 'buckets'")
    p.add_argument("--shard-cache", default=None,
                   help="parquet path for shard-level partial-result reuse "
                   "on giant docs (the per-page txt cache analog, "
                   "parallel.py:431-448): finished shards of an interrupted "
                   "run are never re-extracted")
    p.add_argument("--master", default=None, help="override master (local[N] for bench)")
    p.add_argument("--partitions", type=int, default=None,
                   help="spark.sql.shuffle.partitions, and the partition "
                   "count of --synthetic pages")
    p.add_argument("--warmup", action="store_true",
                   help="run a tiny extraction first so Python-worker import "
                   "cost and JIT are excluded from the timed run (the "
                   "reference excludes model downloads the same way, "
                   "tests/benchmark.md:8)")
    args = p.parse_args(argv)
    if not args.input and args.synthetic is None:
        p.error("one of --input or --synthetic is required")

    from paraocr_spark.pipeline import PipelineConfig, run_and_write
    from paraocr_spark.sources import io as pio
    from paraocr_spark.sources.pages import pages_df

    spark = build_session(master=args.master, shuffle_partitions=args.partitions)
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.synthetic is not None:
            # materialize to parquet first: a generated frame has no
            # footers to rule a giant out, so its plan would keep the giant
            # branch and regenerate every synthetic row in Python for its
            # second scan; parquet pages get the footer decision
            # (sources.io.input_footprint) like any --input
            import tempfile

            parts = args.partitions or spark.sparkContext.defaultParallelism
            pages_path = tempfile.mkdtemp(prefix="paraocr_pages_") + "/pages"
            pages_df(spark, args.synthetic, parts).write.mode("overwrite").parquet(pages_path)
            pages = pio.read_table(spark, pages_path)
        else:
            pages = pio.read_table(spark, args.input)

        done = None
        if args.resume:
            # restore a table a compaction crashed mid-swap left at __old
            pio.recover_swap(args.output)
            try:
                done = pio.read_table(spark, args.output)
            except Exception:
                done = None  # first run: nothing to resume from

        if args.warmup:
            from pyspark.sql import functions as F

            from paraocr_spark.operators.extract import extract_pages
            warm = pages_df(spark, 64 * (args.partitions or 8), args.partitions or 8)
            extract_pages(warm).count()
            # warm the INPUT scan too (OS page cache + parquet footers):
            # otherwise the timed run pays a cold 100 MB/s disk read on some
            # trials and none on others — a ±20% wall-clock lottery that has
            # nothing to do with the engine
            pages.select(F.sum(F.octet_length("html"))).collect()

        cfg = PipelineConfig(
            run_id=args.run_id,
            backend=args.backend,
            backend_kwargs=json.loads(args.backend_kwargs) if args.backend_kwargs else {},
            ignore_url_keywords=(
                [k.strip() for k in args.ignore_keywords.split(",") if k.strip()]
                if args.ignore_keywords else []
            ),
            shard_cache_path=args.shard_cache,
            warc_buckets=args.warc_buckets,
        )
        metrics = run_and_write(spark, pages, args.output, args.lineage, cfg, done)
        if args.errors:
            from pyspark.sql import functions as F

            (
                pio.read_table(spark, args.output)
                # invocation_id scopes to THIS invocation: a resumed run
                # reusing --run-id must not re-log earlier appends' errors
                .where((F.col("run_id") == args.run_id)
                       & (F.col("invocation_id") == metrics["invocation_id"])
                       & F.col("error").isNotNull())
                .select("url", "error", "run_id",
                        F.date_format(F.current_timestamp(),
                                      "yyyy-MM-dd'T'HH:mm:ssZ").alias("logged_at"))
                .write.mode("append").parquet(args.errors)
            )
        print(json.dumps({"run_id": args.run_id, **metrics}))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
