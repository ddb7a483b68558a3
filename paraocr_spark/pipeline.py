"""End-to-end batch extraction pipeline (the engine's `run`).

Spark re-expression of the reference's OCRRunner.run five-stage engine
(parallel.py:214-597) as one declarative plan:

    read pages -> resume anti-join (cli.py:227-231 analog)
               -> salt docs larger than a scan split (skew; SURVEY.md §4.2)
               -> mapInArrow extract kernel (stages 2-4 of the reference)
               -> shard reassembly (A1/A3 analog, deterministic ordering)
               -> append extracted (S5) + lineage (S7) tables

Everything before and after the kernel is Catalyst-visible: the resume
anti-join broadcasts when small, lang/url prefilters push to the parquet
scan, and AQE handles post-shuffle sizing at any scale.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paraocr_spark.backends import preflight_backend
from paraocr_spark.operators.extract import extract_pages
from paraocr_spark.operators.lineage import (
    LineageAccParam,
    config_fingerprint,
    lineage_rows_from_acc,
)
from paraocr_spark.operators.resume import filter_unprocessed
from paraocr_spark.operators.shard_cache import ShardCache
from paraocr_spark.operators.skew import giant_bytes
from paraocr_spark.sources import io as pio

EXTRACTED_COLS = [
    "url", "warc_ts", "lang", "extracted_text", "spans", "method", "error",
    "features",
]


@dataclass
class PipelineConfig:
    """Job knobs — the OCRConfig analog (config.py:22-62), spark-submit args.

    Every front (run_extraction, run_and_write, the stream's micro-batches)
    builds its plan from this config in one place (_extraction_plan), so
    each field means the same thing on all three.

    Salting is not a knob: the input's footers decide it (_extraction_plan).
    ``backend`` selects the extractor strategy by registry name or dotted
    module.Class path (backends.py) — the --ocr-backend analog
    (cli.py:101-123). It feeds the fingerprint, so swapping backends
    invalidates resume checkpoints like the reference's cache_version bump.
    ``ignore_url_keywords``: documents whose url matches any keyword
    (case-insensitive substring) are skipped BEFORE extraction — the
    --ignore-keywords analog (cli.py:249-251), pushed into the source scan.
    Input parallelism is not a knob: the kernel runs with the partitioning
    of ``pages``, which sources.io.read_table / read_pages_zip already fan
    out to the core count when the source is coarser than that.
    """
    run_id: str = "run0"
    backend: str = "default"
    backend_kwargs: dict = field(default_factory=dict)
    ignore_url_keywords: list = field(default_factory=list)
    #: optional parquet path for SHARD-level partial-result reuse on giant
    #: docs — the analog of the reference's per-page txt cache
    #: (parallel.py:431-448): a killed run's finished shards are never
    #: re-extracted on resume (operators/shard_cache.py). Used only when
    #: the input may hold a doc larger than a scan split (no shards
    #: otherwise, and the cache is neither read nor written)
    shard_cache_path: str | None = None
    #: the cap on an invocation's bucket(warc_ts) count (Iceberg bucket(N)
    #: analog). The count itself is decided per invocation from the input's
    #: footers (write_bucket_count): one bucket per scan split of input
    #: bytes, at least 1 and at most this cap, or the cap when the input
    #: has no parquet footers to read (a generated frame, a stream
    #: micro-batch, JSON or zip input); a count above the cores is rounded
    #: down to a multiple of them. Each bucket is one output file, so a
    #: small input writes few files, and an input of at least
    #: ``warc_buckets`` x maxPartitionBytes writes ``warc_buckets`` (64 on
    #: 1, 2, 4, ... 64 cores)
    warc_buckets: int = pio.WARC_BUCKETS
    extra: dict = field(default_factory=dict)

    @property
    def fingerprint(self) -> str:
        return config_fingerprint(
            {
                # constant (the input decides salting), kept so existing
                # done tables and shard caches keep their fingerprint
                "salt": True,
                "version": 1,
                "backend": self.backend,
                "backend_kwargs": self.backend_kwargs,
                "ignore_url_keywords": sorted(self.ignore_url_keywords),
                **self.extra,
            }
        )


def ignore_keyword_filter(pages: DataFrame, keywords: list) -> DataFrame:
    """Drop pages whose url contains any keyword, case-insensitive — the
    S3 ignore-keyword filter (cli.py:249-251 analog). A plain Catalyst
    filter sitting directly above the scan: evaluated JVM-side before any
    Python ever sees the row."""
    if not keywords:
        return pages
    low = F.lower(F.col("url"))
    cond = F.lit(False)
    for k in keywords:
        cond = cond | low.contains(k.lower())
    return pages.where(~cond)


def write_bucket_count(spark: SparkSession, foot: pio.Footprint,
                       cap: int) -> int:
    """An invocation's bucket(warc_ts) count: one bucket per scan split of
    the input's footer bytes, between 1 and ``cap``; ``cap`` when the
    bytes are unknown. The split is the one Spark's scan sizes for those
    bytes (sources.io.scan_split_bytes): one per core for an input between
    cores x openCostInBytes and cores x maxPartitionBytes, so the write
    runs on every core, while a smaller input writes one file per
    openCostInBytes (4 MB). A count above the cores is rounded down to a
    multiple of them, so the write's min(n, cores) tasks each hold the
    same number of buckets (sources.io.bucket_for_write); the default cap,
    64, is kept whole on 1, 2, 4, ... 64 cores."""
    n = cap
    if foot.bytes is not None:
        split = pio.scan_split_bytes(spark, foot.bytes)
        n = min(cap, max(1, math.ceil(foot.bytes / split)))
    cores = spark.sparkContext.defaultParallelism
    return n if n <= cores else n - n % cores


class ExtractionPlan(NamedTuple):
    """What _extraction_plan builds for a front."""
    df: DataFrame
    #: LineageAccParam accumulator filled by the caller's action, or None
    acc: object
    #: the bucket(warc_ts) count the write uses (write_bucket_count)
    n_buckets: int


def _extraction_plan(
    pages: DataFrame,
    cfg: PipelineConfig,
    done: DataFrame | None = None,
    *,
    write: bool = False,
    lineage: bool = False,
) -> ExtractionPlan:
    """The plan every front runs: driver-side backend preflight -> url
    keyword filter -> resume anti-join -> extract -> config_fp column.

    Two facts are decided here, once, from one walk over the input
    ``pages``' parquet footers (sources.io.input_footprint):
    - whether to salt: only when the footers cannot rule out a layout doc
      larger than one scan split. Salted, extract_pages' giant branch
      takes its shards through the shard cache whenever ``cfg`` names one
      (operators/shard_cache.py: eager, it runs the shard kernel while the
      plan is built); unsalted, every row takes the normal kernel, which
      gives the same bytes, and the cache is neither read nor written;
    - the write's bucket count, ``n_buckets`` (write_bucket_count, capped
      by ``cfg.warc_buckets``). With ``write`` each branch is bucketed by
      it below the union (union_branches), and the fronts hand the same
      count to sources.io.write_extracted.

    Returns an ExtractionPlan: with ``lineage``, its acc is a
    LineageAccParam accumulator that the normal kernel and the giant
    reassembly fill during the caller's action, cache or none, counting
    each written row once under its _pid (operators/lineage.py); None
    otherwise.

    extract_pages and filter_unprocessed are called through this module's
    names (and the fronts write through pio.write_extracted) so a profiler
    can wrap them.
    """
    spark = pages.sparkSession
    preflight_backend(cfg.backend, cfg.backend_kwargs)  # fail fast on driver
    split = giant_bytes(spark)
    # no split is larger than maxPartitionBytes, so once the walk has
    # counted cap x that many bytes the count is the cap
    foot = pio.input_footprint(pages, split, cfg.warc_buckets * split)
    n_buckets = write_bucket_count(spark, foot, cfg.warc_buckets)
    pages = ignore_keyword_filter(pages, cfg.ignore_url_keywords)
    todo = filter_unprocessed(pages, done, cfg.fingerprint)
    acc = (spark.sparkContext.accumulator({}, LineageAccParam())
           if lineage else None)
    cache = (ShardCache(cfg.shard_cache_path, cfg.fingerprint)
             if cfg.shard_cache_path else None)
    # with no doc larger than a scan split there is nothing to salt, and
    # the giant branch would only add a second source scan and anti-join
    # (operators/skew.py)
    out = extract_pages(todo, salt=foot.may_hold_giants, backend=cfg.backend,
                        backend_kwargs=cfg.backend_kwargs, lineage_acc=acc,
                        n_buckets=n_buckets if write else None,
                        shard_cache=cache)
    return ExtractionPlan(out.withColumn("config_fp", F.lit(cfg.fingerprint)),
                          acc, n_buckets)


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    done: DataFrame | None = None,
) -> DataFrame:
    """Returns the extracted DataFrame — lazily, caller writes/acts (except
    the shard cache's append of fresh giant shards, which is eager). Lineage
    belongs to a write: run_and_write reports it.

    ``done`` is the prior output for resume (None = fresh run).
    """
    cfg = cfg or PipelineConfig()
    plan = _extraction_plan(pages, cfg, done)
    return plan.df.select(*EXTRACTED_COLS, "config_fp")


def run_and_write(
    spark: SparkSession,
    pages: DataFrame,
    out_path: str,
    lineage_path: str,
    cfg: PipelineConfig | None = None,
    done: DataFrame | None = None,
) -> dict:
    """Execute and append to the extracted + lineage tables; returns metrics."""
    import uuid

    cfg = cfg or PipelineConfig()
    # unique per INVOCATION: a resume that reuses the user-facing run_id
    # (the natural way to resume, and the default 'run0') must not roll
    # prior appends' rows into this invocation's lineage/metrics
    invocation_id = f"{cfg.run_id}-{uuid.uuid4().hex[:12]}"
    # ONE kernel pass, ONE Spark job, cache or none: the lineage rollup
    # rides the write action itself via a replace-merge accumulator (the
    # normal kernel and the giant reassembly each send one update per task,
    # every written row counted once under its _pid, idempotent under
    # retries — operators/lineage.py), and the resulting handful of rows is
    # appended to the lineage table from the driver with pyarrow. A
    # read-back scan of the written table would cost a second job per run.
    t0 = time.perf_counter()  # before plan build: the shard cache is eager
    # each branch is bucketed below the union
    # (operators/extract.union_branches): write_extracted adds no exchange
    plan = _extraction_plan(pages, cfg, done, write=True, lineage=True)
    out = (
        plan.df
        .withColumn("run_id", F.lit(cfg.run_id))
        .withColumn("invocation_id", F.lit(invocation_id))
    )
    pio.write_extracted(out, out_path, n_buckets=plan.n_buckets)
    t_write = time.perf_counter() - t0
    lin_rows = lineage_rows_from_acc(
        plan.acc.value, cfg.run_id, cfg.fingerprint, invocation_id
    )
    n = sum(r["doc_count"] for r in lin_rows)
    pio.write_lineage_rows(lin_rows, lineage_path)
    wall = time.perf_counter() - t0
    return {
        "rows": n,
        "wall_s": wall,
        "docs_per_sec": (n / wall if wall > 0 else 0.0),
        # total Python-kernel seconds of the written rows (a reused
        # cached shard's seconds included) — lets scaling harnesses
        # decompose "did the KERNEL scale" from wall-clock effects (fixed
        # tails, host walls)
        "kernel_cpu_s": sum(r["wall_time_s"] for r in lin_rows),
        "invocation_id": invocation_id,
        # the invocation's bucket(warc_ts) count: one file per bucket
        # that received rows
        "buckets": plan.n_buckets,
        # phase decomposition: everything after the write action is
        # per-run fixed cost — watch it stay negligible
        "phase_s": {
            "write_job": round(t_write, 3),
            "lineage": round(wall - t_write, 3),
        },
    }
