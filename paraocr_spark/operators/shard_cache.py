"""SHARD-granular partial-result reuse for giant docs: the shard cache.

The reference resumes at page granularity via its txt cache
(parallel.py:431-448). Spark's parquet commit is all-or-nothing per
write, so the url anti-join alone loses every finished shard of an
interrupted run. The cache keeps the shard-kernel rows of giant docs,
plus a ``config_fp`` column, keyed by (url, shard_id, config_fp); a
resumed run extracts only the shards it lacks. Normal docs keep whole-doc
granularity: a per-doc cache write would double the write volume.

It is one step in operators/extract.extract_pages' giant branch, so an
input whose footers rule out a giant neither reads nor writes it. This
module owns the format: the columns, and the ``__gc`` staging and
``__old`` backup dirs of a GC swap (sources/io.swap_in).
"""

from __future__ import annotations

import math
import pathlib
from collections.abc import Callable
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paraocr_spark.sources import io as pio

_KEY = ["url", "shard_id"]


class ShardCache(NamedTuple):
    """A shard cache table and the config fingerprint whose rows count."""
    path: str
    fingerprint: str


def _read(spark: SparkSession, path: str) -> DataFrame | None:
    """The cache table, or None before its first append."""
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def extract_shards(cache: ShardCache, shards: DataFrame,
                   giant_pages: DataFrame,
                   kernel: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """The shard-kernel rows of ``shards`` (salted ``giant_pages``) through
    the cache: ``kernel`` runs on the shards with no row of this
    fingerprint, they are appended, and all of this run's giants' shards
    are read back.

    NOTE eager: the append is an ACTION; the result is lazy. A reused
    shard keeps the _pid/_doc_bytes/_wall_s of the run that extracted it,
    and the merged giant row sums them: lineage counts the rows an
    invocation wrote, not the kernel work it did.
    """
    spark = shards.sparkSession
    # a GC that crashed between its two renames left the cache at __old:
    # restore it rather than re-extract every shard
    pio.recover_swap(cache.path)
    this_fp = F.col("config_fp") == cache.fingerprint
    done = _read(spark, cache.path)
    todo = shards
    if done is not None:
        todo = shards.join(done.where(this_fp).select(*_KEY), _KEY,
                           "left_anti")
    # a fully cached resume appends nothing: the emptiness probe runs only
    # the kernel-free salt + anti-join, where an unconditional append would
    # run a write job and leave a zero-row file per resume
    if done is None or not todo.isEmpty():
        (kernel(todo).withColumn("config_fp", F.lit(cache.fingerprint))
         .write.mode("append").parquet(cache.path))
    return (
        spark.read.parquet(cache.path).where(this_fp)
        # this run's giants only (the cache may hold other runs' urls), and
        # one row per shard even if an at-least-once append duplicated any
        .join(giant_pages.select("url").distinct(), "url", "left_semi")
        .dropDuplicates(_KEY)
        .drop("config_fp")
    )


def gc_shard_cache(spark: SparkSession, cache_path: str, keep_fp: str,
                   target_file_mb: int = 256) -> dict:
    """Drop the cache's stale config_fp generations and compact its small
    files, through a staging dir and sources/io.swap_in, after
    sources/io.recover_swap reconciles what a crashed GC left. MUST NOT
    run concurrently with an extraction that uses the cache: the swap is
    not snapshot-isolated (use the Iceberg branch for that)."""
    staging = cache_path.rstrip("/") + "__gc"
    pio.recover_swap(cache_path, staging)
    df = _read(spark, cache_path)
    if df is None:
        return {"files_before": 0, "files_after": 0, "rows_kept": 0}
    files = list(pathlib.Path(cache_path).rglob("*.parquet"))
    total = sum(f.stat().st_size for f in files)
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    (
        df.where(F.col("config_fp") == keep_fp).dropDuplicates(_KEY)
        .repartition(n_files).write.mode("overwrite").parquet(staging)
    )
    pio.swap_in(staging, cache_path)
    return {
        "files_before": len(files),
        "files_after": len(list(pathlib.Path(cache_path).rglob("*.parquet"))),
        "rows_kept": spark.read.parquet(cache_path).count(),
    }
