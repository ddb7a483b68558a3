"""Pipeline-level behavior: resume idempotence, lineage, sinks."""

import pathlib

import pytest
from pyspark.sql import functions as F

from paraocr_spark.pipeline import PipelineConfig, run_and_write, run_extraction
from paraocr_spark.sources import io as pio
from paraocr_spark.sources.pages import pages_df


def test_resume_is_idempotent(spark, tmp_path: pathlib.Path):
    """Run, then re-run with resume: second run processes 0 rows
    (cli.py:227-231 analog: second run over same output is a no-op)."""
    out = str(tmp_path / "extracted")
    lin = str(tmp_path / "lineage")
    pages = pages_df(spark, 120, 4)
    cfg = PipelineConfig(run_id="r1")
    m1 = run_and_write(spark, pages, out, lin, cfg)
    assert m1["rows"] == 120
    done = pio.read_table(spark, out)
    m2 = run_and_write(spark, pages, out, lin, PipelineConfig(run_id="r2"), done)
    assert m2["rows"] == 0
    # output still has exactly one row per url
    final = pio.read_table(spark, out)
    assert final.count() == 120
    assert final.select("url").distinct().count() == 120


def test_resume_partial(spark, tmp_path):
    """Delete half the output -> re-run processes exactly the missing half."""
    pages = pages_df(spark, 100, 4)
    cfg = PipelineConfig(run_id="r1")
    extracted = run_extraction(spark, pages, cfg)
    half = extracted.where(F.hash("url") % 2 == 0).persist()
    n_half = half.count()
    ext2 = run_extraction(spark, pages, PipelineConfig(run_id="r2"), done=half)
    assert ext2.count() == 100 - n_half
    # no overlap between the kept half and the reprocessed rest
    assert ext2.join(half, "url", "inner").count() == 0
    half.unpersist()


def test_lineage_rollup(spark, tmp_path):
    pages = pages_df(spark, 200, 4)
    lin = str(tmp_path / "lineage")
    run_and_write(spark, pages, str(tmp_path / "out"), lin,
                  PipelineConfig(run_id="rl"))
    rows = spark.read.parquet(lin).collect()
    assert sum(r.doc_count for r in rows) == 200
    assert all(r.wall_time_s > 0 for r in rows)
    assert all(r.run_id == "rl" for r in rows)
    assert len({r.partition_id for r in rows}) == len(rows)
    # bytes roll up to the total html payload size
    total_bytes = sum(r.bytes for r in rows)
    assert total_bytes > 0


@pytest.mark.parametrize("cached", ["fresh", "partly_cached", "fully_cached"])
def test_written_lineage_equals_groupby_pid(spark, tmp_path, cached,
                                            split_below_giants):
    """Each written row is counted once, under its own _pid: the lineage
    rows run_and_write appends equal a groupBy(_pid) over the rows that
    invocation wrote — giants extracted fresh on the extract_pages route,
    or reassembled from a shard cache holding one giant or both."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        pages = pages_df(spark, 200, 4)  # giants at /9 and /169
        cache = None
        if cached != "fresh":
            cache = str(tmp_path / "cache")
            warm = (pages if cached == "fully_cached"
                    else pages.where(F.col("url").endswith("/9")))
            run_and_write(spark, warm, str(tmp_path / "warm"),
                          str(tmp_path / "warm_lin"),
                          PipelineConfig(run_id="warm", shard_cache_path=cache))
        out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
        m = run_and_write(spark, pages, out, lin,
                          PipelineConfig(run_id="lg", shard_cache_path=cache))
        this_inv = F.col("invocation_id") == m["invocation_id"]
        lineage = {
            r.partition_id: (r.doc_count, r.bytes, r.wall_time_s)
            for r in spark.read.parquet(lin).where(this_inv).collect()
        }
        written = {
            r._pid: (r.n, r.b, r.w)
            for r in spark.read.parquet(out).where(this_inv).groupBy("_pid")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("_doc_bytes").alias("b"),
                 F.sum("_wall_s").alias("w")).collect()
        }
    finally:
        spark.conf.set(key, prev)
    assert m["rows"] == 200
    assert all(docs > 0 for docs, _, _ in lineage.values())
    assert lineage.keys() == written.keys()
    for pid, (n, b, w) in written.items():
        assert lineage[pid][:2] == (n, b)
        assert lineage[pid][2] == pytest.approx(w, abs=1e-9)


def test_lineage_acc_keeps_a_retried_task_once():
    """Replace-merge: a retried task resends its (stage, task) key and
    overwrites its first update instead of adding to it; updates from
    different tasks sum by row pid."""
    from paraocr_spark.operators.lineage import (LineageAccParam,
                                                 lineage_rows_from_acc)

    param = LineageAccParam()
    acc = param.zero({})
    for update in ({(1, 0): {0: (2, 10, 0.5)}},
                   {(1, 0): {0: (2, 10, 0.5)}},  # the retry
                   {(2, 3): {0: (1, 5, 0.25), 3: (1, 7, 0.125)}}):
        acc = param.addInPlace(acc, update)
    rows = lineage_rows_from_acc(acc, "r", "fp", "inv")
    assert [(r["partition_id"], r["doc_count"], r["bytes"], r["wall_time_s"])
            for r in rows] == [(0, 3, 15, 0.75), (3, 1, 7, 0.125)]


def test_warc_bucket_partitioning(spark, tmp_path):
    pages = pages_df(spark, 50, 2)
    extracted = run_extraction(spark, pages, PipelineConfig(run_id="rb"))
    out = str(tmp_path / "bucketed")
    pio.write_extracted(extracted, out)
    dirs = [p.name for p in pathlib.Path(out).iterdir() if p.is_dir()]
    assert any(d.startswith("warc_bucket=") for d in dirs)
    back = pio.read_table(spark, out)
    assert back.count() == 50


def test_compaction_preserves_rows(spark, tmp_path):
    """Many small appends -> compact -> same rows, fewer files."""
    out = str(tmp_path / "frag")
    lin = str(tmp_path / "frag_lin")
    for i in range(3):  # three appends fragment the table
        run_and_write(spark, pages_df(spark, 40, 4).where(
            F.col("url").isNotNull()), out, lin,
            PipelineConfig(run_id=f"c{i}"),
            done=pio.read_table(spark, out) if i else None)
    before_files = len(list(pathlib.Path(out).rglob("*.parquet")))
    before_rows = pio.read_table(spark, out).count()
    stats = pio.compact_table(spark, out, target_file_mb=256)
    after = pio.read_table(spark, out)
    assert after.count() == before_rows
    after_files = len(list(pathlib.Path(out).rglob("*.parquet")))
    assert after_files <= before_files
    assert after_files <= stats["target_files"] * 64  # bounded by buckets


@pytest.mark.parametrize("leftover", ["crash_between_renames",
                                      "stale_backup_beside_table"])
def test_compaction_recovers_a_crashed_swap(spark, tmp_path, leftover):
    """A compaction that crashed between its two renames left the table
    at __old and none in place; one that crashed after the swap, before
    its cleanup, left a stale __old beside the live table. The next
    compaction restores the first and clears the second, keeping every
    row and leaving no staging or backup dir behind."""
    import os
    import shutil

    out = str(tmp_path / "t")
    run_and_write(spark, pages_df(spark, 40, 4), out, str(tmp_path / "lin"),
                  PipelineConfig(run_id="c"))
    rows = pio.read_table(spark, out).count()
    backup = out + "__old"
    if leftover == "crash_between_renames":
        os.rename(out, backup)
    else:
        shutil.copytree(out, backup)
    pio.compact_table(spark, out)
    assert pio.read_table(spark, out).count() == rows
    assert not os.path.exists(backup)
    assert not os.path.exists(out + "__compacting")


def test_default_fingerprint_is_pinned():
    """Every existing done table and shard cache is keyed by this value: a
    config field deleted or renamed must not change it."""
    assert (PipelineConfig().fingerprint
            == "e6094ebc2996056c7f3e544ee62c362981dc5dd0")


def test_config_fingerprint_invalidates_resume(spark, tmp_path):
    """A changed extraction config must reprocess everything even when urls
    match — the analog of the reference's cache_version bump
    (parallel.py:95-96, cli.py:393-397)."""
    from paraocr_spark.operators.resume import filter_unprocessed

    pages = pages_df(spark, 60, 4)
    cfg_a = PipelineConfig(run_id="a", extra={"v": 1})
    cfg_b = PipelineConfig(run_id="b", extra={"v": 2})
    assert cfg_a.fingerprint != cfg_b.fingerprint
    ext_a = run_extraction(spark, pages, cfg_a)
    done = ext_a.select("url", "config_fp")
    # same config: all skipped
    assert filter_unprocessed(pages, done, cfg_a.fingerprint).count() == 0
    # changed config: nothing skipped
    assert filter_unprocessed(pages, done, cfg_b.fingerprint).count() == 60


def test_lineage_scoped_to_invocation(spark, tmp_path):
    """A resume that REUSES the same run_id must not roll prior appends'
    rows into the new invocation's lineage (double-count bug class), and
    a reader of one run's rows (job.py --errors) must partition-prune on
    run_id."""
    out = str(tmp_path / "inv_out")
    lin = str(tmp_path / "inv_lin")
    m1 = run_and_write(spark, pages_df(spark, 80, 4), out, lin,
                       PipelineConfig(run_id="same"))
    assert m1["rows"] == 80
    done = pio.read_table(spark, out)
    m2 = run_and_write(spark, pages_df(spark, 120, 4), out, lin,
                       PipelineConfig(run_id="same"), done)
    assert m2["rows"] == 40  # only the 40 new docs, not 80 + 40
    lineage = spark.read.parquet(lin)
    per_inv = {
        r.invocation_id: r.total for r in
        lineage.groupBy("invocation_id").agg(
            F.sum("doc_count").alias("total")).collect()
    }
    assert per_inv[m1["invocation_id"]] == 80
    assert per_inv[m2["invocation_id"]] == 40
    # run_id is a physical partition directory -> a one-run predicate
    # prunes instead of scanning every run's appends
    import pathlib as _pl
    dirs = [p.name for p in _pl.Path(out).iterdir() if p.is_dir()]
    assert any(d == "run_id=same" for d in dirs), dirs
    import contextlib, io as _io
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        pio.read_table(spark, out).where(F.col("run_id") == "same").explain()
    assert "run_id" in buf.getvalue() and "PartitionFilters" in buf.getvalue()


def test_write_extracted_rejects_mixed_partition_layout(spark, tmp_path):
    """ADVICE r2: appending a (run_id, warc_bucket) layout onto a table
    written with warc_bucket-only partitions breaks partition discovery for
    all subsequent reads — the writer must refuse with a clear error."""
    import pytest

    from paraocr_spark.sources.pages import pages_df
    from paraocr_spark.sources import io as pio

    path = str(tmp_path / "extracted_legacy")
    old = pages_df(spark, 8, 2).select("url", "warc_ts", "lang")
    pio.write_extracted(old, path, n_buckets=2)  # no run_id column: old layout
    new = old.withColumn("run_id", F.lit("r1"))
    with pytest.raises(ValueError, match="partition layout mismatch"):
        pio.write_extracted(new, path, n_buckets=2)
    # same layout appends stay allowed
    pio.write_extracted(old, path, n_buckets=2)


def test_write_extracted_scopes_sortfree_write_confs(spark, tmp_path, monkeypatch):
    """The bucketed write must run with the planned partition-sort OFF (the
    repartition already gives ~one partition value per task; the sort moved
    the full output through an UnsafeExternalSorter — 312 CPU-s at 1.15M
    docs / 4 executors) and concurrent writers ON for the residual
    multi-value tasks — and must RESTORE both confs afterwards, success or
    failure, so unbucketed writers elsewhere keep the planned sort."""
    from pyspark.sql.readwriter import DataFrameWriter

    from paraocr_spark.sources.pages import pages_df
    from paraocr_spark.sources import io as pio

    before = {
        k: spark.conf.get(k)
        for k in ("spark.sql.optimizer.plannedWrite.enabled",
                  "spark.sql.maxConcurrentOutputFileWriters")
    }
    seen = {}
    real_parquet = DataFrameWriter.parquet

    def spy(self, path, **kw):
        seen["planned"] = spark.conf.get("spark.sql.optimizer.plannedWrite.enabled")
        seen["writers"] = spark.conf.get("spark.sql.maxConcurrentOutputFileWriters")
        return real_parquet(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    df = pages_df(spark, 8, 2).select("url", "warc_ts", "lang")
    pio.write_extracted(df, str(tmp_path / "t"), n_buckets=2)
    assert seen == {"planned": "false", "writers": "32"}
    after = {k: spark.conf.get(k) for k in before}
    assert after == before

    # restore also on write failure (schema broken mid-write via a spy that
    # raises): confs must not leak
    def boom(self, path, **kw):
        raise RuntimeError("synthetic write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    import pytest

    with pytest.raises(RuntimeError, match="synthetic write failure"):
        pio.write_extracted(df, str(tmp_path / "t2"), n_buckets=2)
    assert {k: spark.conf.get(k) for k in before} == before


def test_zip_source_expands_archives_and_extracts(spark, tmp_path):
    """S10 (reference webui.py:70-118): ZIP archives expand to pages rows —
    one row per entry with stable archive!entry urls and the entry's zip
    timestamp — and the rows extract byte-identically to running the
    reference extractor on the raw entry bytes. A corrupt archive becomes
    ONE in-band error row, never a scan failure."""
    import zipfile
    from datetime import datetime

    from paraocr_spark.core import reference as ref
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.io import read_pages_zip
    from paraocr_spark.sources.pages import gen_page

    payloads = {}
    zdir = tmp_path / "zips"
    zdir.mkdir()
    for z in range(2):
        with zipfile.ZipFile(zdir / f"crawl{z}.zip", "w") as zf:
            zf.writestr("docs/", "")  # dir entry: must be skipped
            for j in range(3):
                page = gen_page(z * 50 + j)
                name = f"docs/page{j}.bin"
                info = zipfile.ZipInfo(name, date_time=(2021, 3, 4, 5, 6, 2 * j))
                zf.writestr(info, page["html"] or page["text"].encode())
                payloads[(f"crawl{z}.zip", name)] = page
    (zdir / "broken.zip").write_bytes(b"PK\x03\x04 not a real zip")

    pages = read_pages_zip(spark, str(zdir)).cache()
    rows = pages.collect()
    assert len(rows) == 7  # 2 archives x 3 entries + 1 corrupt-archive row
    by_url = {r["url"]: r for r in rows}
    for (archive, name), page in payloads.items():
        url = next(u for u in by_url if u.endswith(f"{archive}!{name}"))
        r = by_url[url]
        assert bytes(r["html"]) == (page["html"] or page["text"].encode())
        assert r["warc_ts"] == datetime(2021, 3, 4, 5, 6, 2 * int(name[-5]))
    corrupt = [r for r in rows if "!" not in r["url"]]
    assert len(corrupt) == 1 and corrupt[0]["url"].endswith("broken.zip")

    ext = {r["url"]: r for r in extract_pages(pages).collect()}
    for url, r in by_url.items():
        exp = ref.extract_document(bytes(r["html"]), None)
        assert (ext[url]["extracted_text"], ext[url]["method"],
                ext[url]["error"]) == (exp.extracted_text, exp.method,
                                       exp.error), url
    pages.unpersist()


def test_jsonl_source_roundtrip_and_extraction(spark, tmp_path):
    """S1 alternate format: JSONL (base64 html) -> pages schema -> the same
    extraction results as the parquet source, byte-identical."""
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.pages import pages_df

    pages = pages_df(spark, 60, 2)
    path = str(tmp_path / "pages_jsonl")
    pio.write_pages_jsonl(pages, path)
    back = pio.read_pages_jsonl(spark, path)
    assert back.schema.simpleString() == pages.schema.simpleString()

    def result_map(df):
        return {
            r.url: (r.extracted_text, r.method, r.error)
            for r in df.select("url", "extracted_text", "method", "error").collect()
        }

    assert result_map(extract_pages(back)) == result_map(extract_pages(pages))


def test_jsonl_roundtrip_preserves_microseconds(spark, tmp_path):
    """ADVICE r3: Spark's default JSON timestampFormat truncates to ms —
    the explicit microsecond format on writer AND reader must roundtrip
    sub-ms warc_ts exactly (and still parse ms-only external dumps)."""
    import datetime as dt
    import json

    ts = dt.datetime(2025, 3, 1, 12, 30, 45, 123456)
    pages = spark.createDataFrame(
        [("u1", ts, b"<p>hello world</p>", None, "en")],
        schema=pages_df(spark, 1, 1).schema,
    )
    path = str(tmp_path / "micro_jsonl")
    pio.write_pages_jsonl(pages, path)
    back = pio.read_pages_jsonl(spark, path).collect()[0]
    assert back.warc_ts.microsecond == 123456
    assert back.warc_ts.replace(tzinfo=None) == ts

    # ms-only dumps (the old writer format / external interchange) parse too
    ext = tmp_path / "ms_jsonl"
    ext.mkdir()
    (ext / "part.json").write_text(json.dumps({
        "url": "u2", "warc_ts": "2025-03-01T12:30:45.123",
        "html_b64": "", "text": "t", "lang": "en",
    }) + "\n")
    row = pio.read_pages_jsonl(spark, str(ext)).collect()[0]
    assert row.warc_ts.replace(tzinfo=None) == dt.datetime(2025, 3, 1, 12, 30, 45, 123000)


def test_iceberg_write_read_when_runtime_present(spark, tmp_path):
    """Exercises the write_extracted Iceberg branch (catalog-name target ->
    writeTo().append()) against a local hadoop catalog.

    SKIPPED in this sandbox: the iceberg-spark-runtime jar is not baked in
    and cannot be vendored offline, so the branch is UNVERIFIED here (see
    README "Optional dependencies"). On a cluster with the jar this test
    runs for real: sessions pick up the catalog conf below, the write goes
    through Iceberg's snapshot commit, and the read-back sees the rows.
    """
    from paraocr_spark.sources import io as pio

    if not pio._iceberg_available(spark):
        import pytest

        pytest.skip("iceberg-spark-runtime jar not on the classpath")

    wh = str(tmp_path / "warehouse")
    spark.conf.set("spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it.warehouse", wh)
    spark.sql("create database if not exists it.db")
    df = spark.createDataFrame(
        [("u1", "t1"), ("u2", "t2")], schema="url string, extracted_text string"
    ).withColumn("warc_ts", F.current_timestamp())
    spark.sql(
        "create table if not exists it.db.extracted "
        "(url string, extracted_text string, warc_ts timestamp) using iceberg"
    )
    pio.write_extracted(df, "it.db.extracted")
    assert spark.table("it.db.extracted").count() == 2


def _files_per_bucket_dir(out: str) -> dict:
    """{run_id=.../warc_bucket=... dir: parquet file count}."""
    import collections

    return collections.Counter(
        str(p.parent.relative_to(out))
        for p in pathlib.Path(out).rglob("*.parquet")
    )


def _buckets_with_both_branches(spark, out: str) -> int:
    """Buckets holding a salted giant AND a normal doc: only there could a
    union that concatenates (instead of zipping) its children's
    partitions put one bucket in two write tasks, i.e. two files."""
    from paraocr_spark.operators.skew import giant_bytes

    giant = (F.col("_doc_bytes") > giant_bytes(spark)).cast("int")
    return (
        pio.read_table(spark, out).groupBy("warc_bucket")
        .agg(F.max(giant).alias("g"), F.min(giant).alias("n"))
        .where("g = 1 and n = 0").count()
    )


def _executed_write_plan(spark, out: str) -> str:
    """The final (AQE) physical plan of the latest write into ``out``, read
    from the SQL status store (populated with the UI disabled) once the
    listener bus has delivered the write's plan updates."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription() for i in range(execs.size())
    ]
    return [p for p in plans
            if "InsertIntoHadoopFsRelationCommand" in p and out in p][-1]


def _bucket_exchanges_per_union_side(plan: str) -> tuple[str, list[int]]:
    """(the final plan tree above the Union, the number of bucket
    Exchanges — hashpartitioning on the bucket's key, cast(warc_ts as
    bigint) — under each Union child)."""
    import re

    tree = plan.split("\n\n")[0]
    current = re.split(r"== (?:Current|Final) Plan ==", tree)[1]
    current = current.split("== Initial Plan ==")[0].splitlines()
    u = next(i for i, ln in enumerate(current) if re.search(r"\bUnion \(", ln))
    col = current[u].index("Union")
    sides: list[list[str]] = []
    for ln in current[u + 1:]:
        if ln[col:col + 2] in (":-", "+-"):
            sides.append([])
        sides[-1].append(ln)
    bucket_ex = set(re.findall(
        r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: "
        r"hashpartitioning\(cast\(warc_ts#\d+ as bigint\), \d+\)", plan))
    counts = [
        sum(1 for ln in side for nid in re.findall(r"\((\d+)\)", ln)
            if nid in bucket_ex)
        for side in sides
    ]
    return "\n".join(current[:u]), counts


@pytest.mark.parametrize("cached", [False, True],
                         ids=["no_cache", "shard_cache"])
def test_run_and_write_buckets_each_branch_below_the_union(
        spark, tmp_path, split_below_giants, cached):
    """The salted extract's two branches (normal kernel, merged giants) each
    get their own warc_bucket Exchange BELOW the union, and the union zips
    them with no Exchange above it — so the normal kernel's map stage never
    waits on the giant chain — while every bucket still gets exactly one
    file for the invocation. The same with giant shards read through a
    shard cache."""
    out = str(tmp_path / "extracted")
    pages = pages_df(spark, 120, 4)  # i % 40 == 9: three giants
    cache = str(tmp_path / "cache") if cached else None
    m = run_and_write(spark, pages, out, str(tmp_path / "lin"),
                      PipelineConfig(run_id="rb", warc_buckets=8,
                                     shard_cache_path=cache))
    assert m["rows"] == 120
    assert m["buckets"] == 8  # no footers to size from: the cap exactly
    files = _files_per_bucket_dir(out)
    assert len(files) == 8 and set(files.values()) == {1}, files
    assert all(d.startswith("run_id=rb/warc_bucket=") for d in files)
    assert _buckets_with_both_branches(spark, out) > 0

    above, per_side = _bucket_exchanges_per_union_side(
        _executed_write_plan(spark, out))
    assert per_side == [1, 1], per_side
    assert "Exchange" not in above, above


def test_run_and_write_one_file_per_bucket_above_32_buckets_per_task(
        spark, tmp_path, monkeypatch):
    """The write runs min(n_buckets, cores) tasks, so with 512 buckets at
    local[8] a task holds well over 32 buckets. Each still gets one file,
    and with the concurrent-writer cap scoped to max(32, n_buckets) the
    task never exceeds it (above the cap Spark falls back to sorting the
    rest of the task's rows — the sort plannedWrite=false exists to
    avoid)."""
    from pyspark.sql.readwriter import DataFrameWriter

    seen = []
    real_parquet = DataFrameWriter.parquet

    def spy(self, path, **kw):
        seen.append(spark.conf.get("spark.sql.maxConcurrentOutputFileWriters"))
        return real_parquet(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    out = str(tmp_path / "extracted")
    run_and_write(spark, pages_df(spark, 400, 4), out, str(tmp_path / "lin"),
                  PipelineConfig(run_id="r512", warc_buckets=512))
    assert seen == ["512"]
    files = _files_per_bucket_dir(out)
    assert set(files.values()) == {1}, files
    # the scenario really happened: bucket b sits in the write's task
    # b mod P, exactly as its Exchange places it (sources.io.bucket_for_write)
    p = pio.write_tasks(512, spark.sparkContext.defaultParallelism)
    per_task = (
        pio.read_table(spark, out).select("warc_bucket").distinct()
        .groupBy(F.pmod("warc_bucket", F.lit(p)).alias("task"))
        .count().agg(F.max("count")).first()[0]
    )
    assert per_task > 32, per_task


@pytest.mark.parametrize("n_buckets", [1, 4, 5, 8, 12, 64])
def test_bucket_for_write_spreads_buckets_evenly_over_its_tasks(spark,
                                                                n_buckets):
    """Bucket b lands in write task b mod P, and P divides n_buckets: every
    bucket in one task, every task holding n_buckets / P buckets. Hashing
    the bucket number itself put 4 buckets on 2 of 4 tasks (3 + 1)."""
    from collections import Counter

    cores = spark.sparkContext.defaultParallelism
    p = pio.write_tasks(n_buckets, cores)
    assert n_buckets % p == 0 and p <= cores
    ts = spark.range(4000).select(
        F.timestamp_seconds(F.col("id") * 3601).alias("warc_ts"))
    df = pio.bucket_for_write(ts, n_buckets)
    assert df.rdd.getNumPartitions() == p
    placed = df.select(F.spark_partition_id().alias("task"),
                       "warc_bucket").distinct().collect()
    assert sorted(r.warc_bucket for r in placed) == list(range(n_buckets))
    assert all(r.task == r.warc_bucket % p for r in placed)
    assert set(Counter(r.task for r in placed).values()) == {n_buckets // p}


def test_write_bucket_count_is_a_multiple_of_the_cores_above_them(spark):
    """A count above the cores is rounded down to a multiple of them, so
    the write's tasks hold equal bucket counts; at or below the cores, and
    for a cap the cores divide, the count is kept. No Spark job."""
    from paraocr_spark.pipeline import write_bucket_count

    cores = spark.sparkContext.defaultParallelism
    unknown = pio.Footprint(True, None)
    assert write_bucket_count(spark, unknown, 8 * cores) == 8 * cores
    assert write_bucket_count(spark, unknown, cores + 1) == cores
    assert write_bucket_count(spark, unknown, cores - 1) == cores - 1
    split = int(spark._jsparkSession.sessionState().conf()
                .filesMaxPartitionBytes())
    big = pio.Footprint(False, (2 * cores + 1) * split)
    assert write_bucket_count(spark, big, 64) == 2 * cores
    assert write_bucket_count(spark, big, cores + 1) == cores


def test_bucketed_write_layout_holds_with_union_partitioning_off(
        spark, tmp_path, split_below_giants):
    """A session that turned spark.sql.unionOutputPartitioning off still
    gets the zipped union (write_extracted scopes it on) — and gets its own
    setting back afterwards."""
    key = "spark.sql.unionOutputPartitioning"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out = str(tmp_path / "extracted")
        run_and_write(spark, pages_df(spark, 120, 4), out,
                      str(tmp_path / "lin"),
                      PipelineConfig(run_id="roff", warc_buckets=8))
        assert spark.conf.get(key) == "false"
        files = _files_per_bucket_dir(out)
        assert len(files) == 8 and set(files.values()) == {1}, files
        assert _buckets_with_both_branches(spark, out) > 0
        above, per_side = _bucket_exchanges_per_union_side(
            _executed_write_plan(spark, out))
        assert per_side == [1, 1] and "Exchange" not in above
    finally:
        spark.conf.set(key, prev)


def _balanced(n: int, cores: int) -> int:
    """write_bucket_count's last step: a count above the cores becomes a
    multiple of them."""
    return n if n <= cores else n - n % cores


def _compressed_bytes(path) -> int:
    """The compressed column-chunk bytes of a parquet directory's files."""
    import pyarrow.parquet as pq

    total = 0
    for f in pathlib.Path(path).glob("*.parquet"):
        md = pq.read_metadata(f)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            total += sum(rg.column(k).total_compressed_size
                         for k in range(rg.num_columns))
    return total


@pytest.fixture()
def pages_parquet(spark, tmp_path):
    """120 fixture pages (three layout giants > 64 KB) as parquet files."""
    path = str(tmp_path / "pages")
    pages_df(spark, 120, 4).write.parquet(path)
    return path


def test_small_parquet_input_writes_one_bucket(spark, tmp_path, pages_parquet):
    """Input far below one scan split: the write gets ONE bucket, so the
    invocation leaves exactly one file under its run_id directory."""
    out = str(tmp_path / "extracted")
    m = run_and_write(spark, spark.read.parquet(pages_parquet), out,
                      str(tmp_path / "lin"), PipelineConfig(run_id="one"))
    assert m["rows"] == 120
    assert m["buckets"] == 1
    assert _files_per_bucket_dir(out) == {"run_id=one/warc_bucket=0": 1}


def test_bucket_count_is_input_splits_capped_by_warc_buckets(
        spark, tmp_path, pages_parquet, split_below_giants):
    """Under a 64 KB split the same files span ceil(bytes / split) splits,
    and that is the bucket count (above the cores, rounded down to a
    multiple of them) — one file per bucket — unless an explicit
    warc_buckets caps it lower."""
    import math

    from conftest import SPLIT_BELOW_GIANTS

    want = _balanced(
        math.ceil(_compressed_bytes(pages_parquet) / SPLIT_BELOW_GIANTS),
        spark.sparkContext.defaultParallelism)
    assert 3 < want < 64, want  # the rule, not a cap, decides below
    for cap, expect in ((64, want), (3, 3)):
        out = str(tmp_path / f"extracted_{cap}")
        m = run_and_write(spark, spark.read.parquet(pages_parquet), out,
                          str(tmp_path / f"lin_{cap}"),
                          PipelineConfig(run_id="r", warc_buckets=cap))
        assert m["rows"] == 120
        assert m["buckets"] == expect
        files = _files_per_bucket_dir(out)
        assert set(files.values()) == {1}, files
        assert {d.split("=")[-1] for d in files} <= {
            str(b) for b in range(expect)}
        assert len(files) > expect // 2  # the buckets really were used


def test_bucket_count_keeps_the_scan_parallelism(spark, tmp_path,
                                                 pages_parquet):
    """An input smaller than cores x maxPartitionBytes is scanned in
    smaller splits, about one per core (Spark's FilePartition.maxSplitBytes):
    the bucket count follows that split, not maxPartitionBytes, so the
    write runs on as many tasks as the scan. A 1 KB open cost makes the
    fixture files span every core's split at the default 128 MB
    maxPartitionBytes, which alone would give 1 bucket."""
    key = "spark.sql.files.openCostInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        cores = spark.sparkContext.defaultParallelism
        pages = spark.read.parquet(pages_parquet)
        assert pages.rdd.getNumPartitions() >= cores
        out = str(tmp_path / "extracted")
        m = run_and_write(spark, pages, out, str(tmp_path / "lin"),
                          PipelineConfig(run_id="mid"))
    finally:
        spark.conf.set(key, prev)
    assert m["rows"] == 120
    assert m["buckets"] == cores
    files = _files_per_bucket_dir(out)
    assert set(files.values()) == {1}, files
    assert len(files) > cores // 2


def test_every_front_decides_the_same_bucket_count(
        spark, tmp_path, pages_parquet, split_below_giants, monkeypatch):
    """The count is decided in _extraction_plan from the input: run_extraction,
    the shard-cache route of run_and_write and the extract_pages route all
    build the same one, and the written layout follows it."""
    import math

    from conftest import SPLIT_BELOW_GIANTS
    from paraocr_spark import pipeline

    seen = []
    real = pipeline._extraction_plan

    def spy(*a, **kw):
        plan = real(*a, **kw)
        seen.append(plan.n_buckets)
        return plan

    monkeypatch.setattr(pipeline, "_extraction_plan", spy)
    want = _balanced(
        math.ceil(_compressed_bytes(pages_parquet) / SPLIT_BELOW_GIANTS),
        spark.sparkContext.defaultParallelism)
    pages = spark.read.parquet(pages_parquet)
    run_extraction(spark, pages, PipelineConfig())
    metrics = []
    for front, cache in (("cached", str(tmp_path / "cache")), ("plain", None)):
        out = str(tmp_path / front)
        metrics.append(run_and_write(
            spark, pages, out, str(tmp_path / f"lin_{front}"),
            PipelineConfig(run_id=front, shard_cache_path=cache)))
        files = _files_per_bucket_dir(out)
        assert set(files.values()) == {1}, files
        assert len(files) <= want
    assert seen == [want] * 3
    assert [m["buckets"] for m in metrics] == [want] * 2
    assert spark.read.parquet(str(tmp_path / "cache")).count() > 0


def test_iceberg_probe_runs_once_per_spark_context(spark, tmp_path,
                                                   monkeypatch):
    """Two write_extracted calls and a read_table ask the JVM once: the
    answer is kept on the SparkContext."""
    import types

    lookups = []
    jvm = spark._jvm

    def counting(name):
        lookups.append(name)
        return jvm.java.lang.Class.forName(name)

    class CountingJvm:
        """The session's JVM view with Class.forName counted."""
        java = types.SimpleNamespace(lang=types.SimpleNamespace(
            Class=types.SimpleNamespace(forName=counting)))

        def __getattr__(self, name):
            return getattr(jvm, name)

    monkeypatch.delattr(spark.sparkContext, "_paraocr_iceberg", raising=False)
    monkeypatch.setattr(spark, "_jvm", CountingJvm())
    df = pages_df(spark, 8, 2).select("url", "warc_ts", "lang")
    out = str(tmp_path / "t")
    pio.write_extracted(df, out, n_buckets=2)
    pio.write_extracted(df, out, n_buckets=2)
    assert pio.read_table(spark, out).count() == 16
    assert lookups == ["org.apache.iceberg.spark.SparkCatalog"]


def test_three_fronts_build_the_same_extraction(spark, tmp_path,
                                               split_below_giants):
    """run_extraction, run_and_write and the stream's micro-batches build
    their plan in one place, so one config means the same on all three: the
    same keyword filter, the shard cache for giant shards (each front fills
    its own cache), and identical extracted rows."""
    from paraocr_spark.streaming.extract_stream import extract_stream

    src = str(tmp_path / "pages")
    pages_df(spark, 200, 4).write.parquet(src)  # giants at i % 160 == 9
    pages = spark.read.parquet(src)
    cols = ["url", "extracted_text", "spans", "method", "error"]

    def cfg(front):
        return PipelineConfig(run_id=front, ignore_url_keywords=["site1.example"],
                              shard_cache_path=str(tmp_path / f"cache_{front}"))

    def rows(df):
        return sorted(
            (r.url, r.extracted_text,
             tuple((s["start"], s["end"]) for s in r.spans), r.method, r.error)
            for r in df.select(*cols).collect()
        )

    extracted = run_extraction(spark, pages, cfg("batch"))
    batch = rows(extracted)
    run_and_write(spark, pages, str(tmp_path / "out"), str(tmp_path / "lin"),
                  cfg("write"))
    written = rows(spark.read.parquet(str(tmp_path / "out")))
    q = extract_stream(spark, src, str(tmp_path / "stream_out"),
                       str(tmp_path / "ckpt"), cfg("stream"), available_now=True)
    q.awaitTermination(300)
    streamed = rows(spark.read.parquet(str(tmp_path / "stream_out")))

    assert len(batch) == 196  # 4 urls on site1.example are skipped
    assert batch == written == streamed
    for front in ("batch", "write", "stream"):
        cache = spark.read.parquet(str(tmp_path / f"cache_{front}"))
        assert cache.select("url").distinct().count() == 2  # both giants


def test_build_session_caps_arrow_batch_bytes(monkeypatch):
    """job.build_session sets the Arrow byte cap (read off the builder, no
    session is created)."""
    from pyspark.sql import SparkSession

    from paraocr_spark import job

    seen = {}
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: seen.update(self._options))
    for k in job.WORKER_ALLOC_ENV:
        monkeypatch.delenv(k, raising=False)  # restored after the test
    job.build_session(master="local[1]")
    assert (seen["spark.sql.execution.arrow.maxBytesPerBatch"]
            == str(job.ARROW_MAX_BYTES_PER_BATCH))


def test_arrow_byte_cap_bounds_kernel_input_batches(spark):
    """Under the cap, a mapInArrow (the kernel's path) over pages holding
    giants (one in ten rows 0.7 MB, as in the perfbench crawl, and one
    5 MB row) gets no batch whose rows before the last already reach the
    cap: Spark closes a batch at the row that takes it there. Without the
    cap the record limit alone puts every giant in one batch."""
    import pyarrow as pa

    from paraocr_spark.job import ARROW_MAX_BYTES_PER_BATCH as CAP

    size = ("case when id = 5 then 5000000 "
            "when id % 10 = 9 then 700000 else 4000 end")
    pages = spark.range(0, 400, 1, 1).select(
        F.col("id").cast("string").alias("url"),
        F.expr(f"cast(repeat('x', {size}) as binary)").alias("html"),
    )

    def batches(it):
        for b in it:
            n = [len(h) for h in b.column("html").to_pylist()]
            yield pa.RecordBatch.from_pydict(
                {"rows": [len(n)], "before_last": [sum(n[:-1])]},
                schema=pa.schema([("rows", pa.int64()),
                                  ("before_last", pa.int64())]))

    def seen():
        return pages.mapInArrow(batches, "rows long, before_last long").collect()

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    prior = spark.conf.get(key)
    spark.conf.set(key, str(CAP))
    try:
        capped = seen()
    finally:
        spark.conf.set(key, prior)
    assert sum(r.rows for r in capped) == 400
    assert len(capped) > 1
    assert all(r.before_last < CAP for r in capped), capped
    assert any(r.before_last >= CAP for r in seen())


def test_zip_directory_read_once_per_unchanged_archive(tmp_path, monkeypatch):
    """The kernel's worker-side zipimport memo: invalidate_caches() on an
    unchanged archive (pyspark's worker calls it at every task start)
    re-reads nothing, and a rewritten archive is read again."""
    import zipfile
    import zipimport

    from paraocr_spark.operators import extract as ex

    reads = []
    orig = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(ex, "_zip_directories_memoized", False)
    z = tmp_path / "mods.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("zmod_a.py", "X = 1\n")
    ex._memoize_zip_directories()
    imp = zipimport.zipimporter(str(z))
    for _ in range(3):
        imp.invalidate_caches()
    assert imp.find_spec("zmod_a") is not None
    assert reads.count(str(z)) == 1
    with zipfile.ZipFile(z, "w") as f:  # a new size: read again
        f.writestr("zmod_a.py", "X = 1\n")
        f.writestr("zmod_b.py", "Y = 2\n")
    imp.invalidate_caches()
    assert imp.find_spec("zmod_b") is not None
    assert reads.count(str(z)) == 2
