"""Streaming extraction: continuous ingestion of new page files.

The reference is a batch tool with a resume loop (re-run the CLI, the
anti-join skips done work — cli.py:227-231). The Spark-native upgrade is a
Structured Streaming job that watches the pages table's directory and
extracts new files as they land:

  * ``extract_stream`` uses **foreachBatch**, so every micro-batch runs the
    exact same plan as the batch pipeline (pipeline._extraction_plan:
    backend preflight, keyword filter, salting and the shard cache, kernel,
    reassembly, bucketed write) — one code path, tested once. Each row
    keeps its metric columns (_pid, _doc_bytes, _wall_s); no lineage table
    is written, but a groupBy(_pid) over a batch's rows gives exactly the
    rows run_and_write's accumulator would report for it
    (operators/lineage.py). foreachBatch alone is at-least-once (a batch
    retried after a mid-write failure would duplicate rows), so the write is
    made IDEMPOTENT: each micro-batch lands in its own
    ``run_id=<run>-b<batch_id>`` directory, and a replay replaces that
    directory whole (sources/io.write_extracted's overwrite) — even when
    it writes fewer buckets than the first attempt, as a restart on
    another core count does — giving effective exactly-once end to end;
  * ``method_counts_stream`` is a pure streaming aggregation (watermark +
    tumbling window over warc_ts) for live quality monitoring — the analog
    of the reference's perf-log sink (parallel.py:124-137) as a stream.

Checkpointing gives resume-after-crash for free (the streaming analog of
the reference's cache/manifest store, parallel.py:63-96).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paraocr_spark import pipeline
from paraocr_spark.pipeline import EXTRACTED_COLS, PipelineConfig
from paraocr_spark.sources import io as pio
from paraocr_spark.sources.pages import PAGES_SCHEMA_DDL


def read_pages_stream(spark: SparkSession, input_path: str,
                      max_files_per_trigger: int = 64) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def extract_stream(spark: SparkSession, input_path: str, output_path: str,
                   checkpoint_path: str, cfg: PipelineConfig | None = None,
                   available_now: bool = False):
    """Start the streaming extraction; returns the StreamingQuery."""
    cfg = cfg or PipelineConfig(run_id="stream")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # config_fp encodes backend + ignore keywords, so the batch MUST be
        # produced under exactly that config — otherwise resume would treat
        # default-backend rows as done under the custom config
        plan = pipeline._extraction_plan(batch_df, cfg, write=True)
        # batch_id in the partition value + OVERWRITE = idempotent replay
        # (the retried batch replaces its own run_id=... directory whole,
        # never touching other batches')
        out = plan.df.withColumn("run_id", F.lit(f"{cfg.run_id}-b{batch_id}"))
        pio.write_extracted(out.select(*EXTRACTED_COLS, "config_fp", "run_id",
                                       "_pid", "_doc_bytes", "_wall_s",
                                       "warc_bucket"),
                            output_path, mode="overwrite",
                            n_buckets=plan.n_buckets)

    writer = (
        read_pages_stream(spark, input_path)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def method_counts_stream(pages_stream: DataFrame) -> DataFrame:
    """Watermarked tumbling-window counts by extraction route (cheap,
    relational-only classification so it stays fully streaming-native)."""
    from paraocr_spark.core.layout import MAGIC

    route = (
        F.when(F.col("text").isNotNull() & (F.length("text") >= 100), "native_candidate")
        .when(F.col("html").isNull(), "error")
        .when(F.substring("html", 1, len(MAGIC)) == F.lit(MAGIC), "layout")
        .otherwise("html")
    )
    return (
        pages_stream.withWatermark("warc_ts", "1 hour")
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"), route.alias("route"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.octet_length("html")).alias("bytes"))
        .select(F.col("w.start").alias("window_start"), "route", "n", "bytes")
    )
