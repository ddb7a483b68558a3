"""Size-aware skew handling: salted split of giant layout documents.

The reference has no skew handling — one giant PDF serializes all its pages
through one worker's slots (parallel.py:42-49 attributes batch time evenly;
a single file's pages are assembled in one Manager dict entry,
parallel.py:415-425). Here a giant multi-page layout document is split into
independent shard rows (the salt), extracted in parallel across executors,
and reassembled deterministically by ``groupBy(url)`` +
``sort_array(collect_list(struct(shard_id, ...)))`` — never relying on
shuffle order (SURVEY.md §7 step 5).

Only a document the input partitioning cannot balance is salted
(FP-Hadoop, VLDB'15): a layout doc is a giant when it is larger than one
scan split, the session's ``spark.sql.files.maxPartitionBytes``, read when
the plan is built (giant_bytes). A smaller doc cannot straggle its task
whatever its cost per byte, and the normal kernel extracts it whole, byte
for byte as the shards would. The salted chain is not free: it adds three
Python stages and two shuffles, and its branch costs a second source scan
even when no row reaches it (operators/extract.extract_pages), so
pipeline._extraction_plan drops it when the input's parquet footers rule a
giant out (sources.io.input_footprint).

HTML documents are single parse units and are not split; their skew is
absorbed by the scan's fan-out (sources.io.read_table) plus AQE.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paraocr_spark.core import layout

# A giant is split into shards of at most PAGES_PER_SHARD pages.
PAGES_PER_SHARD = 64

_SHARD_COLS = "url string, warc_ts timestamp, html binary, text string, lang string, shard_id int, n_shards int"


def _is_layout_col():
    return F.substring(F.col("html"), 1, len(layout.MAGIC)) == F.lit(layout.MAGIC)


def giant_bytes(spark: SparkSession) -> int:
    """The giant threshold: one scan split, the session's
    ``spark.sql.files.maxPartitionBytes`` in bytes (Spark's own parse of
    the setting, so "128MB" and "134217728" read the same)."""
    return int(spark._jsparkSession.sessionState().conf()
               .filesMaxPartitionBytes())


def giant_condition(threshold: int):
    """Catalyst-visible predicate selecting layout documents larger than
    ``threshold`` bytes (giant_bytes)."""
    return _is_layout_col() & (F.octet_length("html") > F.lit(threshold))


def salt_pages(pages: DataFrame,
               pages_per_shard: int = PAGES_PER_SHARD) -> DataFrame:
    """giant layout pages -> shard rows (shard_id, n_shards).

    Callers pre-filter with giant_condition(); every input row pays the
    Python split pass, so only route giants here. Shards of one doc spread
    across the cluster via repartition on (url, shard_id).
    """

    def split_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out_rows = []
            for row in b.itertuples(index=False):
                try:
                    shards = layout.split_layout_pages(bytes(row.html), pages_per_shard)
                except ValueError:
                    shards = [bytes(row.html)]  # corrupt: let the kernel error it
                n = len(shards)
                for sid, payload in enumerate(shards):
                    out_rows.append(
                        (row.url, row.warc_ts, payload, None, row.lang, sid, n)
                    )
            yield pd.DataFrame(
                out_rows,
                columns=["url", "warc_ts", "html", "text", "lang", "shard_id", "n_shards"],
            )

    return (
        pages.mapInPandas(split_batch, schema=_SHARD_COLS)
        # spread one doc's shards across the cluster instead of one task
        .repartition(F.col("url"), F.col("shard_id"))
    )
