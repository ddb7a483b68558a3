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

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paraocr_spark.core import layout
from paraocr_spark.operators import arrow_cols as ac

# A giant is split into shards of at most PAGES_PER_SHARD pages.
PAGES_PER_SHARD = 64

_SHARD_FIELDS = [("url", "string"), ("warc_ts", "timestamp"),
                 ("html", "binary"), ("text", "string"), ("lang", "string"),
                 ("shard_id", "int"), ("n_shards", "int")]
_SHARD_COLS = ac.ddl(_SHARD_FIELDS)
_SHARD_NAMES = [name for name, _ in _SHARD_FIELDS]


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


def split_batches(batches: Iterator[pa.RecordBatch],
                  pages_per_shard: int = PAGES_PER_SHARD
                  ) -> Iterator[pa.RecordBatch]:
    """Giant page batches -> shard batches: each doc's layout payload split
    into shards of at most ``pages_per_shard`` pages, url/warc_ts/lang
    taken from the doc's own row, text None (a shard never fast-paths).
    A corrupt payload stays one shard of one, for the kernel to error."""
    for b in batches:
        rows, payloads, shard_ids, n_shards = [], [], [], []
        for i, html in enumerate(b.column("html").to_pylist()):
            try:
                shards = layout.split_layout_pages(html, pages_per_shard)
            except ValueError:
                shards = [html]  # corrupt: let the kernel error it
            n = len(shards)
            rows += [i] * n
            payloads += shards
            shard_ids += range(n)
            n_shards += [n] * n
        take = ac.int32s(rows)
        yield pa.RecordBatch.from_arrays(
            [b.column("url").take(take), b.column("warc_ts").take(take),
             ac.binaries(payloads), pa.nulls(len(rows), pa.string()),
             b.column("lang").take(take), ac.int32s(shard_ids),
             ac.int32s(n_shards)],
            names=_SHARD_NAMES,
        )


def salt_pages(pages: DataFrame,
               pages_per_shard: int = PAGES_PER_SHARD) -> DataFrame:
    """giant layout pages -> shard rows (shard_id, n_shards).

    Callers pre-filter with giant_condition(); every input row pays the
    Python split pass (split_batches, a mapInArrow), so only route giants
    here. Shards of one doc spread across the cluster via repartition on
    (url, shard_id).
    """
    return (
        pages.mapInArrow(lambda it: split_batches(it, pages_per_shard),
                         schema=_SHARD_COLS)
        # spread one doc's shards across the cluster instead of one task
        .repartition(F.col("url"), F.col("shard_id"))
    )
