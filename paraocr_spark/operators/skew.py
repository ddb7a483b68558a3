"""Size-aware skew handling: salted split of giant layout documents.

The reference has no skew handling — one giant PDF serializes all its pages
through one worker's slots (parallel.py:42-49 attributes batch time evenly;
a single file's pages are assembled in one Manager dict entry,
parallel.py:415-425). Here a giant multi-page layout document is split into
independent shard rows (the salt), extracted in parallel across executors,
and reassembled deterministically by ``groupBy(url)`` +
``sort_array(collect_list(struct(shard_id, ...)))`` — never relying on
shuffle order (SURVEY.md §7 step 5).

HTML documents are single parse units and are not split; their skew is
absorbed by the scan's fan-out (sources.io.read_table) plus AQE.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paraocr_spark.core import layout

# A layout doc whose payload exceeds this many bytes is split into shards of
# at most PAGES_PER_SHARD pages. At cluster scale these become job params.
GIANT_BYTES_THRESHOLD = 64 * 1024
PAGES_PER_SHARD = 64

_SHARD_COLS = "url string, warc_ts timestamp, html binary, text string, lang string, shard_id int, n_shards int"


def _is_layout_col():
    return F.substring(F.col("html"), 1, len(layout.MAGIC)) == F.lit(layout.MAGIC)


def giant_condition(giant_bytes: int = GIANT_BYTES_THRESHOLD):
    """Catalyst-visible predicate selecting giant layout documents."""
    return _is_layout_col() & (F.octet_length("html") > F.lit(giant_bytes))


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
