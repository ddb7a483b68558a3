"""Resume-from-checkpoint: anti-join against prior output.

Analog of the reference's resume mechanism (load_processed_ids,
utils.py:30-50; applied at cli.py:227-231): documents whose url already
appears in the output table *for the same config fingerprint* are skipped.
At cluster scale the done-set is usually much smaller than the input and
broadcast-joins; for a huge done-set Spark falls back to shuffle
automatically — either way the expression is one declarative left_anti join
Catalyst can reorder and push.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_unprocessed(pages: DataFrame, done: DataFrame | None,
                       config_fp: str | None = None) -> DataFrame:
    """pages minus urls already extracted (left_anti on url [+config_fp]).

    ``done`` is the prior extracted/lineage output (needs ``url``; uses
    ``config_fp`` column when both sides have one). None -> no-op. A url
    repeated on the done side needs no dropDuplicates: a left-anti join
    keeps the same rows either way, and the aggregate would add a shuffle
    and a 1-task stage to every resume run.
    """
    if done is None:
        return pages
    keys = ["url"]
    d = done
    if config_fp is not None and "config_fp" in done.columns:
        d = done.where(F.col("config_fp") == config_fp)
    return pages.join(d.select(*keys), on=keys, how="left_anti")
