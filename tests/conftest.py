import contextlib

import pytest
from pyspark.sql import SparkSession

#: A scan split below every fixture giant (gen_page's i % 40 == 9 layout
#: docs are all > 64 KB): scoped as ``spark.sql.files.maxPartitionBytes``,
#: it makes them docs larger than a split, the ones the engine salts.
SPLIT_BELOW_GIANTS = 64 * 1024


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("paraocr_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def scoped_split(spark):
    """``with scoped_split():`` sets the session's scan split to
    SPLIT_BELOW_GIANTS and restores the prior setting on exit.
    Session-scoped, so module-scoped fixtures can use it too."""

    @contextlib.contextmanager
    def scope():
        key = "spark.sql.files.maxPartitionBytes"
        prior = spark.conf.get(key)
        spark.conf.set(key, str(SPLIT_BELOW_GIANTS))
        try:
            yield
        finally:
            spark.conf.set(key, prior)

    return scope


@pytest.fixture()
def split_below_giants(scoped_split):
    """The fixture giants are larger than the scan split for one test."""
    with scoped_split():
        yield


import textwrap

_CUSTOM_BACKEND_SRC = '''
"""A third-party extraction strategy: first 10 chars of whatever is there."""
import pandas as pd
from paraocr_spark.backends import ExtractorBackend


class HeadBackend(ExtractorBackend):
    def __init__(self, head: int = 10):
        self.head = head

    def extract_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        ext, spans, method, error = [], [], [], []
        for h, t in zip(pdf["html"], pdf["text"]):
            src = t if t is not None else (
                bytes(h).decode("utf-8", "replace") if h is not None else None
            )
            if src is None:
                ext.append(None); spans.append([]); method.append("error")
                error.append("no_content")
            else:
                s = src[: self.head]
                ext.append(s); spans.append([(0, len(s))])
                method.append("head"); error.append(None)
        return pd.DataFrame(
            {"extracted_text": ext, "spans": spans, "method": method,
             "error": error},
        )
'''


@pytest.fixture(scope="module")
def custom_backend(spark, tmp_path_factory):
    mod = tmp_path_factory.mktemp("plugin") / "head_backend_plugin.py"
    mod.write_text(textwrap.dedent(_CUSTOM_BACKEND_SRC))
    # the spark-submit --py-files flow: ship the plugin, import by dotted path
    spark.sparkContext.addPyFile(str(mod))
    import sys

    sys.path.insert(0, str(mod.parent))
    return "head_backend_plugin.HeadBackend"
