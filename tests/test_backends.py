"""Pluggable extractor backend registry (the reference's --ocr-backend
analog: dotted-path plugin load cli.py:101-123, per-worker instantiation
gpu_worker.py:20-28, contract ocr_backends/base.py:6-10)."""

import pathlib
import textwrap

import pytest
from pyspark.sql import functions as F

from paraocr_spark.backends import preflight_backend, resolve_backend_class
from paraocr_spark.operators.extract import extract_pages
from paraocr_spark.pipeline import PipelineConfig, ignore_keyword_filter, run_extraction
from paraocr_spark.sources.pages import pages_df

def test_custom_backend_end_to_end(spark, custom_backend):
    pages = pages_df(spark, 60, 4)
    rows = extract_pages(
        pages, salt=False, backend=custom_backend, backend_kwargs={"head": 7}
    ).collect()
    assert len(rows) == 60
    with_content = [r for r in rows if r.method == "head"]
    assert with_content, "custom backend must have produced rows"
    for r in with_content:
        assert len(r.extracted_text) <= 7
        assert [(s["start"], s["end"]) for s in r.spans] == [(0, len(r.extracted_text))]
    assert all(r.method in ("head", "error") for r in rows)


def test_builtin_default_backend_resolves(spark):
    cls = resolve_backend_class("default")
    assert cls.__name__ == "RoutedExtractorBackend"


def test_preflight_fails_fast_on_bad_path():
    with pytest.raises(ImportError):
        preflight_backend("no_such_module.NoSuchClass")
    with pytest.raises(ImportError):
        preflight_backend("not-a-dotted-path")


def test_backend_change_invalidates_config_fp(custom_backend):
    a = PipelineConfig(backend="default")
    b = PipelineConfig(backend=custom_backend)
    c = PipelineConfig(backend=custom_backend, backend_kwargs={"head": 3})
    assert len({a.fingerprint, b.fingerprint, c.fingerprint}) == 3


def test_pipeline_runs_custom_backend(spark, custom_backend):
    extracted = run_extraction(
        spark, pages_df(spark, 40, 2),
        PipelineConfig(run_id="plug", backend=custom_backend),
    )
    got = extracted.collect()
    assert len(got) == 40
    assert {r.method for r in got} <= {"head", "error"}


def test_ignore_keyword_filter(spark):
    """S3 ignore-keyword filter: case-insensitive url substring skip,
    evaluated as a Catalyst filter before the Python kernel."""
    pages = pages_df(spark, 100, 4)
    kept = ignore_keyword_filter(pages, ["SITE1.EXAMPLE", "site2.example"])
    urls = [r.url for r in kept.select("url").collect()]
    assert urls and all(
        "site1.example" not in u and "site2.example" not in u for u in urls
    )
    # engine-level knob: extraction sees only the filtered rows
    extracted = run_extraction(
        spark, pages,
        PipelineConfig(run_id="ign", ignore_url_keywords=["site1.example"]),
    )
    out_urls = [r.url for r in extracted.select("url").collect()]
    assert out_urls and all("site1.example" not in u for u in out_urls)
    # the filter is in the optimized plan below the Python stage
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        kept.explain()
    assert "Filter" in buf.getvalue() and "contains" in buf.getvalue().lower()


def test_backend_cache_key_accepts_json_kwargs():
    """--backend-kwargs is parsed JSON, so values may be lists/dicts; the
    instance cache key must accept them (ADVICE r2: tuple(sorted(...)) threw
    TypeError on unhashable values)."""
    import paraocr_spark.backends as bk

    class KwargBackend(bk.ExtractorBackend):
        def __init__(self, **kwargs):
            self.kwargs = kwargs

        def extract_batch(self, pdf):
            return pdf

    bk._KwargBackend = KwargBackend  # make it importable by dotted path
    try:
        spec = "paraocr_spark.backends._KwargBackend"
        b1 = bk.get_backend(spec, {"weights": [1, 2], "opts": {"a": 1}})
        b2 = bk.get_backend(spec, {"opts": {"a": 1}, "weights": [1, 2]})
        assert b1 is b2  # canonical JSON key: order-insensitive singleton
        assert b1.kwargs["weights"] == [1, 2]
    finally:
        del bk._KwargBackend
