"""Golden-output byte-identity: Spark kernel vs serial oracle (north rule).

The analog of the reference's vanilla-vs-parallel equivalence methodology
(tests/bench_colab.py:207-226 in /root/reference): same corpus, the parallel
engine must produce the same output. Here: byte-identical extracted_text +
span arrays + method + error per url, at N=500 (FIXTURES.md golden scale),
on both giant paths: salted (the scan split scoped below the fixture
giants) and whole through the normal kernel (the default split, larger
than every fixture doc).
"""

import pytest
from pyspark.sql import functions as F

from paraocr_spark.core.reference import extract_document
from paraocr_spark.operators.extract import extract_pages
from paraocr_spark.operators.skew import giant_bytes, giant_condition, salt_pages
from paraocr_spark.sources.pages import gen_page, pages_df

N = 500


@pytest.fixture(scope="module")
def result_runs(spark, scoped_split):
    """{giant path: the collected extract_pages rows}. The giant rule reads
    the split when the plan is built, so the salted plan is built (and
    run) inside the scope."""
    from paraocr_spark.operators.extract import split_normal_giants

    pg = pages_df(spark, N, 8)
    with scoped_split():
        assert split_normal_giants(pg)[1].count() >= 1, "nothing salted"
        salted = extract_pages(pg).collect()
    return {"salted": salted, "unsalted": extract_pages(pg).collect()}


@pytest.fixture(scope="module")
def result_rows(result_runs):
    """Both runs' rows: every check below holds row by row on each."""
    return result_runs["salted"] + result_runs["unsalted"]


def test_row_count_invariant(result_runs):
    # one output row per input url, errors in-band never dropped
    # (parallel.py:565-569 analog)
    for rows in result_runs.values():
        assert len(rows) == N
        assert len({r.url for r in rows}) == N


def test_byte_identity_all_rows(result_rows):
    from paraocr_spark.core.features import compute_features

    for row in result_rows:
        i = int(row.url.rsplit("/", 1)[1])
        p = gen_page(i)
        exp = extract_document(p["html"], p["text"])
        assert row.method == exp.method, (i, row.method, exp.method)
        assert row.error == exp.error, (i, row.error, exp.error)
        assert row.extracted_text == exp.extracted_text, i
        got_spans = [(s["start"], s["end"]) for s in row.spans]
        assert got_spans == exp.spans, i
        assert row.features.asDict() == compute_features(exp.extracted_text), i


def test_span_reconstruction(result_rows):
    # invariant: extracted_text[start:end] is a kept block/page
    for row in result_rows:
        if row.extracted_text is None:
            continue
        for s in row.spans:
            seg = row.extracted_text[s["start"]:s["end"]]
            assert len(seg) >= 0
            assert seg == seg.strip() or seg == ""


def test_salting_actually_triggers(spark, split_below_giants):
    # regression guard: giants must exceed the salt threshold
    import pyspark.sql.functions as F

    pg = pages_df(spark, 80, 8)  # includes i=9 (layout) and i=49 (giant)
    giants = pg.where(
        F.coalesce(giant_condition(giant_bytes(spark)), F.lit(False)))
    assert giants.count() >= 1, "fixture must contain giant docs"
    counts = {r.n_shards: r["count"] for r in
              salt_pages(giants).groupBy("n_shards").count().collect()}
    assert any(k > 1 for k in counts), counts


def test_all_methods_present(result_runs):
    for rows in result_runs.values():
        methods = {r.method for r in rows}
        assert methods == {"native_text", "html_extract", "layout_extract", "error"}


def test_error_rows_in_band(result_runs):
    for rows in result_runs.values():
        errs = [r for r in rows if r.method == "error"]
        assert errs, "corrupt overlay rows must appear"
        for r in errs:
            assert r.error in ("no_content", "invalid_utf8") or r.error.startswith(
                ("layout_error", "html_error")
            )
            assert r.extracted_text is None


def test_giant_with_native_text_prefers_fastpath(spark, split_below_giants):
    """A giant layout payload accompanied by gate-PASSING native text must
    resolve native_text — the serial oracle checks fastpath_ok(text) FIRST
    (core/reference.py:43), so the salted shard path (which never applies
    the gate) must not swallow these rows. A giant with long-but-failing
    text must still layout-extract byte-identically (unsalted path)."""
    giant = gen_page(169)  # cls 9, i % 160 == 9 -> giant layout payload
    assert giant["html"] is not None and len(giant["html"]) > 64 * 1024
    passing = gen_page(6)["text"]  # native-route fixture text, gate passes
    failing = "zqx wvk " * 30     # long (>=100 chars) but fails the gate
    rows = [
        ("https://t.example/fast", giant["warc_ts"], giant["html"], passing, "en"),
        ("https://t.example/slow", giant["warc_ts"], giant["html"], failing, "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    got = {r.url: r for r in extract_pages(df).collect()}
    assert len(got) == 2
    for url, text in [("https://t.example/fast", passing),
                      ("https://t.example/slow", failing)]:
        exp = extract_document(bytes(rows[0][2]), text)
        r = got[url]
        assert r.method == exp.method, (url, r.method, exp.method)
        assert r.extracted_text == exp.extracted_text, url
        assert [(s["start"], s["end"]) for s in r.spans] == exp.spans, url
    assert got["https://t.example/fast"].method == "native_text"
    assert got["https://t.example/slow"].method == "layout_extract"
