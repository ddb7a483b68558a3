"""Serial single-document reference extractor — the correctness oracle.

This is the analog of the reference's vanilla single-threaded benchmark
scripts (tests/easyocr_vanilla_bench.py:18-122 etc. in /root/reference),
which define ground truth for the parallel pipeline: *same output, faster*
(tests/bench_colab.py:207-226). The Spark pipeline must match this function
byte-for-byte per url (BASELINE.json north_rule).

Routing mirrors the reference's engine order:
  1. native-text fast path when the pre-extracted ``text`` passes the gate
     (parallel.py:295-334, gate utils.py:107-138);
  2. no content at all -> in-band error (parallel.py:565-569 keeps errors
     in-band, never drops rows);
  3. binary layout payload (magic header) -> reading-order layout extract
     (pdf_processor.py:37-59 analog);
  4. otherwise UTF-8 HTML -> DOM-tokenizer boilerplate extraction.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from paraocr_spark.core import htmlx, layout, quality

METHOD_NATIVE = "native_text"
METHOD_HTML = "html_extract"
METHOD_LAYOUT = "layout_extract"
METHOD_ERROR = "error"


@dataclass
class ExtractResult:
    extracted_text: str | None
    spans: list[tuple[int, int]] = field(default_factory=list)
    method: str = METHOD_ERROR
    error: str | None = None


def extract_document(html: bytes | None, text: str | None,
                     parse_html=htmlx.extract_html) -> ExtractResult:
    """Extract one document. Never raises — errors come back in-band.
    ``parse_html`` is the HTML parser of step 4 (markup -> (text, spans));
    the default backend's C-path variant passes its own (core/routes.py)."""
    # 1. Fast path: trust pre-extracted native text when the gate passes
    #    (parallel.py:295-307; min chars config.py:56).
    if quality.fastpath_ok(text):
        return ExtractResult(
            extracted_text=text,
            spans=[(0, len(text))],
            method=METHOD_NATIVE,
        )

    # 2. Nothing to extract from.
    if html is None or len(html) == 0:
        return ExtractResult(None, [], METHOD_ERROR, "no_content")

    # 3. Binary layout payload.
    if html.startswith(layout.MAGIC):
        try:
            merged, spans = layout.extract_layout(html)
        except ValueError as e:
            return ExtractResult(None, [], METHOD_ERROR, f"layout_error: {e}")
        return ExtractResult(merged, spans, METHOD_LAYOUT)

    # 4. HTML path.
    try:
        markup = html.decode("utf-8")
    except UnicodeDecodeError:
        return ExtractResult(None, [], METHOD_ERROR, "invalid_utf8")
    try:
        merged, spans = parse_html(markup)
    except Exception as e:  # defensive: per-doc isolation (easyocr_backend.py:260-263 analog)
        return ExtractResult(None, [], METHOD_ERROR, f"html_error: {e!r}")
    return ExtractResult(merged, spans, METHOD_HTML)
