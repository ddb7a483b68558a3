"""The default extraction backend: per-document routing + parsing.

This is the route logic the reference hard-wires across worker_dispatcher
(processors.py:24-59), the native-text gate (parallel.py:295-334) and the
render/OCR inner kernel (processors.py:63-115), packaged as the ``default``
entry of the pluggable backend registry (paraocr_spark/backends.py) so a
user can swap the whole strategy — e.g. a trafilatura-style DOM scorer —
with one config string, exactly like the reference swaps OCR engines.
"""

from __future__ import annotations

from collections.abc import Mapping

from paraocr_spark.backends import ExtractorBackend
from paraocr_spark.core import htmlx
from paraocr_spark.core.reference import extract_document


class RoutedExtractorBackend(ExtractorBackend):
    """fast-path gate -> layout/html dispatch -> in-band errors: the serial
    oracle (core/reference.extract_document) per row, with this backend's
    HTML parser. A shard of a giant (operators/skew.salt_pages) has text
    None, so it never passes the native-text gate."""

    @staticmethod
    def _parse_html(markup: str) -> tuple[str, list[tuple[int, int]]]:
        """HTML-parser hook: the C-path backend overrides just this."""
        return htmlx.extract_html(markup)

    def extract_batch(self, batch: Mapping) -> dict:
        res = [extract_document(h, t, self._parse_html)
               for h, t in zip(batch["html"], batch["text"])]
        return {"extracted_text": [r.extracted_text for r in res],
                "spans": [r.spans for r in res],
                "method": [r.method for r in res],
                "error": [r.error for r in res]}


class LxmlRoutedExtractorBackend(RoutedExtractorBackend):
    """Same routing, C-accelerated HTML parse (lxml). Instantiation fails
    with a clear ImportError where lxml is absent — surfaced at driver
    preflight (backends.preflight_backend), never inside tasks."""

    def __init__(self):
        from paraocr_spark.core import htmlx_lxml  # raises if lxml missing

        self._parse_html = htmlx_lxml.extract_html_lxml
