"""paraocr_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the capabilities of the reference (phuocnguyen90/paraOCR, a
multiprocessing per-document OCR/extraction pipeline) as idiomatic Spark:
declarative DataFrame plans for everything relational (scan, resume anti-join,
lineage rollups, dedup joins) and one Arrow-batch kernel (``mapInArrow``)
for the per-document heavy extract.

Layout:
    core/        pure-Python extraction semantics (the serial oracle)
    operators/   Spark operators (extract kernel, dedup, similarity, skew, resume)
    functions/   Spark built-in expression compositions (text analytics)
    sources/     synthetic pages source + IO helpers (iceberg-or-parquet)
    streaming/   Structured Streaming variant of the extract pipeline

Reference parity is cited per-function as ``file:line`` into /root/reference.
"""

__version__ = "0.1.0"

PAGE_BREAK = "\n\n--- PAGE BREAK ---\n\n"
"""Page separator, byte-identical to the reference (parallel.py:658)."""
