"""No pandas in an extraction worker.

The three Python steps of operators/extract.extract_pages (the kernel, the
salt split, the giant features) exchange Arrow batches with the JVM, and
importing pandas alone costs a Python worker about 38 MB. This runs the
three batch functions in a fresh interpreter, as a worker would, and
checks that pandas never got imported (operators/arrow_cols.py says which
pyarrow calls would import it).
"""

import pathlib
import subprocess
import sys
import textwrap

import pyarrow as pa

from paraocr_spark.core import layout
from paraocr_spark.sources.pages import gen_page

_WORKER = textwrap.dedent('''
    import sys

    import pyarrow as pa

    from paraocr_spark.core.layout import MAGIC
    from paraocr_spark.core.reference import extract_document
    from paraocr_spark.operators.arrow_cols import int32s
    from paraocr_spark.operators.extract import (
        _METRIC_COLS, _extract_batch, _giant_features)
    from paraocr_spark.operators.lineage import tally
    from paraocr_spark.operators.skew import split_batches

    def read(path):
        with pa.ipc.open_stream(pa.OSFile(path)) as r:
            return r.read_next_batch()

    pages, giant_in = read(sys.argv[1]), read(sys.argv[2])

    out = _extract_batch(pages, 3, "default", None)
    html, text = pages.column("html").to_pylist(), pages.column("text").to_pylist()
    for row, h, t in zip(out.to_pylist(), html, text):
        want = extract_document(h, t)
        assert (row["extracted_text"], row["method"], row["error"]) == (
            want.extracted_text, want.method, want.error), row["url"]
        assert [(s["start"], s["end"]) for s in row["spans"]] == want.spans
    assert "layout_error" in str(out.column("error").to_pylist())
    totals = {}
    tally(totals, *(out.column(c) for c in _METRIC_COLS))
    assert totals[3][0] == pages.num_rows

    giants = pages.take(int32s(
        [i for i, h in enumerate(html) if h and h.startswith(MAGIC)]))
    shards = list(split_batches(iter([giants]), pages_per_shard=64))
    n_shards = shards[0].column("n_shards").to_pylist()
    assert max(n_shards) > 1 and 1 in n_shards  # a giant, the corrupt row
    shard_out = _extract_batch(shards[0], 3, "default", None)
    assert None in shard_out.column("features").to_pylist()

    feats = list(_giant_features(iter([tuple(giant_in.columns)]),
                                 lineage_acc=object()))
    assert [f["n_chars"] for f in feats[0].to_pylist()] == [10**6, 0]

    assert "pandas" not in sys.modules, "an extraction step imported pandas"
    print("ok")
''')


def _write(path, batch: pa.RecordBatch) -> str:
    with pa.ipc.new_stream(str(path), batch.schema) as w:
        w.write_batch(batch)
    return str(path)


def test_extraction_steps_import_no_pandas(tmp_path):
    rows = [gen_page(i) for i in range(170)]  # giants at i = 9 and 169
    rows.append({**gen_page(0), "url": "corrupt", "text": None,
                 "html": layout.MAGIC + b"\x00\x01garbage"})
    for r in rows:
        r.update(shard_id=0, n_shards=1)
    pages = pa.RecordBatch.from_pylist(rows, schema=pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ("shard_id", pa.int32()), ("n_shards", pa.int32()),
    ]))
    giant_in = pa.RecordBatch.from_pydict(
        {"prefix": ["the cat and the dog", None], "n_chars": [10**6, None],
         "_pid": [1, 2], "_doc_bytes": [10, 20], "_wall_s": [0.5, 0.25]},
        schema=pa.schema([("prefix", pa.string()), ("n_chars", pa.int32()),
                          ("_pid", pa.int32()), ("_doc_bytes", pa.int64()),
                          ("_wall_s", pa.float64())]))
    r = subprocess.run(
        [sys.executable, "-c", _WORKER, _write(tmp_path / "pages", pages),
         _write(tmp_path / "giant", giant_in)],
        capture_output=True, text=True, timeout=300,
        cwd=pathlib.Path(__file__).resolve().parents[1],  # the repo root
    )
    assert r.returncode == 0 and r.stdout.strip() == "ok", r.stderr[-2000:]
