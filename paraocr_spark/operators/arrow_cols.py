"""Arrow column builders for the extraction workers: none imports pandas.

The extraction steps (the kernel, the salt split, the giant features; all
in operators/extract.py and operators/skew.py) exchange ``pyarrow`` batches
with the JVM through ``mapInArrow`` and an iterator ``arrow_udf``. Their
Python workers never import pandas: pandas alone costs a worker about
38 MB of RSS, and none of these steps uses it.

That rules out the obvious pyarrow constructors. In pyarrow 16,
``pa.array()``, ``pa.scalar()``, ``Array.fill_null()`` and
``Array.to_numpy()`` / ``np.asarray(array)`` import pandas through
pyarrow's pandas shim whenever pandas is installed. ``Array.from_buffers``,
``to_pylist``, ``StructArray``/``ListArray.from_arrays``,
``RecordBatch.from_arrays``, ``take`` and ``pa.nulls`` do not, and
neither does pyspark's own mapInArrow / arrow_udf worker path. So the
workers read input columns with ``to_pylist()``, pass columns they do not
change through as the input's own arrays, and build every new column here
from numpy-backed buffers: one offsets array plus one joined data buffer
per string/binary column, flat offsets for list columns.
tests/test_worker_imports.py pins that a fresh interpreter running the
three steps never imports pandas.
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import chain

import numpy as np
import pyarrow as pa

from paraocr_spark.core.features import FEATURE_FIELDS

_ARROW_TYPES = {"long": pa.int64(), "double": pa.float64(),
                "string": pa.string()}
#: the Arrow type of the ``features`` struct (core/features.FEATURES_DDL)
FEATURES_TYPE = pa.struct([(n, _ARROW_TYPES[t]) for n, t in FEATURE_FIELDS])
#: the Arrow type of ``spans``: array<struct<start:long,end:long>>
SPANS_TYPE = pa.list_(pa.field(
    "element", pa.struct([("start", pa.int64()), ("end", pa.int64())])))


def ddl(fields: Sequence[tuple[str, str]]) -> str:
    """A Spark DDL schema string from (name, DDL type) pairs: a step's
    output names and its mapInArrow schema come from one list."""
    return ", ".join(f"{name} {typ}" for name, typ in fields)


def _validity(is_valid: np.ndarray) -> pa.Buffer | None:
    """An Arrow validity bitmap (None: no nulls) from a bool per row."""
    if is_valid.all():
        return None
    return pa.py_buffer(np.packbits(is_valid, bitorder="little"))


def _offsets(lengths: np.ndarray) -> pa.Buffer:
    """int32 value offsets from per-row lengths (the 32-bit offsets
    string, binary and list carry; a 4 MB-capped batch stays far below)."""
    offsets = np.zeros(len(lengths) + 1, np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise OverflowError("column exceeds 32-bit Arrow offsets")
    return pa.py_buffer(offsets.astype(np.int32))


def _var_width(typ: pa.DataType, values: Sequence) -> pa.Array:
    """A string or binary column from one offsets array plus one joined
    data buffer; ``values`` are bytes, None for a null."""
    n = len(values)
    is_valid = np.fromiter((v is not None for v in values), bool, n)
    data = [b"" if v is None else v for v in values]
    lengths = np.fromiter(map(len, data), np.int64, n)
    return pa.Array.from_buffers(
        typ, n, [_validity(is_valid), _offsets(lengths),
                 pa.py_buffer(b"".join(data))])


def strings(values: Sequence) -> pa.Array:
    """A string column from str|None values."""
    return _var_width(pa.string(), [None if v is None else v.encode("utf-8")
                                    for v in values])


def binaries(values: Sequence) -> pa.Array:
    """A binary column from bytes|None values."""
    return _var_width(pa.binary(), values)


def fixed(typ: pa.DataType, values, dtype) -> pa.Array:
    """A null-free numeric column of ``typ`` from anything numpy reads as
    ``dtype`` (a list of Python numbers, an array)."""
    data = np.ascontiguousarray(values, dtype=dtype)
    return pa.Array.from_buffers(typ, len(data), [None, pa.py_buffer(data)])


def int32s(values) -> pa.Array:
    return fixed(pa.int32(), values, np.int32)


def spans_array(spans: Sequence) -> pa.Array:
    """``spans`` from one list of (start, end) pairs per row: flat offsets
    over one start/end struct of every row's pairs."""
    n = len(spans)
    lengths = np.fromiter(map(len, spans), np.int64, n)
    flat = np.array(list(chain.from_iterable(spans)),
                    np.int64).reshape(-1, 2)
    pairs = pa.StructArray.from_arrays(
        [fixed(pa.int64(), flat[:, 0], np.int64),
         fixed(pa.int64(), flat[:, 1], np.int64)],
        fields=list(SPANS_TYPE.value_type))
    return pa.Array.from_buffers(SPANS_TYPE, n, [None, _offsets(lengths)],
                                 children=[pairs])


def features_array(rows: Sequence) -> pa.Array:
    """``features`` from one feature dict (core/features) or None per row:
    one child per field, a null struct where the row has none."""
    n = len(rows)
    is_valid = np.fromiter((r is not None for r in rows), bool, n)
    children = []
    for field in FEATURES_TYPE:
        name = field.name
        if field.type == pa.string():
            children.append(strings([r[name] if r is not None else None
                                     for r in rows]))
        else:
            dtype = np.int64 if field.type == pa.int64() else np.float64
            children.append(fixed(field.type,
                                  [r[name] if r is not None else 0
                                   for r in rows], dtype))
    return pa.Array.from_buffers(FEATURES_TYPE, n, [_validity(is_valid)],
                                 children=children)
