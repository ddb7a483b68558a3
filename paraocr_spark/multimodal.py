"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata struct,
exactly like the pages table's ``html`` column. The Spark-side plumbing —
schema, batch shape, partitioning, vectorized UDF signatures — is real and
tested; the actual codecs are STUBBED (no image/audio libraries in this
container): ``decode_image_meta`` parses only deterministic synthetic
headers, and ``extract_frames``/``resize`` raise NotImplementedError for
non-synthetic payloads, with the Arrow plumbing unchanged.

This mirrors the reference's own posture: its table/image page processors
are placeholders (processors.py:117-128, 131-141 — "worker_process_image_page"
returns a stub path), while the routing/batching around them is real.

Synthetic media format (deterministic, FIXTURES-style):
    magic  4 bytes  b"PIMG"
    width  u16, height u16, channels u8, n_frames u16
    payload: width*height*channels bytes per frame (truncated ok for tests)
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMG_MAGIC = b"PIMG"

MEDIA_META_DDL = (
    "struct<kind:string,width:int,height:int,channels:int,n_frames:int,"
    "bytes:long,valid:boolean>"
)
MEDIA_SCHEMA_DDL = f"media_id long, payload binary, meta {MEDIA_META_DDL}"


def encode_image(width: int, height: int, channels: int = 3,
                 n_frames: int = 1, fill: int = 127) -> bytes:
    head = IMG_MAGIC + struct.pack("<HHBH", width, height, channels, n_frames)
    return head + bytes([fill]) * (width * height * channels * n_frames)


def decode_image_meta(payload: bytes | None) -> dict:
    """Header-only parse — cheap, runs per element inside the Arrow batch."""
    if not payload or payload[:4] != IMG_MAGIC or len(payload) < 11:
        return {"kind": "unknown", "width": 0, "height": 0, "channels": 0,
                "n_frames": 0, "bytes": len(payload or b""), "valid": False}
    w, h, c, nf = struct.unpack_from("<HHBH", payload, 4)
    return {"kind": "image", "width": w, "height": h, "channels": c,
            "n_frames": nf, "bytes": len(payload), "valid": True}


def _decode_frame_pillow(payload: bytes, frame: int = 0) -> np.ndarray:
    """Real-codec path, import-guarded like the lxml backend: activates
    when Pillow is installed (real deployments), raises ImportError here."""
    import io

    from PIL import Image  # noqa: F401 - guarded; absent in this sandbox

    im = Image.open(io.BytesIO(payload))
    if frame:
        im.seek(frame)
    return np.asarray(im.convert("RGB"))


def decode_frame(payload: bytes, frame: int = 0,
                 meta: dict | None = None) -> np.ndarray:
    """Decode one frame to an HxWxC uint8 array. ``meta`` is the payload's
    decode_image_meta when the caller has already parsed the header.

    Synthetic-format payloads decode natively; anything else goes to the
    Pillow path when the library exists, else raises NotImplementedError —
    the UDF batch shape around it never changes. Every failure mode raises
    ValueError / NotImplementedError ONLY: the batch UDFs catch exactly
    those to keep errors in-band (per-doc isolation) — a corrupt payload
    must never fail a whole Spark task.
    """
    if not payload:
        raise ValueError("empty payload")
    meta = meta or decode_image_meta(payload)
    if not meta["valid"]:
        try:
            return _decode_frame_pillow(bytes(payload), frame)
        except ImportError:
            raise NotImplementedError(
                "non-synthetic media codec not available in this environment "
                "(install Pillow for real image decode)"
            ) from None
        except (OSError, EOFError) as e:
            # PIL.UnidentifiedImageError subclasses OSError; EOFError is
            # seek-past-last-frame. Normalized so callers' in-band except
            # clause stays (NotImplementedError, ValueError).
            raise ValueError(f"media decode failed: {e!r}") from None
    w, h, c = meta["width"], meta["height"], meta["channels"]
    off = 11 + frame * w * h * c
    buf = payload[off : off + w * h * c]
    if len(buf) < w * h * c:
        raise ValueError("truncated frame")
    return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, c)


def mean_pixel_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Attach the typed metadata struct and the per-media mean pixel value
    of frame 0 (the feature-extraction stub) in one vectorized pass.

    mapInPandas (not a per-row UDF): one Python call per Arrow batch, the
    same kernel pattern as extraction (operators/extract.py), and each
    header is parsed once for both columns. Real feature extractors (CLIP
    embeddings, mel spectrograms) drop into the same batch loop; errors stay
    in-band like the text kernel. Every input column except the payload
    passes through, so a decode -> meta -> feature chain stays ONE linear
    plan (no diamond re-reading the payload source per derived column).
    """
    keep = [f.name for f in df.schema.fields if f.name != payload_col]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != payload_col
    ) + f", meta {MEDIA_META_DDL}, mean_pixel double, error string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            metas, means, errs = [], [], []
            for p in b[payload_col]:
                p = None if p is None else bytes(p)
                meta = decode_image_meta(p)
                metas.append(meta)
                try:
                    arr = decode_frame(p, meta=meta)
                    means.append(float(arr.mean()))
                    errs.append(None)
                except (NotImplementedError, ValueError) as e:
                    means.append(None)
                    errs.append(str(e))
            out = b[keep].copy()
            out["meta"] = metas
            out["mean_pixel"] = means
            out["error"] = errs
            yield out

    return df.mapInPandas(run, schema=schema)


#: deterministic corruption rules for the synthetic media table — shared by
#: the Spark generator and the DuckDB oracle (both are pure functions of id)
CORRUPT_MOD = 13
TRUNC_MOD = 17


def synthetic_media(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic (media_id, payload) table derived from an id column.

    Purpose: give the multimodal lane a driver-board oracle without external
    media files. Every payload is a pure function of the id, so an engine
    with no codec at all (the DuckDB twin) can predict meta and features:

      id % 13 == 0                 corrupt: b"JUNK" + (id % 7) zero bytes
      id % 17 == 0 (not corrupt)   valid header, frame truncated to half
      otherwise                    full synthetic image, fill = id % 256,
                                   w = 4 + id % 8, h = 3 + id % 5, c = 3

    Runs in the same mapInPandas batch shape as real media ingestion.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            payloads = []
            ids = b[id_col].astype("int64")
            for i in ids:
                i = int(i)
                if i % CORRUPT_MOD == 0:
                    payloads.append(b"JUNK" + bytes(i % 7))
                    continue
                w, h, c = 4 + i % 8, 3 + i % 5, 3
                full = encode_image(w, h, c, 1, fill=i % 256)
                if i % TRUNC_MOD == 0:
                    payloads.append(full[: 11 + (w * h * c) // 2])
                else:
                    payloads.append(full)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return ids_df.select(id_col).mapInPandas(
        gen, schema="media_id long, payload binary"
    )
