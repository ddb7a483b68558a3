"""Multimodal binary-column plumbing (codecs stubbed, Spark path real)."""

import pytest
from pyspark.sql import functions as F

from paraocr_spark import multimodal as mm


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (0, mm.encode_image(4, 4, 3), None),
        (1, mm.encode_image(8, 2, 1, n_frames=2), None),
        (2, b"\x00\x01not-an-image", None),
        (3, None, None),
    ]
    return spark.createDataFrame(
        [(r[0], r[1]) for r in rows], schema="media_id long, payload binary"
    )


def test_meta_extraction(spark, media_df):
    got = {r.media_id: r.meta.asDict()
           for r in mm.mean_pixel_features(media_df).collect()}
    assert got[0] == {"kind": "image", "width": 4, "height": 4, "channels": 3,
                      "n_frames": 1, "bytes": len(mm.encode_image(4, 4, 3)),
                      "valid": True}
    assert got[1]["n_frames"] == 2 and got[1]["channels"] == 1
    assert got[2]["valid"] is False and got[2]["kind"] == "unknown"
    assert got[3]["valid"] is False and got[3]["bytes"] == 0


def test_mean_pixel_features(spark, media_df):
    got = {r.media_id: r for r in mm.mean_pixel_features(
        media_df.where(F.col("payload").isNotNull())).collect()}
    assert got[0].mean_pixel == 127.0 and got[0].error is None
    # non-synthetic payload -> in-band NotImplementedError message, no crash
    assert got[2].mean_pixel is None
    assert "codec" in got[2].error


def test_decode_frame_shapes():
    arr = mm.decode_frame(mm.encode_image(6, 3, 3))
    assert arr.shape == (3, 6, 3)
    with pytest.raises(NotImplementedError):
        mm.decode_frame(b"JUNK")
    with pytest.raises(ValueError):
        mm.decode_frame(mm.encode_image(6, 3, 3)[:-5])


def _pillow_present() -> bool:
    try:
        import PIL  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(_pillow_present(), reason="Pillow installed: real path")
def test_non_synthetic_decode_raises_without_pillow():
    """Import-guarded codec: without Pillow, non-synthetic payloads raise a
    clear NotImplementedError (in-band as 'error' in the batch UDF)."""
    from paraocr_spark.multimodal import decode_frame

    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_frame(b"\x89PNG\r\n\x1a\n not-a-real-png")


@pytest.mark.skipif(not _pillow_present(), reason="Pillow not installed")
def test_non_synthetic_decode_with_pillow():
    """With Pillow present the same call decodes a real PNG to HxWxC."""
    import io

    from PIL import Image

    from paraocr_spark.multimodal import decode_frame

    buf = io.BytesIO()
    Image.new("RGB", (4, 3), (10, 20, 30)).save(buf, format="PNG")
    arr = decode_frame(buf.getvalue())
    assert arr.shape == (3, 4, 3)


def test_empty_and_none_payloads_stay_in_band(spark):
    """ADVICE r3: decode_frame(None/empty) must raise ValueError (not
    TypeError), and a null payload row must surface as an in-band error row
    from the batch UDF — never fail the Spark task."""
    with pytest.raises(ValueError, match="empty payload"):
        mm.decode_frame(None)
    with pytest.raises(ValueError, match="empty payload"):
        mm.decode_frame(b"")
    df = spark.createDataFrame(
        [(0, mm.encode_image(4, 4, 3)), (1, None), (2, b"")],
        schema="media_id long, payload binary",
    )
    got = {r.media_id: r for r in mm.mean_pixel_features(df).collect()}
    assert got[0].error is None and got[0].mean_pixel == 127.0
    assert got[1].mean_pixel is None and "empty payload" in got[1].error
    assert got[2].mean_pixel is None and "empty payload" in got[2].error


@pytest.mark.skipif(not _pillow_present(), reason="Pillow not installed")
def test_pillow_decode_failures_stay_in_band():
    """With Pillow present, corrupt payloads and seeks past the last frame
    must normalize to ValueError so batch UDFs keep errors in-band."""
    import io

    from PIL import Image

    with pytest.raises(ValueError, match="media decode failed"):
        mm.decode_frame(b"\x89PNG\r\n\x1a\n corrupt-after-magic")
    buf = io.BytesIO()
    Image.new("RGB", (4, 3), (10, 20, 30)).save(buf, format="PNG")
    with pytest.raises(ValueError, match="media decode failed"):
        mm.decode_frame(buf.getvalue(), frame=5)  # seek past end -> EOFError
