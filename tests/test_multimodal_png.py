"""PNG codec (zlib + numpy — no PIL) and the real image pipeline.

Every PNG filter type (0 none / 1 sub / 2 up / 3 average / 4 paeth)
and color type (gray, gray+alpha, RGB, RGBA) must round-trip
exactly; the Spark-side decode/resize passes must produce true
pixel statistics for mixed BMP/PNG corpora and mark junk payloads
instead of crashing the job.
"""

from __future__ import annotations

import numpy as np
import pytest

from skrub_spark.multimodal.png import decode_png, encode_png


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_filters(ch, filter_type):
    rng = np.random.default_rng(10 * ch + filter_type)
    px = rng.integers(0, 256, size=(11, 7, ch), dtype=np.uint8)
    dec = decode_png(encode_png(px, filter_type=filter_type))
    assert dec is not None and dec.shape == (11, 7, 3)
    if ch == 1:
        want = np.repeat(px, 3, axis=2)
    elif ch == 2:
        want = np.repeat(px[:, :, :1], 3, axis=2)
    else:
        want = px[:, :, :3]
    assert np.array_equal(dec, want)


def test_png_rejects_junk():
    assert decode_png(None) is None
    assert decode_png(b"") is None
    assert decode_png(b"definitely not a png") is None
    # valid signature, garbage chunks
    assert decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40) is None
    # truncated real PNG
    real = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    assert decode_png(real[: len(real) // 2]) is None


def test_decode_images_mixed_containers(spark):
    """One Spark pass over a frame mixing BMP, PNG and junk payloads:
    real stats for both containers, decode_ok=False for junk."""
    from skrub_spark.multimodal import decode_images, encode_bmp

    rng = np.random.default_rng(0)
    px1 = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    px2 = rng.integers(0, 256, size=(9, 4, 3), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_bmp(px1))),
        (2, bytearray(encode_png(px2, filter_type=4))),
        (3, bytearray(b"junk bytes")),
    ]
    df = spark.createDataFrame(rows, "id int, payload binary")
    out = {r["id"]: r for r in decode_images(df).collect()}
    assert out[1]["decode_ok"] and out[2]["decode_ok"]
    assert not out[3]["decode_ok"] and out[3]["px_mean"] is None
    assert abs(out[1]["px_mean"] - float(px1.mean())) < 1e-9
    assert abs(out[2]["px_mean"] - float(px2.mean())) < 1e-9
    assert abs(out[2]["px_std"] - float(px2.std())) < 1e-9


def test_resize_images_real_path(spark):
    """Real resize: decode -> nearest-neighbor resample -> PNG
    re-encode, verified against the same resample done in numpy."""
    from skrub_spark.multimodal import decode_images, encode_bmp, resize_images

    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, size=(16, 12, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_bmp(px)), 12, 16), (2, bytearray(b"junk"), 0, 0)],
        "id int, payload binary, width int, height int",
    )
    out = {r["id"]: r for r in resize_images(df, size=(6, 8)).collect()}
    assert out[1]["width"] == 6 and out[1]["height"] == 8
    dec = decode_png(bytes(out[1]["payload"]))
    yi = (np.arange(8) * 16) // 8
    xi = (np.arange(6) * 12) // 6
    assert np.array_equal(dec, px[yi][:, xi])
    # junk payload passes through as null, no crash
    assert out[2]["payload"] is None
    # resized payloads feed straight back into the decode pass
    redec = decode_images(resize_images(df, size=(6, 8))).collect()
    assert {r["id"]: r["decode_ok"] for r in redec} == {1: True, 2: False}
