"""Baseline JPEG codec (pure numpy — no libjpeg/PIL).

The decoder reads Huffman/quant tables from the file's own DHT/DQT
segments, so these tests build conforming JPEGs with the in-repo
encoder across the feature grid (gray/color, 4:4:4 / 4:2:0, restart
markers, odd dimensions) and assert the round-trip error is bounded
by the quantization step — plus rejection (not crash) of junk and
non-baseline streams.
"""

from __future__ import annotations

import numpy as np
import pytest

from skrub_spark.multimodal.jpeg import decode_jpeg, encode_jpeg


def _smooth(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    base = (128 + 60 * np.sin(xx / 6.0) + 40 * np.cos(yy / 5.0)).clip(0, 255)
    return np.stack(
        [base, np.roll(base, 3, axis=0), 255 - base], axis=2
    ).astype(np.uint8)


@pytest.mark.parametrize("subsample", ["444", "420"])
@pytest.mark.parametrize("restart", [0, 3])
def test_jpeg_roundtrip_modes(subsample, restart):
    img = _smooth(37, 50)  # odd dims: exercises MCU padding + crop
    dec = decode_jpeg(
        encode_jpeg(img, quality=90, subsample=subsample, restart_interval=restart)
    )
    assert dec is not None and dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    # 444 q90: quant step 2 -> tiny error; 420 adds chroma smoothing
    assert err.mean() < (1.0 if subsample == "444" else 4.0)
    assert err.max() <= (6 if subsample == "444" else 40)


def test_jpeg_quality_monotone():
    img = _smooth(24, 24)
    errs = []
    for q in (100, 90, 50, 10):
        dec = decode_jpeg(encode_jpeg(img, quality=q))
        errs.append(float(np.abs(dec.astype(int) - img.astype(int)).mean()))
    assert errs[0] <= errs[1] <= errs[2] <= errs[3]
    assert errs[0] < 1.0  # q100 = unit quant: only colorspace rounding


def test_jpeg_grayscale():
    g = _smooth(16, 21)[:, :, 0]
    dec = decode_jpeg(encode_jpeg(g, quality=95))
    assert dec is not None and dec.shape == (16, 21, 3)
    # single-component JPEG broadcasts to RGB
    assert np.array_equal(dec[:, :, 0], dec[:, :, 1])
    assert np.abs(dec[:, :, 0].astype(int) - g.astype(int)).mean() < 1.0


def test_jpeg_noise_q100_near_lossless():
    """Unit quant step: error is colorspace round-trip only (<=2/px),
    even on pure noise (the hardest image for a DCT codec)."""
    rng = np.random.default_rng(5)
    noise = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(noise, quality=100))
    assert np.abs(dec.astype(int) - noise.astype(int)).max() <= 2


def test_jpeg_rejects_junk_and_nonbaseline():
    assert decode_jpeg(None) is None
    assert decode_jpeg(b"") is None
    assert decode_jpeg(b"not a jpeg") is None
    assert decode_jpeg(b"\xff\xd8\xff\xe0junkjunk") is None
    real = encode_jpeg(_smooth(8, 8))
    assert decode_jpeg(real[: len(real) // 2]) is None
    # flip SOF0 -> SOF2 (progressive): must return None, not garbage
    prog = bytearray(real)
    idx = prog.find(b"\xff\xc0")
    prog[idx + 1] = 0xC2
    assert decode_jpeg(bytes(prog)) is None


def test_image_near_dup_pipeline_finds_planted_pairs(spark, sf_dir):
    """q_image_near_dup: decode (3 containers) -> grid features ->
    centered-cosine LSH pairs == exactly the planted (d-1, d) pairs."""
    from skrub_spark.queries import q_image_near_dup
    from skrub_spark.sources import load_table

    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    want = {(d - 1, d) for d in ids if d % 10 == 1 and (d - 1) in set(ids)}
    got = {
        (r["id_a"], r["id_b"])
        for r in q_image_near_dup(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_extract_image_features_real_path(spark):
    """Real features: near-identical pixels -> near-identical
    vectors; different structure -> different vectors; junk -> null."""
    from skrub_spark.multimodal import encode_bmp, extract_image_features

    base = _smooth(24, 24)
    near = (base.astype(int) + 2).clip(0, 255).astype(np.uint8)
    other = (255 - base.astype(int)).astype(np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_bmp(base))),
            (2, bytearray(encode_bmp(near))),
            (3, bytearray(encode_bmp(other))),
            (4, bytearray(b"junk")),
        ],
        "id int, payload binary",
    )
    out = {
        r["id"]: r["features"]
        for r in extract_image_features(df, n_features=16).collect()
    }
    assert out[4] is None
    a, b, c = (np.array(out[i]) for i in (1, 2, 3))
    assert np.abs(a - b).max() < 0.02
    assert np.abs(a - c).max() > 0.1


def test_decode_image_dispatch_jpeg(spark):
    """decode_images handles a JPEG payload through
    the same Arrow-batched pass as BMP/PNG."""
    from skrub_spark.multimodal import decode_images

    img = _smooth(12, 10)
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(img, quality=100)))],
        "id int, payload binary",
    )
    row = decode_images(df).first()
    assert row["decode_ok"]
    assert abs(row["px_mean"] - float(img.mean())) < 2.0


def test_frame_sample_videos_real_avi(spark):
    """Uncompressed-AVI demux in the Spark pass: evenly-spaced frames
    come back as BMP payloads that re-enter decode_images; junk
    payloads produce one null-frame row."""
    from skrub_spark.multimodal import decode_images, encode_avi, frame_sample_videos

    rng = np.random.default_rng(4)
    frames = [
        rng.integers(0, 256, size=(8, 10, 3), dtype=np.uint8) for _ in range(10)
    ]
    df = spark.createDataFrame(
        [(1, bytearray(encode_avi(frames))), (2, bytearray(b"junk"))],
        "id int, payload binary",
    )
    out = frame_sample_videos(df, n_frames=4)
    rows = out.collect()
    vid = sorted(
        (r for r in rows if r["id"] == 1), key=lambda r: r["frame_idx"]
    )
    assert [r["frame_idx"] for r in vid] == [0, 2, 5, 7]
    for r in vid:
        assert abs(r["frame_px_mean"] - float(frames[r["frame_idx"]].mean())) < 1e-9
    junk = [r for r in rows if r["id"] == 2]
    assert len(junk) == 1 and junk[0]["frame_idx"] is None
    # frame payloads are decodable BMPs: run them through decode_images
    redec = decode_images(
        out.filter(out.frame_idx.isNotNull()).select(
            "id", "frame_idx", out.frame_payload.alias("payload")
        )
    ).collect()
    assert len(redec) == 4 and all(r["decode_ok"] for r in redec)


def test_frame_sample_videos_mjpeg_avi(spark):
    """MJPEG-in-AVI: the demuxer binds the MJPG video stream and
    decodes each frame chunk through the repo's baseline-JPEG
    decoder — real frame stats, no ffmpeg. Unsupported compressed
    codecs still yield the single null-frame row."""
    import struct

    from skrub_spark.multimodal import encode_avi, frame_sample_videos

    rng = np.random.default_rng(11)
    frames = [
        np.clip(rng.normal(128, 25, (16, 12, 3)), 0, 255).astype(np.uint8)
        for _ in range(6)
    ]
    mjpg = encode_avi(frames, codec="mjpg", quality=95)
    # fake an unsupported codec: same file with biCompression/handler
    # rewritten to H264 (decoder must null it, not crash or mis-read)
    h264 = mjpg.replace(b"MJPG", struct.pack("<4s", b"H264"))
    df = spark.createDataFrame(
        [(1, bytearray(mjpg)), (2, bytearray(h264))],
        "id int, payload binary",
    )
    rows = frame_sample_videos(df, n_frames=3).collect()
    vid = sorted((r for r in rows if r["id"] == 1), key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in vid] == [0, 2, 4]
    for r in vid:
        # JPEG at q=95 with a flat quant table: mean within ~2 levels
        assert abs(r["frame_px_mean"] - float(frames[r["frame_idx"]].mean())) < 2.0
    unsup = [r for r in rows if r["id"] == 2]
    assert len(unsup) == 1 and unsup[0]["frame_idx"] is None


def test_avi_multistream_binding():
    """An audio stream listed before the video stream must not be
    mis-bound: frame chunks are matched by the bound stream's 2-digit
    prefix (ADVICE r4: avi.py multi-stream mis-parse)."""
    import struct

    from skrub_spark.multimodal.avi import decode_avi_frames

    rng = np.random.default_rng(3)
    frames = [
        rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8) for _ in range(2)
    ]

    def chunk(fcc, body):
        pad = b"\x00" if len(body) & 1 else b""
        return fcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc, body):
        return chunk(b"LIST", fourcc + body)

    h, w, _ = frames[0].shape
    stride = (w * 3 + 3) & ~3
    fbs = []
    for f in frames:
        img = np.zeros((h, stride), np.uint8)
        img[:, : w * 3] = f[::-1, :, ::-1].reshape(h, w * 3)
        fbs.append(img.tobytes())
    # audio strl FIRST, with a >=40-byte strf whose fake dims (9999)
    # the old first-strf binding would have picked up
    a_strh = b"auds" + b"\x00" * 4 + struct.pack(
        "<IHHIIIIIIIII", 0, 0, 0, 0, 1, 8000, 0, 100, 64, 0, 0, 0
    )
    a_strf = struct.pack("<IiiHHIIiiII", 40, 9999, 9999, 1, 16, 1, 0, 0, 0, 0, 0)
    v_strh = b"vids" + b"DIB " + struct.pack(
        "<IHHIIIIIIIII", 0, 0, 0, 0, 1, 10, 0, len(frames), stride * h, 0, 0, 0
    )
    v_strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    avih = struct.pack(
        "<14I", 100000, stride * h * 10, 0, 0x10, len(frames), 0, 2,
        stride * h, w, h, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", a_strh) + chunk(b"strf", a_strf))
        + lst(b"strl", chunk(b"strh", v_strh) + chunk(b"strf", v_strf)),
    )
    movi = lst(
        b"movi",
        chunk(b"01wb", b"\x00" * 64)  # audio data must be ignored
        + b"".join(chunk(b"01db", fb) for fb in fbs),
    )
    body = b"AVI " + hdrl + movi
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    out = decode_avi_frames(payload)
    assert out is not None and len(out) == 2
    assert all((a == b).all() for a, b in zip(out, frames))

