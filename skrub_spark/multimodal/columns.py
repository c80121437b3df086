"""Multimodal column plumbing (SURVEY.md §2, beyond-reference).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata, processed in Arrow-batched ``mapInPandas`` passes.

Codec status:

- REAL decoders (no external libs needed): 24-bit uncompressed BMP
  (pure numpy header+pixel parsing), PNG (stdlib zlib inflate +
  numpy filter inversion, ``multimodal/png.py``) and baseline JPEG
  (numpy Huffman + exact basis-matrix IDCT, any chroma subsampling,
  restart markers, ``multimodal/jpeg.py``) for images, PCM WAV
  (stdlib ``wave``) for audio — every codec pass does a genuine
  decode and emits real pixel/sample statistics; payloads that
  aren't decodable (including progressive/arithmetic JPEG) get
  ``decode_ok=False`` + null stats (never a crash mid-job). Real
  nearest-neighbor resize + PNG re-encode for decodable payloads.
- Video: REAL demuxer for AVI (RIFF chunk walk with per-stream
  binding, ``multimodal/avi.py``) covering uncompressed-DIB and
  MJPEG streams (MJPEG frames decode through the repo's own
  baseline-JPEG codec) — frame sampling emits BMP frame payloads +
  true per-frame stats; other compressed codecs (H.264 etc., where
  ffmpeg would slot in) return null-frame rows.
- Audio features: real windowed-FFT log band energies (numpy DSP).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

IMAGE_SCHEMA = StructType(
    [
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def decode_bmp(payload: bytes) -> np.ndarray | None:
    """REAL 24-bit uncompressed BMP decode, pure numpy: returns an
    (h, w, 3) RGB array or None if the payload isn't such a BMP.
    Rows are 4-byte padded and stored bottom-up, pixels are BGR."""
    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        return None
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if len(payload) < off + stride * h:
        return None
    data = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    rows = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Inverse of :func:`decode_bmp` (test/fixture helper): (h, w, 3)
    RGB uint8 -> 24-bit bottom-up BMP bytes."""
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    img = np.zeros((h, stride), dtype=np.uint8)
    img[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    size = 54 + stride * h
    header = (
        b"BM"
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + (stride * h).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + img.tobytes()


def decode_image(payload: bytes) -> np.ndarray | None:
    """Dispatch over the REAL image decoders by container signature:
    BMP ('BM'), PNG (8-byte signature), baseline JPEG (FFD8).
    Returns (h, w, 3) uint8 RGB or None."""
    if payload is None:
        return None
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:4] == b"GIF8":
        from .gif import decode_gif

        return decode_gif(payload)
    from .png import decode_png

    return decode_png(payload)


# G.711 mu-law expansion table (ITU-T: invert bits, split
# sign/exponent/mantissa, reconstruct the biased-linear magnitude)
_ULAW_TABLE = None


def _ulaw_table() -> np.ndarray:
    global _ULAW_TABLE
    if _ULAW_TABLE is None:
        u = np.arange(256, dtype=np.int64) ^ 0xFF
        sign = (u & 0x80) != 0
        exp = (u >> 4) & 0x07
        mant = u & 0x0F
        mag = ((mant << 3) + 0x84 << exp) - 0x84
        _ULAW_TABLE = np.where(sign, -mag, mag).astype(np.int16)
    return _ULAW_TABLE


def decode_wav(payload: bytes) -> tuple[np.ndarray, int] | None:
    """REAL WAV decode — hand-parsed RIFF (the stdlib ``wave`` module
    rejects anything but PCM): 16-bit PCM (format tag 1), 8-bit
    unsigned PCM (rescaled to int16), and G.711 mu-law (format tag
    7, table expansion). Returns (samples int16 flattened over
    channels, sample_rate) or None for anything else/malformed.

    IMA ADPCM (tag 0x11): the encoder zero-pads the final partial
    block, so each block decodes to a full samples_per_block; when
    the file carries a ``fact`` chunk (the spec requires one for
    compressed formats, and :func:`encode_wav_adpcm` writes it) the
    output is clipped to its true sample count — without it the
    zero-nibble tail of the last block is returned as-is (ADVICE
    r5)."""
    if payload is None:
        return None
    try:
        b = bytes(payload)
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            return None
        pos = 12
        fmt = None
        data = None
        fact_samples = None
        while pos + 8 <= len(b):
            cid = b[pos : pos + 4]
            ln = int.from_bytes(b[pos + 4 : pos + 8], "little")
            body = b[pos + 8 : pos + 8 + ln]
            if cid == b"fmt ":
                fmt = body
            elif cid == b"data":
                data = body
            elif cid == b"fact" and ln >= 4:
                fact_samples = int.from_bytes(body[:4], "little")
            pos += 8 + ln + (ln & 1)
        if fmt is None or data is None or len(fmt) < 16:
            return None
        tag = int.from_bytes(fmt[0:2], "little")
        rate = int.from_bytes(fmt[4:8], "little")
        bits = int.from_bytes(fmt[14:16], "little")
        if rate <= 0:
            return None
        if tag == 1 and bits == 16:
            return np.frombuffer(data[: len(data) & ~1], dtype="<i2"), rate
        if tag == 1 and bits == 8:
            x = np.frombuffer(data, dtype=np.uint8).astype(np.int16)
            return ((x - 128) << 8).astype(np.int16), rate
        if tag == 7 and bits == 8:
            return _ulaw_table()[np.frombuffer(data, dtype=np.uint8)], rate
        if tag == 0x11 and bits == 4:
            # IMA ADPCM (mono): block align + samples-per-block from
            # the fmt extension
            channels = int.from_bytes(fmt[2:4], "little")
            block_align = int.from_bytes(fmt[12:14], "little")
            if channels != 1 or len(fmt) < 20:
                return None
            spb = int.from_bytes(fmt[18:20], "little")
            from .adpcm import decode_ima_blocks

            samples = decode_ima_blocks(data, block_align, spb)
            if samples is None:
                return None
            if fact_samples is not None and 0 <= fact_samples <= len(samples):
                samples = samples[:fact_samples]
            return samples, rate
        return None
    except Exception:
        return None


def decode_images(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """binary payload -> decoded pixel stats row (mapInPandas): BMP,
    PNG, GIF or baseline JPEG through :func:`decode_image`.

    Output adds: decode_ok boolean, px_mean double, px_std double
    (null stats for an undecodable payload).
    """
    from pyspark.sql.types import BooleanType, DoubleType

    out_schema = StructType(
        df.schema.fields
        + [
            StructField("decode_ok", BooleanType()),
            StructField("px_mean", DoubleType()),
            StructField("px_std", DoubleType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            oks, means, stds = [], [], []
            for payload in pdf[payload_col]:
                px = decode_image(bytes(payload) if payload is not None else None)
                oks.append(px is not None)
                if px is None:
                    means.append(None)
                    stds.append(None)
                    continue
                means.append(float(px.mean()))
                stds.append(float(px.std()))
            pdf = pdf.assign(decode_ok=oks, px_mean=means, px_std=stds)
            yield pdf

    return df.mapInPandas(fn, out_schema)


AUDIO_SCHEMA = StructType(
    [
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("sample_rate", IntegerType()),
    ]
)


def decode_audio(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """binary payload -> decoded audio stats (mapInPandas).

    Decodes WAV payloads through :func:`decode_wav` (no external
    libs): duration, RMS, peak and zero-crossing rate from the actual
    samples. Other payloads get decode_ok=False.
    """
    from pyspark.sql.types import BooleanType, DoubleType

    out_schema = StructType(
        df.schema.fields
        + [
            StructField("decode_ok", BooleanType()),
            StructField("duration_s", DoubleType()),
            StructField("rms", DoubleType()),
            StructField("peak", DoubleType()),
            StructField("zero_crossing_rate", DoubleType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {k: [] for k in
                    ("decode_ok", "duration_s", "rms", "peak", "zero_crossing_rate")}
            for payload in pdf[payload_col]:
                dec = decode_wav(payload)
                if dec is None:
                    cols["decode_ok"].append(False)
                    for k in ("duration_s", "rms", "peak", "zero_crossing_rate"):
                        cols[k].append(None)
                    continue
                samples, rate = dec
                x = samples.astype("float64") / 32768.0
                cols["decode_ok"].append(True)
                cols["duration_s"].append(len(x) / rate if rate else None)
                cols["rms"].append(float(np.sqrt(np.mean(x * x))) if len(x) else 0.0)
                cols["peak"].append(float(np.abs(x).max()) if len(x) else 0.0)
                zc = float(np.mean(np.abs(np.diff(np.signbit(x))))) if len(x) > 1 else 0.0
                cols["zero_crossing_rate"].append(zc)
            yield pdf.assign(**cols)

    return df.mapInPandas(fn, out_schema)


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 mono samples -> PCM WAV bytes (stdlib wave; fixture
    helper, inverse of decode_wav)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def _wav_container(fmt_tag: int, bits: int, rate: int, data: bytes,
                   block_align: int | None = None,
                   extra: bytes = b"",
                   n_samples: int | None = None) -> bytes:
    """Minimal mono WAV container around pre-encoded sample data.
    ``n_samples`` emits a ``fact`` chunk (the WAV spec requires one
    for compressed formats; the decoder uses it to clip the final
    zero-padded ADPCM block to the true sample count)."""
    if block_align is None:
        block_align = max(1, bits // 8)
    fmt = (
        fmt_tag.to_bytes(2, "little") + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little") + bits.to_bytes(2, "little")
        + extra
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    if n_samples is not None:
        chunks += b"fact" + (4).to_bytes(4, "little") + n_samples.to_bytes(
            4, "little"
        )
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def encode_wav_ulaw(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 mono samples -> G.711 mu-law WAV (nearest-level
    quantization against the decode table; fixture/round-trip
    helper for the format-tag-7 decode path)."""
    table = _ulaw_table().astype(np.int64)
    order = np.argsort(table, kind="stable")
    levels = table[order]
    x = np.asarray(samples, dtype=np.int64)
    idx = np.searchsorted(levels, x)
    idx = np.clip(idx, 1, 255)
    left_closer = (x - levels[idx - 1]) <= (levels[np.minimum(idx, 255)] - x)
    nearest = np.where(left_closer, idx - 1, np.minimum(idx, 255))
    codes = order[nearest].astype(np.uint8)
    return _wav_container(7, 8, rate, codes.tobytes())


def encode_wav_adpcm(
    samples: np.ndarray, rate: int = 16000, samples_per_block: int = 505
) -> bytes:
    """int16 mono samples -> IMA ADPCM WAV (format tag 0x11;
    fixture/round-trip helper for the compressed decode path)."""
    from .adpcm import encode_ima

    x = np.asarray(samples, dtype=np.int16)
    blocks, align = encode_ima(x, samples_per_block)
    extra = (2).to_bytes(2, "little") + samples_per_block.to_bytes(2, "little")
    return _wav_container(
        0x11, 4, rate, blocks, block_align=align, extra=extra,
        n_samples=len(x),
    )


def _band_features(samples: np.ndarray, n_features: int) -> list[float]:
    """REAL spectral fingerprint, pure numpy: Hann-windowed 512-pt
    FFT frames (hop 256) -> mean magnitude spectrum -> log energies
    pooled into ``n_features`` equal bands -> max-normalized. The
    classic audio-fingerprint shape (log band energy), enough to
    match near-identical recordings and separate different ones."""
    x = samples.astype(np.float64) / 32768.0
    nfft, hop = 512, 256
    if len(x) < nfft:
        x = np.pad(x, (0, nfft - len(x)))
    n_frames = 1 + (len(x) - nfft) // hop
    idx = np.arange(nfft)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = x[idx] * np.hanning(nfft)[None, :]
    mag = np.abs(np.fft.rfft(frames, axis=1)).mean(axis=0)  # (257,)
    bands = np.array_split(mag[1:], n_features)  # drop DC
    e = np.log1p(np.array([float(b.mean()) for b in bands]))
    peak = e.max()
    return [float(v / peak) if peak > 0 else 0.0 for v in e]


def extract_audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    n_features: int = 16,
) -> DataFrame:
    """payload -> spectral feature vector via mapInPandas: decode the
    WAV and compute log band-energy features from windowed FFT frames
    (pure numpy); non-WAV payloads get null features."""
    from pyspark.sql.types import ArrayType, DoubleType

    out_schema = StructType(
        df.schema.fields + [StructField("features", ArrayType(DoubleType()))]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf[payload_col]:
                dec = decode_wav(payload)
                feats.append(
                    None if dec is None else _band_features(dec[0], n_features)
                )
            yield pdf.assign(features=feats)

    return df.mapInPandas(fn, out_schema)


def resize_images(
    df: DataFrame, payload_col: str = "payload", size: tuple[int, int] = (64, 64)
) -> DataFrame:
    """Image resize: decode each payload, nearest-neighbor resample in
    numpy (index arithmetic, no interp lib), re-encode as PNG;
    undecodable payloads pass through with null payload and
    width/height unchanged. Arrow-batched mapInPandas, like every
    codec pass.
    """
    w_new, h_new = int(size[0]), int(size[1])
    from .png import encode_png

    out_schema = df.schema
    names = [f.name for f in out_schema.fields]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ws, hs = [], [], []
            for i, payload in enumerate(pdf[payload_col]):
                px = decode_image(
                    bytes(payload) if payload is not None else None
                )
                if px is None:
                    payloads.append(None)
                    ws.append(pdf["width"].iloc[i] if "width" in pdf else None)
                    hs.append(pdf["height"].iloc[i] if "height" in pdf else None)
                    continue
                h, w = px.shape[:2]
                yi = (np.arange(h_new) * h) // h_new
                xi = (np.arange(w_new) * w) // w_new
                payloads.append(encode_png(px[yi][:, xi]))
                ws.append(w_new)
                hs.append(h_new)
            pdf = pdf.assign(**{payload_col: payloads})
            if "width" in names:
                pdf = pdf.assign(width=ws)
            if "height" in names:
                pdf = pdf.assign(height=hs)
            yield pdf

    return df.mapInPandas(fn, out_schema)


def _grid_features(px: np.ndarray, n_features: int) -> list[float]:
    """(h, w, 3) -> n_features pooled-grid features: grayscale the
    image, block-mean onto a g x g grid (g² >= n_features), scale to
    [0, 1]. The classic pre-deep-learning image fingerprint — enough
    structure for near-dup detection, computed in pure numpy."""
    g = int(np.ceil(np.sqrt(n_features)))
    gray = px.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    yi = (np.arange(h) * g) // max(h, 1)
    xi = (np.arange(w) * g) // max(w, 1)
    sums = np.zeros((g, g))
    counts = np.zeros((g, g))
    np.add.at(sums, (yi[:, None], xi[None, :]), gray)
    np.add.at(counts, (yi[:, None], xi[None, :]), 1.0)
    cell = sums / np.maximum(counts, 1.0)
    return [float(x) / 255.0 for x in cell.ravel()[:n_features]]


def extract_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    n_features: int = 16,
) -> DataFrame:
    """payload -> fixed-size feature vector via mapInPandas (the
    shape a vision-model embedding job takes on Spark): decode the
    payload and pool a grayscale g x g grid into ``n_features``
    values in [0, 1]; near-identical pixels give near-identical
    vectors, so the output feeds straight into the embedding
    dedup/ANN stack. Undecodable payloads get null features.
    """
    from pyspark.sql.types import ArrayType, DoubleType

    out_schema = StructType(
        df.schema.fields + [StructField("features", ArrayType(DoubleType()))]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf[payload_col]:
                px = decode_image(
                    bytes(payload) if payload is not None else None
                )
                feats.append(None if px is None else _grid_features(px, n_features))
            yield pdf.assign(features=feats)

    return df.mapInPandas(fn, out_schema)


def frame_sample_videos(
    df: DataFrame,
    payload_col: str = "payload",
    n_frames: int = 4,
) -> DataFrame:
    """video payload -> exploded per-frame rows.

    Decodes uncompressed-DIB and MJPEG AVI payloads
    (``multimodal/avi.py`` — RIFF demux with per-stream binding;
    MJPEG frames decode via ``multimodal/jpeg.py``, no ffmpeg):
    sample up to ``n_frames`` evenly-spaced frames, emit each as a
    BMP-encoded ``frame_payload`` (feeds straight back into
    decode_images / extract_image_features) plus its true
    ``frame_px_mean``. Undecodable payloads (other compressed codecs
    — that's where ffmpeg would slot in) emit a single row with null
    frame fields.
    """
    from pyspark.sql.types import BinaryType, DoubleType

    from .avi import decode_avi_frames

    out_schema = StructType(
        df.schema.fields
        + [
            StructField("frame_idx", IntegerType()),
            StructField("frame_payload", BinaryType()),
            StructField("frame_px_mean", DoubleType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # column-array build: replicate passthrough columns by
            # positional index instead of rebuilding a dict per frame
            rep_idx: list[int] = []
            fidx: list[int | None] = []
            fpay: list[bytes | None] = []
            fmean: list[float | None] = []
            for i, payload in enumerate(pdf[payload_col]):
                frames = decode_avi_frames(
                    bytes(payload) if payload is not None else None
                )
                if not frames:
                    rep_idx.append(i)
                    fidx.append(None)
                    fpay.append(None)
                    fmean.append(None)
                    continue
                k = min(n_frames, len(frames))
                for j in range(k):
                    fi = (j * len(frames)) // k
                    px = frames[fi]
                    rep_idx.append(i)
                    fidx.append(fi)
                    fpay.append(encode_bmp(px))
                    fmean.append(float(px.mean()))
            out = pdf.iloc[rep_idx].reset_index(drop=True)
            out["frame_idx"] = fidx
            out["frame_payload"] = fpay
            out["frame_px_mean"] = fmean
            yield out

    return df.mapInPandas(fn, out_schema)
