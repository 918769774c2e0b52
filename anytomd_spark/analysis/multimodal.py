"""Multimodal column plumbing: image/audio/video as opaque binary columns.

PNG, GIF, baseline JPEG, BMP, lossless-WebP and TIFF images, RIFF/PCM
and FLAC audio, and animated-GIF + MJPEG-AVI/MP4 video decode FOR REAL
via the pure-stdlib codecs in :mod:`anytomd_spark.kernels`, each picked
by magic bytes in ONE dispatch per media family (:func:`_decode_image`,
:func:`_decode_audio`, :func:`_decode_video`) that feature extraction,
resizing and frame sampling share. SVG is parsed as text for vector
features. The container has no imaging libraries, so a payload no codec
recognizes (HEIC, raw h264/hevc bitstreams, ...) gets a deterministic
stand-in (:func:`_fake_features`, :func:`_fake_resize`,
:func:`_fake_frame`); a recognized container holding an unsupported
codec (lossy-VP8 WebP, h264 MP4 samples) fails loudly. Everything
Spark-side — schema, partition-friendly batching, Arrow UDF signatures,
batch shapes — is real and tested.

Design: media rows are (media_id long, kind string, payload binary,
meta struct<width:int, height:int, sample_rate:int, duration_ms:int>).
Feature extraction runs through ``mapInPandas`` so one Arrow batch holds
many blobs and the decoder amortizes per-batch setup; frame sampling and
resizing are expressed as batch transforms over the payload bytes.
"""

from __future__ import annotations

import bisect
import hashlib
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from anytomd_spark.kernels import (avi, bmp, flac, gif, jpeg, mp4, png,
                                   svg, tiff, wav, webp)

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>"
)

FEATURES_SCHEMA = (
    "media_id long, kind string, n_bytes long, sha256 string, "
    "features array<float>, decode_error string"
)

_GIF_MAGIC = (b"GIF87a", b"GIF89a")

_B62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def _fake_features(payload: bytes, dim: int = 16) -> list[float]:
    """Deterministic stand-in for a real decode->embed step: seeds a tiny
    PRNG from the payload hash. Replace with PIL/torchvision/ffmpeg on a
    real cluster; the Spark plumbing is identical."""
    seed = zlib.crc32(payload) & 0xFFFFFFFF
    rng = np.random.default_rng(seed)
    return rng.standard_normal(dim).astype(np.float32).tolist()


def _fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for decode->resize->encode (no PIL in this
    container): derives width*height/16 printable bytes from the payload
    hash. Swap for a real resampler on a cluster with imaging libs; the
    Spark plumbing (binary in/out, meta rewrite, Arrow batching) is what
    this module actually exercises."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed ^ (width << 16) ^ height)
    idx = rng.integers(0, 62, size=max(16, width * height // 16))
    return "".join(_B62[j] for j in idx).encode("ascii")


def _fake_frame(payload: bytes, frame_idx: int) -> bytes:
    """Deterministic printable frame bytes derived from (payload, idx)."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed + frame_idx)
    idx = rng.integers(0, 62, size=48)
    return "".join(_B62[j] for j in idx).encode("ascii")


def _decode_image(data: bytes):
    """The one still-image dispatch: ``(decoded, channels)`` for a PNG,
    GIF, JPEG, BMP, lossless-WebP or TIFF payload picked by magic, or
    ``None`` when no codec recognizes it. A corrupt body raises the
    codec's error. GIF decodes to RGB; JPEG reports ``n_components``."""
    if data[:8] == png.MAGIC:
        img = png.decode_png(data)
    elif data[:6] in _GIF_MAGIC:
        return gif.decode_gif(data), 3
    elif data[:3] == jpeg.MAGIC:
        img = jpeg.decode_jpeg(data)
        return img, img["n_components"]
    elif data[:2] == bmp.MAGIC:
        img = bmp.decode_bmp(data)
    elif data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        img = webp.decode_webp(data)
    elif data[:4] in (tiff.MAGIC_LE, tiff.MAGIC_BE):
        img = tiff.decode_tiff(data)
    else:
        return None
    return img, img["channels"]


def _decode_audio(data: bytes):
    """The one audio dispatch: RIFF/PCM or native FLAC features by magic,
    ``None`` for anything else."""
    if data[:4] == b"RIFF":
        return wav.wav_features(data)
    if data[:4] == flac.MAGIC:
        return flac.flac_features(data)
    return None


def _decode_video(data: bytes):
    """The one video dispatch: animated GIF, MJPEG AVI or MJPEG MP4 by
    magic, decoded to ``{"width", "height", "duration_ms", "frames"}``
    with per-frame ``ts_ms`` + ``pixels``; ``None`` for anything else."""
    if data[:6] in _GIF_MAGIC:
        return gif.decode_gif_frames(data)
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return avi.decode_avi_frames(data)
    if data[4:8] == b"ftyp":
        return mp4.decode_mp4_frames(data)
    return None


def _mean_sample(pixels: bytes) -> float:
    return float(round(float(np.frombuffer(pixels, np.uint8).mean()), 6))


def _features(kind: str, payload: bytes, dim: int) -> list[float]:
    """Per-family feature vector: images (w, h, channels, mean sample),
    SVG (w, h, element census, text length — vector, not raster),
    audio (rate, channels, duration_ms, rms), video (w, h, n_frames,
    duration_ms); the stand-in for payloads no codec recognizes."""
    if kind == "image":
        decoded = _decode_image(payload)
        if decoded is not None:
            img, channels = decoded
            return [float(img["width"]), float(img["height"]),
                    float(channels), _mean_sample(img["pixels"])]
        if svg.looks_like_svg(payload):
            sv = svg.svg_features(payload)
            return [float(sv["width"]), float(sv["height"]),
                    float(sv["n_elements"]), float(len(sv["text"]))]
    elif kind == "audio":
        wf = _decode_audio(payload)
        if wf is not None:
            return [float(wf["sample_rate"]), float(wf["channels"]),
                    float(wf["duration_ms"]), wf["rms"]]
    elif kind == "video":
        mv = _decode_video(payload)
        if mv is not None:
            return [float(mv["width"]), float(mv["height"]),
                    float(len(mv["frames"])), float(mv["duration_ms"])]
    return _fake_features(payload, dim)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Decode + feature-extract each blob, Arrow batch at a time."""

    def run(iterator):
        for pdf in iterator:
            out_rows = []
            for media_id, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                err = None
                try:
                    feats = _features(kind, payload, dim)
                except (png.PngError, gif.GifError, jpeg.JpegError,
                        bmp.BmpError, webp.WebpError, tiff.TiffError,
                        svg.SvgError, wav.WavError, flac.FlacError,
                        avi.AviError, mp4.Mp4Error) as e:
                    feats, err = [], str(e)
                out_rows.append((
                    int(media_id), kind, len(payload),
                    hashlib.sha256(payload).hexdigest(), feats, err,
                ))
            yield pd.DataFrame(
                out_rows,
                columns=["media_id", "kind", "n_bytes", "sha256",
                         "features", "decode_error"],
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def _row_features(media: DataFrame, schema: str, featurize,
                  errors) -> DataFrame:
    """The one per-row decode loop behind the codec feature tables:
    ``featurize(data)`` returns the columns between ``media_id`` and
    ``decode_error``; a codec error in ``errors`` nulls them and lands
    in ``decode_error`` instead of failing the job — per-row error
    capture, same contract as the conversion kernel."""
    columns = [field.split()[0] for field in schema.split(", ")]
    nulls = (None,) * (len(columns) - 2)

    def run(iterator):
        for pdf in iterator:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload) if payload is not None else b""
                try:
                    values, err = featurize(data), None
                except errors as e:
                    values, err = nulls, str(e)
                rows.append((int(media_id), *values, err))
            yield pd.DataFrame(rows, columns=columns)

    return media.select("media_id", "payload").mapInPandas(run, schema=schema)


def _pixel_features(media: DataFrame, schema: str, decode, error,
                    depth: str) -> DataFrame:
    """(width, height, ``depth``, md5 over the raw decoded samples, mean
    sample) per payload through one codec's ``decode``."""

    def featurize(data):
        img = decode(data)
        return (img["width"], img["height"], img[depth],
                hashlib.md5(img["pixels"]).hexdigest(),
                _mean_sample(img["pixels"]))

    return _row_features(media, schema, featurize, error)


PNG_FEATURES_SCHEMA = (
    "media_id long, width int, height int, channels int, "
    "pixel_md5 string, mean_lum double, decode_error string"
)


def png_features(media: DataFrame) -> DataFrame:
    """REAL image decode over an opaque binary column: every payload is
    inflated + unfiltered by the stdlib PNG codec inside an Arrow batch;
    output carries the recovered dimensions, an md5 over the raw decoded
    samples (palette images expanded to RGB), and the mean sample value.
    Non-PNG / corrupt payloads land in ``decode_error`` instead of
    failing the job."""
    return _pixel_features(media, PNG_FEATURES_SCHEMA, png.decode_png,
                           png.PngError, "channels")


def png_media_payloads(n: int = 24, seed: int = 11) -> list[dict]:
    """Deterministic PNG media rows + ground truth for the value-level
    oracle: pixels are generated FIRST, encoded to PNG for the Spark
    side, and the expected (width, height, channels, md5(pixels),
    mean) are computed from the ORIGINAL pixel arrays — so the oracle
    checks decode(encode(x)) == x against generator-known truth, not
    against the decoder's own output. Color types and per-row filter
    types cycle so the driver query exercises every unfilter path."""
    rng = np.random.default_rng(seed)
    color_types = (0, 2, 3, 4, 6)
    channels_of = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
    rows = []
    for i in range(n):
        ct = color_types[i % len(color_types)]
        w, h = 5 + (i % 7), 4 + (i % 5)
        ch = channels_of[ct]
        filters = [(i + y) % 5 for y in range(h)]
        if ct == 3:
            pal = rng.integers(0, 256, size=48, dtype=np.uint8).tobytes()
            idx = rng.integers(0, 16, size=w * h, dtype=np.uint8).tobytes()
            data = png.encode_png(w, h, idx, color_type=3, palette=pal,
                                  filters=filters)
            truth = np.frombuffer(pal, np.uint8).reshape(16, 3)[
                np.frombuffer(idx, np.uint8)
            ].tobytes()
            out_ch = 3
        else:
            truth = rng.integers(
                0, 256, size=w * h * ch, dtype=np.uint8
            ).tobytes()
            data = png.encode_png(w, h, truth, color_type=ct, filters=filters)
            out_ch = ch
        px = np.frombuffer(truth, np.uint8)
        rows.append({
            "media_id": i, "payload": data, "width": w, "height": h,
            "channels": out_ch, "pixels": truth,
            "pixel_md5": hashlib.md5(truth).hexdigest(),
            "mean_lum": float(round(float(px.mean()), 6)),
        })
    return rows


GIF_FEATURES_SCHEMA = (
    "media_id long, width int, height int, n_frames int, "
    "pixel_md5 string, mean_lum double, decode_error string"
)


def gif_features(media: DataFrame) -> DataFrame:
    """REAL GIF decode (stdlib LZW + palette) per Arrow batch — the GIF
    twin of :func:`png_features`."""
    return _pixel_features(media, GIF_FEATURES_SCHEMA, gif.decode_gif,
                           gif.GifError, "n_frames")


def gif_media_payloads(n: int = 24, seed: int = 31) -> list[dict]:
    """Deterministic GIFs + ground truth: palette/indices generated
    FIRST, expected RGB computed from them (palette lookup — no decoder
    involved), encoded with the uncompressed-LZW writer; palette sizes
    and interlace cycle across rows."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        n_colors = (4, 16, 256)[i % 3]
        w, h = 6 + (i % 5), 4 + (i % 7)
        pal = rng.integers(0, 256, size=3 * n_colors, dtype=np.uint8)
        idx = rng.integers(0, n_colors, size=w * h, dtype=np.uint8)
        data = gif.encode_gif(w, h, idx.tobytes(), pal.tobytes(),
                              interlace=bool(i % 2))
        truth = pal.reshape(n_colors, 3)[idx].tobytes()
        px = np.frombuffer(truth, np.uint8)
        rows.append({
            "media_id": i, "payload": data, "width": w, "height": h,
            "n_frames": 1, "pixels": truth,
            "pixel_md5": hashlib.md5(truth).hexdigest(),
            "mean_lum": float(round(float(px.mean()), 6)),
        })
    return rows


WAV_FEATURES_SCHEMA = (
    "media_id long, sample_rate int, channels int, bit_depth int, "
    "n_frames int, duration_ms int, rms double, peak double, "
    "decode_error string"
)


def wav_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode over an opaque binary column: RIFF/PCM or
    native FLAC by magic, + shallow features (duration, RMS, peak) per
    Arrow batch, with per-row error capture — the audio twin of
    :func:`png_features`. A payload neither codec recognizes gets the
    WAV decoder's error."""

    def featurize(data):
        f = _decode_audio(data) or wav.wav_features(data)
        return (f["sample_rate"], f["channels"], f["bit_depth"],
                f["n_frames"], f["duration_ms"], f["rms"], f["peak"])

    return _row_features(media, WAV_FEATURES_SCHEMA, featurize,
                         (wav.WavError, flac.FlacError))


def wav_media_payloads(n: int = 24, seed: int = 29) -> list[dict]:
    """Deterministic WAV rows + ground truth: float samples are
    generated FIRST, quantized exactly as the canonical PCM writer
    quantizes, and the expected stats come from those quantized values
    — so the oracle checks decode(encode(x)) against generator-known
    numbers (the byte-level decode itself is pinned by hand-built
    vectors in test_wav.py)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        rate = (8000, 16000, 44100)[i % 3]
        channels = 1 + (i % 2)
        bits = 16 if i % 4 else 8
        n_frames = 50 + 37 * (i % 5)
        t = np.arange(n_frames, dtype=np.float32)[:, None]
        tone = 0.5 * np.sin(2 * np.pi * (220 + 13 * i) * t / rate)
        noise = 0.1 * rng.standard_normal((n_frames, channels)) \
            .astype(np.float32)
        samples = np.clip(tone + noise, -1.0, 1.0).astype(np.float32)
        data = wav.encode_wav(samples, rate, bit_depth=bits)
        # expected = the QUANTIZED signal the PCM bytes actually carry
        if bits == 16:
            q = np.clip(np.round(samples * 32767.0), -32768, 32767) \
                .astype(np.float32) / 32768.0
        else:
            q = (np.clip(np.round(samples * 127.0) + 128, 0, 255)
                 .astype(np.float32) - 128.0) / 128.0
        rows.append({
            "media_id": i, "payload": data, "sample_rate": rate,
            "channels": channels, "bit_depth": bits, "n_frames": n_frames,
            "duration_ms": int(round(n_frames * 1000.0 / rate)),
            "rms": float(round(float(np.sqrt(np.mean(q * q))), 6)),
            "peak": float(round(float(np.max(np.abs(q))), 6)),
        })
    return rows


JPEG_FEATURES_SCHEMA = (
    "media_id long, width int, height int, n_components int, "
    "pixel_md5 string, mean_lum double, decode_error string"
)


def jpeg_features(media: DataFrame) -> DataFrame:
    """REAL JPEG decode (stdlib baseline codec: marker parse + Huffman
    entropy decode + dequantize + batched numpy IDCT) per Arrow batch —
    the JPEG twin of :func:`png_features`. JPEG is the dominant image
    format of a real crawl corpus and the reference's MIME table treats
    it as first-class (src/converter/mod.rs:200-235)."""
    return _pixel_features(media, JPEG_FEATURES_SCHEMA, jpeg.decode_jpeg,
                           jpeg.JpegError, "n_components")


def flac_media_payloads(n: int = 24, seed: int = 53) -> list[dict]:
    """Deterministic FLAC rows + ground truth, mirroring
    :func:`wav_media_payloads`: integer samples are generated FIRST and
    the expected stats come from those exact integers (FLAC is
    lossless, so decode must reproduce them bit-for-bit; the frame
    layer itself is pinned by hand-built vectors in test_flac.py).
    Rows cycle mono/stereo, 8/16-bit, smooth tones (FIXED predictors +
    rice win) and noise (VERBATIM wins), and block-boundary frame
    counts."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        rate = (8000, 16000, 44100)[i % 3]
        channels = 1 + (i % 2)
        bits = 16 if i % 4 else 8
        n_frames = 400 + 230 * (i % 5)   # spans the 512 block boundary
        lim = (1 << (bits - 1)) - 1
        t = np.arange(n_frames, dtype=np.float64)[:, None]
        if i % 2 == 0:
            x = np.rint(0.6 * lim * np.sin(
                2 * np.pi * (110 + 17 * i) * t / rate)).astype(np.int64)
            x = np.repeat(x, channels, axis=1)
        else:
            x = rng.integers(-lim // 2, lim // 2,
                             (n_frames, channels)).astype(np.int64)
        data = flac.encode_flac(x, rate, bit_depth=bits, block_size=512)
        scale = float(1 << (bits - 1))
        q = x.astype(np.float64) / scale
        rows.append({
            "media_id": i, "payload": data, "sample_rate": rate,
            "channels": channels, "bit_depth": bits, "n_frames": n_frames,
            "duration_ms": n_frames * 1000 // rate,
            "rms": float(round(float(np.sqrt(np.mean(q * q))), 6)),
            "peak": float(round(float(np.max(np.abs(q))), 6)),
        })
    return rows


def jpeg_media_payloads(n: int = 24, seed: int = 17) -> list[dict]:
    """Deterministic JPEGs + ground truth. JPEG is lossy in general, but
    for 8x8-block-constant samples under a flat quant=1 table the DCT
    domain is EXACT (DC = 8*(v-128) is integral, every AC coefficient
    quantizes to 0), so decode(encode(x)) == x and truth is
    generator-known. Rows cycle grayscale 4:4:4 (truth = the original
    pixels, fully decoder-independent), RGB 4:4:4 and RGB 4:2:0
    (constant per 16x16 MCU, so box-subsampling is exact; truth = the
    per-pixel YCbCr round-trip FORMULA, pinned against hand-computed
    spec vectors in test_jpeg.py); every 4th row adds restart
    intervals so the RSTn path is driver-exercised."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        variant = i % 3
        ri = 2 if i % 4 == 3 else 0
        if variant == 0:
            bw, bh = 2 + i % 3, 2 + i % 2
            w, h = bw * 8, bh * 8
            vals = rng.integers(0, 256, (bh, bw), dtype=np.uint8)
            px = np.repeat(np.repeat(vals, 8, 0), 8, 1)
            data = jpeg.encode_jpeg(
                w, h, px.tobytes(), mode="L", restart_interval=ri
            )
            truth, ncomp = px, 1
        elif variant == 1:
            bw, bh = 2 + i % 2, 2
            w, h = bw * 8, bh * 8
            vals = rng.integers(0, 256, (bh, bw, 3), dtype=np.uint8)
            px = np.repeat(np.repeat(vals, 8, 0), 8, 1)
            data = jpeg.encode_jpeg(
                w, h, px.tobytes(), mode="RGB", restart_interval=ri
            )
            truth = jpeg.ycbcr_to_rgb(jpeg.rgb_to_ycbcr(px))
            ncomp = 3
        else:
            mw, mh = 2, 1 + i % 2
            w, h = mw * 16, mh * 16
            vals = rng.integers(0, 256, (mh, mw, 3), dtype=np.uint8)
            px = np.repeat(np.repeat(vals, 16, 0), 16, 1)
            data = jpeg.encode_jpeg(
                w, h, px.tobytes(), mode="RGB", subsampling="420",
                restart_interval=ri,
            )
            truth = jpeg.ycbcr_to_rgb(jpeg.rgb_to_ycbcr(px))
            ncomp = 3
        t = np.ascontiguousarray(truth)
        rows.append({
            "media_id": i, "payload": data, "width": w, "height": h,
            "n_components": ncomp, "pixels": t.tobytes(),
            "pixel_md5": hashlib.md5(t.tobytes()).hexdigest(),
            "mean_lum": float(round(float(t.mean()), 6)),
        })
    return rows


def bmp_media_payloads(n: int = 24, seed: int = 13) -> list[dict]:
    """Deterministic BMP media rows + ground truth, mirroring
    :func:`png_media_payloads`: pixels FIRST, encode with the minimal
    writer, truth from the ORIGINAL arrays. BMP is lossless, so
    decode(encode(x)) == x exactly. Rows cycle 24-bit bottom-up /
    24-bit top-down (negative height) / 8-bit palettized so the driver
    query exercises every supported layout, and widths cycle through
    all four row-padding remainders."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        w, h = 5 + (i % 7), 4 + (i % 5)
        variant = i % 3
        if variant == 2:
            pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
            idx = rng.integers(0, 16, (h, w), dtype=np.uint8)
            data = bmp.encode_bmp(w, h, idx.tobytes(), bit_count=8,
                                  palette=pal.tobytes())
            truth = np.ascontiguousarray(pal[idx]).tobytes()
        else:
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            data = bmp.encode_bmp(w, h, px.tobytes(),
                                  top_down=(variant == 1))
            truth = px.tobytes()
        arr = np.frombuffer(truth, np.uint8)
        rows.append({
            "media_id": i, "payload": data, "width": w, "height": h,
            "channels": 3, "pixels": truth,
            "pixel_md5": hashlib.md5(truth).hexdigest(),
            "mean_lum": float(round(float(arr.mean()), 6)),
        })
    return rows


def webp_media_payloads(n: int = 24, seed: int = 19) -> list[dict]:
    """Deterministic lossless-WebP media rows + ground truth, mirroring
    :func:`png_media_payloads`: RGBA pixels FIRST, encode with the
    VP8L literal/LZ77 writer, truth from the ORIGINAL arrays (VP8L is
    lossless, so decode(encode(x)) == x exactly). Rows cycle plain
    literals / subtract-green transform / constant-region LZ77 runs /
    few-color images (simple prefix codes), so the driver query
    exercises each encoder-reachable decode path."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        w, h = 5 + (i % 7), 4 + (i % 5)
        variant = i % 4
        if variant == 2:
            px = np.full((h, w, 4), int(rng.integers(0, 256)), np.uint8)
            px[: h // 2] = rng.integers(0, 256, 4, dtype=np.uint8)
        elif variant == 3:
            colors = rng.integers(0, 256, (2, 4), dtype=np.uint8)
            px = colors[rng.integers(0, 2, (h, w))]
        else:
            px = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        px = np.ascontiguousarray(px)
        data = webp.encode_webp(w, h, px.tobytes(),
                                subtract_green=(variant == 1))
        truth = px.tobytes()
        arr = np.frombuffer(truth, np.uint8)
        rows.append({
            "media_id": i, "payload": data, "width": w, "height": h,
            "channels": 4, "pixels": truth,
            "pixel_md5": hashlib.md5(truth).hexdigest(),
            "mean_lum": float(round(float(arr.mean()), 6)),
        })
    return rows


def tiff_media_payloads(n: int = 24, seed: int = 43) -> list[dict]:
    """Deterministic TIFF media rows + ground truth, mirroring
    :func:`png_media_payloads`: pixels FIRST, encode with the minimal
    writer, truth from the ORIGINAL arrays (lossless). Rows cycle
    grayscale / RGB / RGBA, both byte orders, uncompressed and
    PackBits, single- and multi-strip, so the driver query exercises
    every writer-reachable layout; the LZW and palette decode paths are
    pinned by hand-built IFDs in test_tiff.py."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        w, h = 5 + (i % 7), 4 + (i % 5)
        ch = (1, 3, 4)[i % 3]
        px = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
        data = tiff.encode_tiff(
            w, h, px.tobytes(), channels=ch,
            byte_order=("II", "MM")[i % 2],
            compression=(1, 32773)[(i // 2) % 2],
            rows_per_strip=(None, 2)[(i // 4) % 2],
        )
        truth = px.tobytes()
        arr = np.frombuffer(truth, np.uint8)
        rows.append({
            "media_id": i, "payload": data, "width": w, "height": h,
            "channels": ch, "pixels": truth,
            "pixel_md5": hashlib.md5(truth).hexdigest(),
            "mean_lum": float(round(float(arr.mean()), 6)),
        })
    return rows


RESIZED_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>"
)

FRAMES_SCHEMA = (
    "media_id long, frame_idx int, ts_ms int, frame binary, n_bytes long"
)


def _nearest_resample(px: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w[, c]) sample array — the
    deterministic, SQL-reproducible kernel (source index = floor of the
    pixel-center back-projection, the classic mapping)."""
    h, w = px.shape[:2]
    ys = np.minimum(((np.arange(height) + 0.5) * h / height).astype(int), h - 1)
    xs = np.minimum(((np.arange(width) + 0.5) * w / width).astype(int), w - 1)
    return px[ys][:, xs]


def _resample_to_png(img: dict, channels: int, width: int,
                     height: int) -> bytes:
    px = np.frombuffer(img["pixels"], np.uint8).reshape(
        img["height"], img["width"], channels
    )
    out = _nearest_resample(px, width, height)
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    return png.encode_png(width, height, out.tobytes(), color_type=color_type)


def real_resize(data: bytes, width: int, height: int) -> bytes:
    """Decode (any :func:`_decode_image` format) -> nearest-neighbor
    resample -> re-encode as PNG (lossless, so the resampled samples
    survive byte-exactly for downstream verification). Raises the
    codec's error for a corrupt payload and NotImplementedError for one
    no codec recognizes."""
    decoded = _decode_image(data)
    if decoded is None:
        raise NotImplementedError(
            "unsupported format: resize decodes PNG/GIF/JPEG/BMP/"
            "WEBP-lossless/TIFF"
        )
    return _resample_to_png(*decoded, width, height)


def resize_images(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Resize every image row (other kinds pass through untouched),
    Arrow batch at a time; meta.width/height reflect the new size.
    Payloads :func:`_decode_image` recognizes decode + resample +
    re-encode (PNG out) for REAL, and a corrupt one raises; any other
    payload gets the deterministic :func:`_fake_resize` stand-in."""

    def run(iterator):
        for pdf in iterator:
            out = pdf.copy()
            payloads, metas = [], []
            for kind, payload, meta in zip(
                out["kind"], out["payload"], out["meta"]
            ):
                if kind != "image":
                    payloads.append(payload)
                    metas.append(meta)
                    continue
                data = bytes(payload) if payload is not None else b""
                decoded = _decode_image(data)
                if decoded is None:
                    resized = _fake_resize(data, width, height)
                else:
                    resized = _resample_to_png(*decoded, width, height)
                meta = dict(meta or {})
                meta["width"], meta["height"] = width, height
                payloads.append(bytearray(resized))
                metas.append(meta)
            out["payload"] = payloads
            out["meta"] = metas
            yield out

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 250) -> DataFrame:
    """Video rows -> one output row per sampled instant at ``every_ms``
    intervals (non-video rows emit nothing). Animated GIF (LZW, GCE
    delay timeline), MJPEG AVI (RIFF walk + per-frame baseline JPEG
    under the strh constant-rate timeline) and MJPEG MP4 (ISO-BMFF
    walker) payloads decode for REAL through :func:`_decode_video`: the
    emitted ``frame`` is the raw pixel bytes of the frame active at that
    instant, and a corrupt payload raises. Any other payload (h264/hevc
    bitstreams need ffmpeg) gets deterministic :func:`_fake_frame`
    stand-ins over ``meta.duration_ms``."""

    def run(iterator):
        for pdf in iterator:
            rows = []
            for media_id, kind, payload, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf["meta"]
            ):
                if kind != "video":
                    continue
                data = bytes(payload) if payload is not None else b""
                mov = _decode_video(data)
                if mov is None:
                    duration = int((meta or {}).get("duration_ms") or 0)
                    frames = [_fake_frame(data, i)
                              for i in range(max(1, duration // every_ms))]
                else:
                    starts = [f["ts_ms"] for f in mov["frames"]]
                    frames = [
                        mov["frames"][max(0, bisect.bisect_right(
                            starts, i * every_ms) - 1)]["pixels"]
                        for i in range(max(1, mov["duration_ms"] // every_ms))
                    ]
                for i, frame in enumerate(frames):
                    rows.append((
                        int(media_id), i, i * every_ms, bytearray(frame),
                        len(frame),
                    ))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "ts_ms", "frame",
                         "n_bytes"],
            )

    return media.mapInPandas(run, schema=FRAMES_SCHEMA)


def gif_video_payloads(n: int = 12, seed: int = 23,
                       every_ms: int = 250) -> list[dict]:
    """Deterministic animated GIFs + ground-truth frame samples: frame
    index grids and the palette are generated FIRST, the expected
    sampled frames (palette lookup of the ORIGINAL indices at each
    ``every_ms`` instant, per the GCE delay timeline) are computed
    without the decoder, then the frames are encoded with the
    uncompressed-LZW animation writer. Frame counts, palette sizes and
    delays vary across rows."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        w, h = 6 + i % 5, 4 + i % 4
        n_colors = (4, 16)[i % 2]
        n_frames = 2 + i % 3
        pal = rng.integers(0, 256, size=3 * n_colors, dtype=np.uint8)
        frames_idx = [
            rng.integers(0, n_colors, size=w * h, dtype=np.uint8)
            for _ in range(n_frames)
        ]
        delays = [100 + 100 * ((i + j) % 3) for j in range(n_frames)]
        payload = gif.encode_gif_animation(
            w, h, [f.tobytes() for f in frames_idx], pal.tobytes(), delays
        )
        starts = np.cumsum([0] + delays[:-1])
        duration = int(sum(delays))
        samples = []
        for s in range(max(1, duration // every_ms)):
            ts = s * every_ms
            j = int(np.searchsorted(starts, ts, side="right")) - 1
            truth = pal.reshape(n_colors, 3)[frames_idx[j]].tobytes()
            samples.append({
                "frame_idx": s, "ts_ms": ts, "n_bytes": len(truth),
                "sha256": hashlib.sha256(truth).hexdigest(),
            })
        rows.append({
            "media_id": i, "payload": payload, "width": w, "height": h,
            "duration_ms": duration, "samples": samples,
        })
    return rows


def _mjpeg_video_payloads(build, n: int, seed: int,
                          every_ms: int) -> list[dict]:
    """Shared MJPEG-video generator for both containers (AVI and MP4):
    per-frame pixel grids are generated FIRST as 8x8-block-constant
    samples (flat quant=1 baseline JPEG round-trips those EXACTLY — see
    jpeg_media_payloads), the expected sampled frames at each
    ``every_ms`` instant are computed from the GENERATOR's pixels under
    the constant-rate timeline (no decoder involved), then the frames
    are encoded and boxed by ``build(w, h, frames, rate)``. Rows
    alternate grayscale (truth = the original pixels, fully
    decoder-independent) and RGB 4:4:4 (truth = the per-pixel YCbCr
    round-trip FORMULA, pinned by hand vectors in test_jpeg.py); frame
    rates vary (2/4/5 fps)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        bw, bh = 2 + i % 3, 2 + i % 2
        w, h = bw * 8, bh * 8
        n_frames = 2 + i % 3
        rate = (2, 4, 5)[i % 3]  # fps; scale=1
        frames_jpeg, truths = [], []
        for _ in range(n_frames):
            if i % 2 == 0:
                vals = rng.integers(0, 256, (bh, bw), dtype=np.uint8)
                px = np.repeat(np.repeat(vals, 8, 0), 8, 1)
                frames_jpeg.append(
                    jpeg.encode_jpeg(w, h, px.tobytes(), mode="L")
                )
                truths.append(np.ascontiguousarray(px).tobytes())
            else:
                vals = rng.integers(0, 256, (bh, bw, 3), dtype=np.uint8)
                px = np.repeat(np.repeat(vals, 8, 0), 8, 1)
                frames_jpeg.append(
                    jpeg.encode_jpeg(w, h, px.tobytes(), mode="RGB")
                )
                truth = jpeg.ycbcr_to_rgb(jpeg.rgb_to_ycbcr(px))
                truths.append(np.ascontiguousarray(truth).tobytes())
        payload = build(w, h, frames_jpeg, rate)
        starts = [j * 1000 // rate for j in range(n_frames)]
        duration = n_frames * 1000 // rate
        samples = []
        for s in range(max(1, duration // every_ms)):
            ts = s * every_ms
            j = max(0, int(np.searchsorted(starts, ts, side="right")) - 1)
            samples.append({
                "frame_idx": s, "ts_ms": ts, "n_bytes": len(truths[j]),
                "sha256": hashlib.sha256(truths[j]).hexdigest(),
            })
        rows.append({
            "media_id": i, "payload": payload, "width": w, "height": h,
            "duration_ms": duration, "samples": samples,
        })
    return rows


def avi_video_payloads(n: int = 12, seed: int = 37,
                       every_ms: int = 250) -> list[dict]:
    return _mjpeg_video_payloads(
        lambda w, h, f, r: avi.build_avi_mjpeg(w, h, f, rate=r, scale=1),
        n, seed, every_ms,
    )


def mp4_video_payloads(n: int = 12, seed: int = 61,
                       every_ms: int = 250) -> list[dict]:
    return _mjpeg_video_payloads(
        lambda w, h, f, r: mp4.build_mp4_mjpeg(w, h, f, rate=r, scale=1),
        n, seed, every_ms,
    )


def media_table(spark, kind: str, rows: list[dict]) -> DataFrame:
    """Spark table (``MEDIA_SCHEMA``) of one ``kind`` over any
    ``*_payloads`` generator's rows; ``meta`` carries whichever of
    width / height / sample_rate / duration_ms each row has."""
    pdf = pd.DataFrame(
        [(r["media_id"], kind, bytearray(r["payload"]),
          {f: r.get(f) for f in ("width", "height", "sample_rate",
                                 "duration_ms")})
         for r in rows],
        columns=["media_id", "kind", "payload", "meta"],
    )
    return spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)


def media_payloads(n: int = 64, seed: int = 42) -> list[tuple[int, str, bytes]]:
    """Deterministic (media_id, kind, payload) rows shared by the Spark
    media table and the DuckDB oracle. Payloads are printable base62
    bytes so an independent engine can hash them as text — they still
    travel Spark-side as an opaque ``binary`` column."""
    rng = np.random.default_rng(seed)
    kinds = ("image", "audio", "video")
    rows = []
    for i in range(n):
        idx = rng.integers(0, 62, size=64 + (i % 5) * 32)
        payload = "".join(_B62[j] for j in idx).encode("ascii")
        rows.append((i, kinds[i % 3], payload))
    return rows


def synthesize_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests (binary column plumbing)."""
    rows = []
    for i, kind, payload in media_payloads(n, seed):
        meta = {
            "width": 64 if kind == "image" else None,
            "height": 64 if kind == "image" else None,
            "sample_rate": 16000 if kind == "audio" else None,
            "duration_ms": 1000 if kind != "image" else None,
        }
        rows.append((i, kind, bytearray(payload), meta))
    pdf = pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])
    return spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
