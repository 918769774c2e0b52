"""Pure-stdlib MP4 / ISO-BMFF container reader + MJPEG writer — the
video-container companion to kernels/avi.py. The box layer (the part a
data pipeline can do without a codec library) is parsed for REAL:
ftyp/moov/trak walk, track handlers, sample tables (stsd/stts/stsc/
stsz/stco/co64) resolved into per-sample (offset, size, timestamp),
mvhd/mdhd timescales, 64-bit box sizes. Samples whose stsd entry is
``jpeg``/``mjpa`` (Motion-JPEG-in-MP4 — the QuickTime-lineage layout)
decode to pixels via the baseline JPEG codec; any other video codec
(avc1/hvc1/vp09/...) raises :class:`Mp4Error` naming the fourcc — the
STRUCTURE is still fully readable via :func:`mp4_info`, so only the
bitstream decode itself remains behind the ffmpeg seam.

Writer: a minimal but valid MJPEG MP4 (mdat-first layout so stco holds
real file offsets; one chunk, constant frame rate) for tests and
deterministic synthetic corpora.
"""

from __future__ import annotations

import struct

from anytomd_spark.kernels import jpeg


class Mp4Error(ValueError):
    """Not an ISO-BMFF file or unsupported layout."""


def _boxes(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in range."""
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos:pos + 4])
        fourcc = data[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if body + 8 > end:
                raise Mp4Error("truncated 64-bit box size")
            (size,) = struct.unpack(">Q", data[body:body + 8])
            body += 8
            box_end = pos + size
        elif size == 0:  # to end of file
            box_end = end
        else:
            box_end = pos + size
        if box_end > end or box_end < body:
            raise Mp4Error(f"box {fourcc!r} overruns container")
        yield fourcc, body, box_end
        pos = box_end


def _find(data: bytes, pos: int, end: int, path: list[bytes]):
    """All body ranges matching a box path, depth-first."""
    if not path:
        yield pos, end
        return
    for fourcc, body, box_end in _boxes(data, pos, end):
        if fourcc == path[0]:
            yield from _find(data, body, box_end, path[1:])


def _full_box(data: bytes, pos: int) -> tuple[int, int]:
    version = data[pos]
    flags = int.from_bytes(data[pos + 1:pos + 4], "big")
    return version, flags


def _parse_stts(data, pos, end) -> list[tuple[int, int]]:
    (n,) = struct.unpack(">I", data[pos + 4:pos + 8])
    out = []
    p = pos + 8
    for _ in range(n):
        out.append(struct.unpack(">II", data[p:p + 8]))
        p += 8
    return out


def _parse_table_u32(data, pos) -> list[int]:
    (n,) = struct.unpack(">I", data[pos + 4:pos + 8])
    return list(struct.unpack(f">{n}I", data[pos + 8:pos + 8 + 4 * n]))


def _track_info(data: bytes, body: int, box_end: int) -> dict | None:
    """Parse one trak body into handler + sample-table info."""
    info: dict = {}
    for mdia_s, mdia_e in _find(data, body, box_end, [b"mdia"]):
        for fourcc, b, e in _boxes(data, mdia_s, mdia_e):
            if fourcc == b"mdhd":
                version, _ = _full_box(data, b)
                if version == 1:
                    info["timescale"], info["duration"] = struct.unpack(
                        ">IQ", data[b + 20:b + 32])
                else:
                    info["timescale"], info["duration"] = struct.unpack(
                        ">II", data[b + 12:b + 20])
            elif fourcc == b"hdlr":
                info["handler"] = data[b + 8:b + 12]
        for stbl_s, stbl_e in _find(data, mdia_s, mdia_e,
                                    [b"minf", b"stbl"]):
            for fourcc, b, e in _boxes(data, stbl_s, stbl_e):
                if fourcc == b"stsd":
                    (n,) = struct.unpack(">I", data[b + 4:b + 8])
                    if n >= 1:
                        entry_cc = data[b + 12:b + 16]
                        info["codec"] = entry_cc
                        # VisualSampleEntry width/height at +24/+26 of
                        # the entry body (after 8-byte header)
                        if e - b >= 44:
                            info["width"], info["height"] = struct.unpack(
                                ">HH", data[b + 40:b + 44])
                elif fourcc == b"stts":
                    info["stts"] = _parse_stts(data, b, e)
                elif fourcc == b"stsz":
                    (fixed,) = struct.unpack(">I", data[b + 4:b + 8])
                    (cnt,) = struct.unpack(">I", data[b + 8:b + 12])
                    if fixed:
                        info["sizes"] = [fixed] * cnt
                    else:
                        info["sizes"] = list(struct.unpack(
                            f">{cnt}I", data[b + 12:b + 12 + 4 * cnt]))
                elif fourcc == b"stsc":
                    (n,) = struct.unpack(">I", data[b + 4:b + 8])
                    info["stsc"] = [
                        struct.unpack(">III", data[b + 8 + 12 * i:
                                                   b + 20 + 12 * i])
                        for i in range(n)
                    ]
                elif fourcc == b"stco":
                    info["chunks"] = _parse_table_u32(data, b)
                elif fourcc == b"co64":
                    (n,) = struct.unpack(">I", data[b + 4:b + 8])
                    info["chunks"] = list(struct.unpack(
                        f">{n}Q", data[b + 8:b + 8 + 8 * n]))
    return info or None


def _sample_layout(info: dict) -> list[tuple[int, int]]:
    """Resolve stsc/stco/stsz into absolute (offset, size) per sample."""
    sizes = info.get("sizes")
    chunks = info.get("chunks")
    stsc = info.get("stsc")
    if not sizes or not chunks or not stsc:
        raise Mp4Error("video track missing stsz/stco/stsc")
    out = []
    si = 0
    n_chunks = len(chunks)
    for i, (first, per_chunk, _desc) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else n_chunks
        for c in range(first - 1, last):
            off = chunks[c]
            for _ in range(per_chunk):
                if si >= len(sizes):
                    break
                out.append((off, sizes[si]))
                off += sizes[si]
                si += 1
    if si != len(sizes):
        raise Mp4Error("sample-to-chunk tables do not cover all samples")
    return out


def mp4_info(data: bytes) -> dict:
    """Container-level structure (no codec decode): per-track handler,
    codec fourcc, timescale, duration, sample count; plus the video
    track's dimensions if present."""
    if len(data) < 16:
        raise Mp4Error("not an ISO-BMFF file (too short)")
    head = list(_boxes(data, 0, len(data)))
    if not head or head[0][0] != b"ftyp":
        raise Mp4Error("not an ISO-BMFF file (missing leading ftyp)")
    tracks = []
    for moov_s, moov_e in _find(data, 0, len(data), [b"moov"]):
        for fourcc, b, e in _boxes(data, moov_s, moov_e):
            if fourcc == b"trak":
                t = _track_info(data, b, e)
                if t:
                    tracks.append(t)
    if not tracks:
        raise Mp4Error("no moov/trak structure found")
    out = {"tracks": []}
    for t in tracks:
        ts = t.get("timescale") or 0
        out["tracks"].append({
            "handler": (t.get("handler") or b"").decode("ascii", "replace"),
            "codec": (t.get("codec") or b"").decode("ascii", "replace"),
            "timescale": ts,
            "duration_ms": (t.get("duration", 0) * 1000 // ts) if ts else 0,
            "n_samples": len(t.get("sizes") or []),
            "width": t.get("width"),
            "height": t.get("height"),
        })
    return out


def decode_mp4_frames(data: bytes, max_frames: int = 4096) -> dict:
    """Decode the video track of an MJPEG MP4 into per-frame pixels,
    shaped exactly like kernels/avi.decode_avi_frames. Non-MJPEG codecs
    raise with the fourcc named."""
    if len(data) < 16 or data[4:8] != b"ftyp":
        raise Mp4Error("not an ISO-BMFF file (missing leading ftyp)")
    video = None
    for moov_s, moov_e in _find(data, 0, len(data), [b"moov"]):
        for fourcc, b, e in _boxes(data, moov_s, moov_e):
            if fourcc == b"trak":
                t = _track_info(data, b, e)
                if t and t.get("handler") == b"vide":
                    video = t
                    break
    if video is None:
        raise Mp4Error("no video track")
    codec = video.get("codec") or b"????"
    if codec not in (b"jpeg", b"mjpa"):
        raise Mp4Error(
            f"video codec {codec.decode('ascii', 'replace')!r} requires "
            "ffmpeg (only MJPEG-in-MP4 decodes here)"
        )
    layout = _sample_layout(video)
    if len(layout) > max_frames:
        raise Mp4Error(f"frame count {len(layout)} exceeds {max_frames}")
    ts = video.get("timescale")
    if not ts:
        raise Mp4Error("missing mdhd timescale")
    # expand stts deltas into start times
    starts = []
    t_acc = 0
    for count, delta in video.get("stts") or []:
        for _ in range(count):
            starts.append(t_acc)
            t_acc += delta
    if len(starts) != len(layout):
        raise Mp4Error("stts does not cover all samples")

    frames = []
    width = height = None
    for i, ((off, size), st) in enumerate(zip(layout, starts)):
        if off + size > len(data):
            raise Mp4Error(f"sample {i} runs past file end")
        try:
            img = jpeg.decode_jpeg(data[off:off + size])
        except jpeg.JpegError as e:
            raise Mp4Error(f"frame {i}: {e}") from e
        if width is None:
            width, height = img["width"], img["height"]
        elif (img["width"], img["height"]) != (width, height):
            raise Mp4Error(f"frame {i} size differs from stream size")
        frames.append({
            "frame_idx": i,
            "ts_ms": st * 1000 // ts,
            "n_components": img["n_components"],
            "pixels": img["pixels"],
        })
    return {
        "width": width,
        "height": height,
        "n_frames": len(frames),
        "timescale": ts,
        "duration_ms": t_acc * 1000 // ts,
        "frames": frames,
    }


# --------------------------------------------------------------------------
# minimal writer (tests + deterministic synthetic corpora)
# --------------------------------------------------------------------------

def _box(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def _full(fourcc: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(fourcc, bytes([version]) + flags.to_bytes(3, "big") + body)


def build_mp4_mjpeg(
    width: int,
    height: int,
    jpeg_frames: list[bytes],
    rate: int = 4,
    scale: int = 1,
    timescale: int = 1000,
) -> bytes:
    """Write a minimal MJPEG MP4: ftyp, mdat holding the JPEG samples,
    then moov with one 'vide' track ('jpeg' sample entry, constant
    frame duration ``timescale*scale/rate``, one chunk). mdat precedes
    moov so stco carries true file offsets."""
    if not jpeg_frames:
        raise Mp4Error("at least one frame required")
    n = len(jpeg_frames)
    delta = timescale * scale // rate
    duration = delta * n

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mdat_payload = b"".join(jpeg_frames)
    mdat = _box(b"mdat", mdat_payload)
    chunk_off = len(ftyp) + 8  # mdat body start

    entry = (
        struct.pack(">I", 86) + b"jpeg"
        + b"\x00" * 6 + struct.pack(">H", 1)     # reserved + dref idx
        + b"\x00" * 16                            # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4 + struct.pack(">H", 1)      # reserved + frame count
        + b"\x00" * 32                            # compressor name
        + struct.pack(">Hh", 24, -1)              # depth, pre_defined
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, delta))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, n) + b"".join(
        struct.pack(">I", len(f)) for f in jpeg_frames))
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, chunk_off))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    dref = _full(b"dref", 0, 0,
                 struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    minf = _box(b"minf", vmhd + dinf + stbl)
    hdlr = _full(b"hdlr", 0, 0,
                 b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"mjpeg\x00")
    mdhd = _full(b"mdhd", 0, 0, struct.pack(
        ">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0))  # lang 'und'
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(b"tkhd", 0, 7, struct.pack(
        ">IIII", 0, 0, 1, 0) + struct.pack(">I", duration)
        + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16))
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, timescale, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2))
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
