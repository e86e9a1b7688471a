"""Minimal MJPEG-AVI container codec (pure stdlib) — the video leg of
the multimodal surface.

AVI is Microsoft's public RIFF container, the same framing as WAV:
``_chunk`` and ``_iter_chunks`` below are the one RIFF chunk writer
and reader, used by this codec and by the WAV codec in
pipeline/multimodal.py. ``RIFF('AVI ' LIST('hdrl' avih
LIST('strl' strh strf)) LIST('movi' 00dc...) idx1)``.  Motion-JPEG
stores each frame as an independent baseline JPEG in a ``00dc``
chunk, which pipeline/jpeg.py already decodes — so frame sampling
needs only this container walk, no inter-frame codec state.  That is
exactly why MJPEG is the one video format a from-scratch engine can
support honestly; anything with temporal compression (H.26x, VP9,
AV1) stays gated behind an external codec library.

Original from-spec implementation; the reference has no video
surface at all (multimodal is part of the LLM-pipeline extension).
"""
from __future__ import annotations

import struct
from collections.abc import Iterator

_AVIF_HASINDEX = 0x10
_AVIIF_KEYFRAME = 0x10


def _chunk(fourcc: bytes, data: bytes) -> bytes:
    """One RIFF chunk: fourcc, little-endian length, body, pad byte."""
    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _list(list_type: bytes, data: bytes) -> bytes:
    return _chunk(b"LIST", list_type + data)


def _iter_chunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_len) sub-chunks of a region."""
    while pos + 8 <= end:
        fourcc = buf[pos:pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        yield fourcc, pos + 8, size
        pos += 8 + size + (size % 2)


def _riff_chunks(data: bytes, form: bytes):
    """Top-level chunks of a RIFF file of type ``form`` (``b"WAVE"``,
    ``b"AVI "``); ValueError when ``data`` is not one."""
    if not data or data[:4] != b"RIFF" or data[8:12] != form:
        raise ValueError(f"not a RIFF {form.decode().strip()} file")
    return _iter_chunks(data, 12, len(data))


def avi_encode(frames: list, fps: float = 25.0, quality: int = 85,
               subsample: str = "420") -> bytes:
    """Encode (H, W, 3) uint8 frames as an MJPEG AVI.  Every frame is
    a keyframe (JPEG), so the idx1 index marks all of them."""
    from tablite_spark.pipeline.jpeg import jpeg_encode
    if not frames:
        raise ValueError("avi_encode needs at least one frame")
    h, w = frames[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in frames):
        raise ValueError("all frames must share one size")
    payloads = [jpeg_encode(f, quality=quality, subsample=subsample)
                for f in frames]
    usec = int(round(1_000_000 / fps))
    max_bytes = max(len(p) for p in payloads)

    avih = struct.pack(
        "<10I4I", usec, max_bytes * int(fps) + 1, 0, _AVIF_HASINDEX,
        len(frames), 0, 1, max_bytes, w, h, 0, 0, 0, 0)
    # dwScale/dwRate as a 1e6 rational so non-integer fps round-trips
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H", b"vids", b"MJPG", 0, 0, 0, 0,
        1_000_000, int(round(fps * 1_000_000)), 0, len(frames),
        max_bytes, 10_000, 0, 0, 0, w, h)
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3,
        0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))
    movi_chunks = b"".join(_chunk(b"00dc", p) for p in payloads)
    movi = _list(b"movi", movi_chunks)
    # idx1 offsets are relative to the start of the 'movi' fourcc
    idx_entries, off = [], 4
    for p in payloads:
        idx_entries.append(struct.pack(
            "<4sIII", b"00dc", _AVIIF_KEYFRAME, off, len(p)))
        off += 8 + len(p) + (len(p) % 2)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def avi_header(data: bytes) -> tuple[int, int, int, float, int]:
    """(width, height, n_frames, fps, duration_ms) from the hdrl
    list.  fps prefers the stream header's dwRate/dwScale rational
    and falls back to the main header's microseconds-per-frame."""
    width = height = n_frames = 0
    usec = 0
    scale = rate = 0
    for fourcc, start, size in _riff_chunks(data, b"AVI "):
        if fourcc != b"LIST" or data[start:start + 4] != b"hdrl":
            continue
        for f2, s2, z2 in _iter_chunks(data, start + 4, start + size):
            if f2 == b"avih":
                (usec, _, _, _, n_frames, _, _, _, width,
                 height) = struct.unpack_from("<10I", data, s2)
            elif f2 == b"LIST" and data[s2:s2 + 4] == b"strl":
                for f3, s3, z3 in _iter_chunks(data, s2 + 4, s2 + z2):
                    if f3 == b"strh" and data[s3:s3 + 4] == b"vids":
                        _, _, _, _, _, _, scale, rate = \
                            struct.unpack_from("<4s4sIHHIII", data, s3)
        break
    if not width or not n_frames:
        raise ValueError("AVI has no vids header")
    if scale and rate:
        fps = rate / scale
    elif usec:
        fps = 1_000_000 / usec
    else:
        raise ValueError("AVI has no frame rate")
    duration_ms = int(round(n_frames * 1000 / fps))
    return width, height, n_frames, fps, duration_ms


def avi_frames(data: bytes) -> Iterator[bytes]:
    """Yield stream-0 video frame payloads (JPEG bytes for MJPG) by
    walking the movi list directly — no trust in idx1."""
    for fourcc, start, size in _riff_chunks(data, b"AVI "):
        if fourcc == b"LIST" and data[start:start + 4] == b"movi":
            for f2, s2, z2 in _iter_chunks(data, start + 4, start + size):
                if f2 in (b"00dc", b"00db"):
                    yield data[s2:s2 + z2]
            return
    raise ValueError("AVI has no movi list")
