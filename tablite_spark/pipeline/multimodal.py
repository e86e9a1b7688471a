"""Multimodal columns — image/audio/video as opaque binary + metadata.

Design: a multimodal column is a struct
    (data: binary, mime: string, width/height/duration: typed metadata)
so partitioning, predicate pushdown on metadata, and column pruning all
work on the typed part while payloads stay opaque bytes.

Decode / feature-extract run as Arrow-batched pandas functions through
one ``mapInPandas`` shell (:func:`_map_media`); each operator supplies
only its output fields and a per-payload function. PNG
(pipeline/png.py), baseline and progressive JPEG (pipeline/jpeg.py),
GIF (pipeline/gif.py), WAV, and MJPEG-AVI video (pipeline/avi.py)
decode for REAL — pure stdlib+numpy codecs, no imaging library needed.
Each image format is listed once, in ``_IMAGE_CODECS``. Other formats
(WebP, temporally-compressed video) remain deterministic fakes /
null-degrading fallbacks behind the same tested Spark plumbing
(schema, batching, partition shape); swapping in PIL/pyav later
changes ONE table row.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tablite_spark.pipeline import gif, jpeg, png
from tablite_spark.pipeline.avi import (
    _chunk, _riff_chunks, avi_frames, avi_header,
)

MEDIA_SCHEMA = T.StructType([
    T.StructField("data", T.BinaryType()),
    T.StructField("mime", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
])


def attach_media(df: DataFrame, data_col: str, mime: str) -> DataFrame:
    """Wrap a binary column into the typed media struct."""
    return df.withColumn("media", F.struct(
        F.col(data_col).alias("data"),
        F.lit(mime).alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    ))


# nullable pandas dtypes, so a None field value stays null in Arrow;
# other field types (arrays, structs) travel as object columns
_PANDAS_DTYPES = {T.IntegerType: "Int32", T.LongType: "Int64",
                  T.DoubleType: "Float64"}


def _map_media(df: DataFrame, media_col: str, fields: list,
               per_payload: Callable) -> DataFrame:
    """The one Arrow-boundary shell of every media operator: ``df``
    minus ``media_col`` plus ``fields``, in one mapInPandas pass.

    ``per_payload`` gets each row's payload bytes (None for a null
    struct or null data) and returns one tuple of ``fields`` values,
    or a list of tuples to emit one row per tuple (the video
    explode). It must degrade a bad payload to nulls itself — one
    poison row must never fail the stage."""
    keep = [f for f in df.schema.fields if f.name != media_col]
    names = [f.name for f in keep]
    dtypes = [_PANDAS_DTYPES.get(type(f.dataType)) for f in fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            idx, vals = [], []
            for i, m in enumerate(pdf[media_col]):
                data = m["data"] if m is not None else None
                out = per_payload(None if data is None else bytes(data))
                for row in out if isinstance(out, list) else [out]:
                    idx.append(i)
                    vals.append(row)
            res = pdf[names].iloc[idx].reset_index(drop=True)
            for j, (f, dt) in enumerate(zip(fields, dtypes)):
                col = [v[j] for v in vals]
                res[f.name] = col if dt is None else pd.array(col, dtype=dt)
            yield res

    return df.mapInPandas(batches, schema=T.StructType(keep + fields))


# One row per image format decoded for real: (magic prefixes,
# header -> (width, height, ...), decode -> (H, W, C) uint8 pixels).
_IMAGE_CODECS = (
    ((b"\x89PNG\r\n\x1a\n",), png.png_header, png.png_decode),
    ((b"\xff\xd8\xff",), jpeg.jpeg_header, jpeg.jpeg_decode),
    ((b"GIF87a", b"GIF89a"), gif.gif_header, gif.gif_decode),
)


def _image_codec(data: bytes | None):
    """(header, decode) of the format whose magic starts ``data``, or
    None for a null payload or a format not in ``_IMAGE_CODECS``."""
    if data:
        for magics, header, decode in _IMAGE_CODECS:
            if data.startswith(magics):
                return header, decode
    return None


def _fake_decode_image(data: bytes) -> tuple[int, int]:
    """Deterministic stand-in for formats without a real decoder here
    (WebP/…): derives a fake (width, height) from the byte content.
    Replace with PIL.Image.open when available."""
    if data is None:
        return (0, 0)
    h = len(data)
    return (64 + h % 512, 64 + (h * 7) % 512)


def _decode_dims(data: bytes | None) -> tuple[int, int]:
    """REAL (width, height) from the header of a format in
    ``_IMAGE_CODECS``; deterministic fake for other formats.
    Corrupt/truncated headers in a web corpus degrade to the fake —
    they must never fail the whole mapInPandas stage."""
    codec = _image_codec(data)
    if codec is not None:
        try:
            w, h = codec[0](data)[:2]
            return (w, h)
        except Exception:
            pass
    return _fake_decode_image(data)


def decode_images(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Populate width/height via mapInPandas (Arrow batches).

    PNG, baseline and progressive JPEG, and GIF payloads decode for
    REAL (stdlib+numpy codecs); other formats fall back to the
    documented deterministic fake until a decoder library is
    available. Plumbing (schema preservation, batch iteration, null
    payloads) is identical either way.
    """
    return _map_media(df, media_col, [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ], _decode_dims)


def _pixel_features(px, dim: int) -> list[float]:
    """Per-channel mean + normalized luminance histogram of a decoded
    (H, W, C) uint8 array, padded or cut to ``dim`` values."""
    import numpy as np
    px = px.astype(np.float64)
    means = px.reshape(-1, px.shape[2]).mean(axis=0) / 255.0
    lum = px.mean(axis=2).ravel()
    n_hist = max(dim - len(means), 1)
    hist, _ = np.histogram(lum, bins=n_hist, range=(0.0, 255.0))
    vec = list(means) + list(hist / max(lum.size, 1))
    return [float(v) for v in (vec + [0.0] * dim)[:dim]]


def extract_image_features(df: DataFrame, media_col: str = "media",
                           dim: int = 8) -> DataFrame:
    """Image features as array<float>: PNG, baseline and progressive
    JPEG, and GIF payloads decode for REAL (stdlib+numpy codecs) to a
    per-channel mean + normalized luminance histogram; other payloads
    get the deterministic byte-histogram stand-in. Real models plug
    into the same mapInPandas shape."""
    def features(data):
        if not data:
            return ([0.0] * dim,)
        codec = _image_codec(data)
        if codec is not None:
            try:  # corrupt payloads: byte-hist fallback
                return (_pixel_features(codec[1](data), dim),)
            except Exception:
                pass
        buckets = [0] * dim
        for byte in data:
            buckets[byte % dim] += 1
        total = float(len(data))
        return ([b / total for b in buckets],)

    return _map_media(df, media_col, [
        T.StructField("features", T.ArrayType(T.FloatType())),
    ], features)


def wav_header(data: bytes) -> tuple[int, int, int, int]:
    """(sample_rate, channels, bits, duration_ms) from a RIFF/WAVE
    header — the public WAV container layout, stdlib struct only. The
    duration is that of the first ``data`` chunk, the one
    :func:`wav_samples` decodes."""
    rate, ch, bits, data_len = None, None, None, None
    for tag, start, length in _riff_chunks(data, b"WAVE"):
        if tag == b"fmt ":
            _, ch, rate, _, _, bits = struct.unpack(
                "<HHIIHH", data[start:start + 16])
        elif tag == b"data" and data_len is None:
            data_len = length
    if not rate or not ch or not bits or data_len is None:
        raise ValueError("incomplete WAV header")
    n_frames = data_len // (ch * bits // 8)
    return rate, ch, bits, n_frames * 1000 // rate


def wav_encode(samples, sample_rate: int = 16_000) -> bytes:
    """Encode int16 mono PCM samples as a WAV byte string (stdlib)."""
    import numpy as np
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return _chunk(b"RIFF", b"WAVE" + _chunk(b"fmt ", fmt)
                  + _chunk(b"data", pcm))


def wav_samples(data: bytes):
    """(sample_rate, mono float64 samples in [-1, 1)) from a 16-bit
    PCM RIFF/WAVE payload; multi-channel audio is mean-downmixed.
    Raises on non-WAV / non-16-bit payloads (callers degrade to
    nulls, same contract as wav_header)."""
    import numpy as np
    rate, ch, bits, _dur = wav_header(data)
    if bits != 16:
        raise ValueError(f"only 16-bit PCM supported, got {bits}")
    for tag, start, length in _riff_chunks(data, b"WAVE"):
        if tag == b"data":
            raw = data[start:start + length]
            x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
            if ch > 1:
                x = x[: len(x) - len(x) % ch].reshape(-1, ch).mean(axis=1)
            return rate, x / 32768.0
    raise ValueError("WAV has no data chunk")


def extract_audio_features(df: DataFrame,
                           media_col: str = "media") -> DataFrame:
    """REAL audio features for WAV payloads — numpy DSP, no audio
    library: RMS level, peak, zero-crossing count, and FFT spectral
    centroid (Hz). The training-data use is audio quality/energy
    filtering (silence, clipping, bandwidth checks) before expensive
    model-side processing. Same mapInPandas shape and null-degrading
    contract as decode_audio; each clip transforms independently
    inside its partition (one Arrow batch, one rfft per row)."""
    import numpy as np
    nulls = (None,) * 6

    def features(data) -> tuple:
        try:
            rate, x = wav_samples(data)
            if len(x) == 0:
                return nulls
            dur_ms = len(x) * 1000 // rate
            rms = float(np.sqrt(np.mean(x * x)))
            peak = float(np.abs(x).max())
            zc = int(np.sum(np.signbit(x[1:]) != np.signbit(x[:-1])))
            mag = np.abs(np.fft.rfft(x))
            tot = mag.sum()
            cent = float((mag * np.fft.rfftfreq(len(x), 1.0 / rate)).sum()
                         / tot) if tot > 0 else 0.0
            return rate, dur_ms, rms, peak, zc, cent
        except Exception:
            return nulls

    return _map_media(df, media_col, [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("spectral_centroid_hz", T.DoubleType()),
    ], features)


def decode_audio(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Populate (sample_rate, channels, duration_ms) — REAL for WAV
    payloads (RIFF header parse, no audio lib needed); other formats
    raise at the row level into nulls. Same Arrow-batched mapInPandas
    shape as decode_images."""
    def header(data) -> tuple:
        try:
            rate, ch, _, dur = wav_header(data)
            return rate, ch, dur
        except Exception:
            # ValueError (not WAV or null payload) and struct.error
            # (truncated fmt chunk) degrade to a null row, as
            # documented — one bad payload must not fail the stage
            return None, None, None

    return _map_media(df, media_col, [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ], header)


def sample_video_frames(df: DataFrame, media_col: str = "media",
                        every_ms: int = 1000) -> DataFrame:
    """REAL frame sampling for MJPEG-AVI payloads (pipeline/avi.py
    RIFF walk + pipeline/jpeg.py per-frame decode — pure stdlib+numpy;
    MJPEG has no inter-frame state, which is what makes a from-scratch
    decoder honest). Emits one row per sampled frame (~every
    ``every_ms``): frame_idx, t_ms, dims, mean luminance. Temporal
    codecs (H.26x/VP9/AV1) and corrupt payloads degrade to a single
    null row, mirroring decode_images' per-row fallback contract.

    Scale shape: mapInPandas over the media struct — each video
    decodes independently inside its partition, no shuffle; the
    explode happens worker-side so driver never sees frame data."""
    null_row = (None, None, None, None, None)

    def sample(data) -> list[tuple]:
        if not data:
            return [null_row]
        try:
            w, h, n, fps, _dur = avi_header(data)
            step = max(1, int(round(every_ms * fps / 1000.0)))
            wanted = set(range(0, n, step))
            rows = []
            for i, payload in enumerate(avi_frames(data)):
                if i not in wanted:
                    continue
                t_ms = int(round(i * 1000.0 / fps))
                try:
                    px = jpeg.jpeg_decode(payload)
                    luma = float(px.astype("float64").mean())
                    rows.append((i, t_ms, px.shape[1], px.shape[0], luma))
                except Exception:
                    rows.append((i, t_ms, None, None, None))
            return rows or [null_row]
        except Exception:
            return [null_row]

    return _map_media(df, media_col, [
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("t_ms", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ], sample)


def _box_resize(px, height: int, width: int):
    """Area resample of an (h, w[, C]) uint8 array to (height, width):
    output pixel (y, x) averages the source box
    [y*h/H, (y+1)*h/H) x [x*w/W, (x+1)*w/W)."""
    import numpy as np
    h, w = px.shape[:2]
    if px.ndim == 2:
        px = px[:, :, None]
    ys = (np.arange(height + 1) * h / height).round().astype(int)
    xs = (np.arange(width + 1) * w / width).round().astype(int)
    ys = np.clip(ys, 0, h); xs = np.clip(xs, 0, w)
    out = np.zeros((height, width, px.shape[2]), dtype=np.float64)
    for y in range(height):
        y0, y1 = ys[y], max(ys[y + 1], ys[y] + 1)
        row = px[min(y0, h - 1):y1]
        for x in range(width):
            x0, x1 = xs[x], max(xs[x + 1], xs[x] + 1)
            out[y, x] = row[:, min(x0, w - 1):x1].mean(axis=(0, 1))
    res = np.clip(np.round(out), 0, 255).astype(np.uint8)
    return res[:, :, 0] if res.shape[2] == 1 else res


def resize_images(df: DataFrame, media_col: str = "media",
                  width: int = 64, height: int = 64,
                  out_format: str = "jpeg",
                  quality: int = 85) -> DataFrame:
    """REAL image resize over Arrow batches: PNG, baseline and
    progressive JPEG, and GIF payloads decode through the pure-python
    codecs, resample to (width, height) with numpy box-averaging (area
    interpolation — the standard choice for downscale; upscale
    degenerates to nearest-repeat of the fractional box), and
    re-encode as ``out_format`` ("jpeg" or "png"). The media struct is
    REPLACED (new data/mime/width/height); undecodable or null
    payloads yield a null media struct rather than failing the batch
    — at corpus scale a poison payload must never kill the job.

    Plan: one mapInPandas pass, scan-local, zero shuffles — the
    standard multimodal-preprocessing shape (decode + transform +
    encode per Arrow batch)."""
    def resize(data):
        codec = _image_codec(data)
        if codec is None:
            return (None,)
        try:
            px = _box_resize(codec[1](data), height, width)
            if out_format == "png":
                enc, mime = png.png_encode(px), "image/png"
            else:
                enc, mime = (jpeg.jpeg_encode(px, quality=quality),
                             "image/jpeg")
            return ({"data": enc, "mime": mime,
                     "width": width, "height": height},)
        except Exception:
            return (None,)

    return _map_media(df, media_col, [
        T.StructField(media_col, T.StructType([
            T.StructField("data", T.BinaryType()),
            T.StructField("mime", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ])),
    ], resize)


def resample_audio(df: DataFrame, media_col: str = "media",
                   target_rate: int = 16_000) -> DataFrame:
    """REAL audio resampling over Arrow batches: 16-bit PCM WAV
    payloads decode through the stdlib codec, resample to
    ``target_rate`` by linear interpolation on the continuous-time
    sample grid (numpy.interp — the standard cheap resampler; no
    anti-alias filter, which matters only for heavy downsampling of
    near-Nyquist content), and re-encode as 16-bit mono WAV. The
    media struct is replaced (new data/mime + rate/duration_ms
    metadata); null / non-WAV / non-PCM payloads yield a null struct
    rather than failing the batch. One mapInPandas pass, scan-local,
    zero shuffles — the audio twin of :func:`resize_images`."""
    import numpy as np

    def resample(data):
        try:
            rate, x = wav_samples(data)
            if rate == target_rate:
                y = x
            else:
                n_out = max(int(round(len(x) * target_rate / rate)), 1)
                t_out = np.arange(n_out) * (rate / target_rate)
                y = np.interp(t_out, np.arange(len(x)), x)
            pcm = np.clip(np.round(y * 32768.0), -32768, 32767)
            return ({"data": wav_encode(pcm.astype("<i2"), target_rate),
                     "mime": "audio/wav", "sample_rate": target_rate,
                     "duration_ms": len(y) * 1000 // target_rate},)
        except Exception:
            return (None,)

    return _map_media(df, media_col, [
        T.StructField(media_col, T.StructType([
            T.StructField("data", T.BinaryType()),
            T.StructField("mime", T.StringType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("duration_ms", T.IntegerType()),
        ])),
    ], resample)
