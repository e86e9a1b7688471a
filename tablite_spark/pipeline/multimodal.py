"""Multimodal columns — image/audio/video as opaque binary + metadata.

Design: a multimodal column is a struct
    (data: binary, mime: string, width/height/duration: typed metadata)
so partitioning, predicate pushdown on metadata, and column pruning all
work on the typed part while payloads stay opaque bytes.

Decode / feature-extract run as Arrow-batched pandas functions via
``mapInPandas``. PNG (pipeline/png.py), baseline JPEG
(pipeline/jpeg.py), GIF (pipeline/gif.py), WAV, and MJPEG-AVI video
(pipeline/avi.py) decode for REAL — pure stdlib+numpy codecs, no
imaging library needed. Other formats (WebP, temporally-compressed
video) remain deterministic fakes / null-degrading fallbacks behind the
same tested Spark plumbing (schema, batching, partition shape);
swapping in PIL/pyav later changes ONE function body.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"


def _fake_decode_image(data: bytes) -> tuple[int, int]:
    """Deterministic stand-in for formats without a real decoder here
    (WebP/…): derives a fake (width, height) from the byte content.
    Replace with PIL.Image.open when available."""
    if data is None:
        return (0, 0)
    h = len(data)
    return (64 + h % 512, 64 + (h * 7) % 512)


_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _decode_dims(data: bytes) -> tuple[int, int]:
    """REAL decode for PNG (IHDR, pipeline/png.py), JPEG (SOF,
    pipeline/jpeg.py), and GIF (screen descriptor, pipeline/gif.py)
    payloads; deterministic fake for other formats.
    Corrupt/truncated headers in a web corpus degrade to the fake —
    they must never fail the whole mapInPandas stage."""
    if data is not None:
        b = bytes(data)
        try:
            if b.startswith(_PNG_MAGIC):
                from tablite_spark.pipeline.png import png_header
                w, h, _ = png_header(b)
                return (w, h)
            if b.startswith(_JPEG_MAGIC):
                from tablite_spark.pipeline.jpeg import jpeg_header
                w, h, _ = jpeg_header(b)
                return (w, h)
            if b.startswith(_GIF_MAGICS):
                from tablite_spark.pipeline.gif import gif_header
                return gif_header(b)
        except Exception:
            pass
    return _fake_decode_image(data)


def decode_images(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Populate width/height via mapInPandas (Arrow batches).

    PNG and baseline-JPEG payloads decode for REAL (stdlib+numpy
    codecs); other formats fall back to the documented deterministic
    fake until a decoder library is available. Plumbing (schema
    preservation, batch iteration, null payloads) is identical either
    way.
    """
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != media_col] + [
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ])

    other_cols = [f.name for f in df.schema.fields if f.name != media_col]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = pdf[media_col].map(
                lambda m: _decode_dims(m["data"] if m is not None else None))
            res = pdf[other_cols].copy()
            res["width"] = [d[0] for d in dims]
            res["height"] = [d[1] for d in dims]
            yield res

    return df.mapInPandas(batches, schema=out_schema)


def extract_image_features(df: DataFrame, media_col: str = "media",
                           dim: int = 8) -> DataFrame:
    """Image features as array<float>: PNG and baseline-JPEG payloads
    decode for REAL (stdlib+numpy codecs) to a per-channel mean +
    normalized luminance histogram; other payloads get the
    deterministic byte-histogram stand-in. Real models plug into the
    same mapInPandas shape."""
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != media_col] + [
            T.StructField("features", T.ArrayType(T.FloatType())),
        ])
    other_cols = [f.name for f in df.schema.fields if f.name != media_col]

    def _pixel_features(px) -> list[float]:
        """Per-channel mean + normalized luminance histogram from a
        decoded (H, W, C) uint8 array — shared by PNG and JPEG."""
        import numpy as np
        px = px.astype(np.float64)
        means = px.reshape(-1, px.shape[2]).mean(axis=0) / 255.0
        lum = px.mean(axis=2).ravel()
        n_hist = max(dim - len(means), 1)
        hist, _ = np.histogram(lum, bins=n_hist, range=(0.0, 255.0))
        vec = list(means) + list(hist / max(lum.size, 1))
        return [float(v) for v in (vec + [0.0] * dim)[:dim]]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for m in pdf[media_col]:
                data = m["data"] if m is not None else None
                if not data:
                    feats.append([0.0] * dim)
                    continue
                data = bytes(data)
                try:  # corrupt/unsupported payloads: byte-hist fallback
                    if data.startswith(_PNG_MAGIC):
                        from tablite_spark.pipeline.png import png_decode
                        feats.append(_pixel_features(png_decode(data)))
                        continue
                    if data.startswith(_JPEG_MAGIC):
                        from tablite_spark.pipeline.jpeg import jpeg_decode
                        feats.append(_pixel_features(jpeg_decode(data)))
                        continue
                    if data.startswith(_GIF_MAGICS):
                        from tablite_spark.pipeline.gif import gif_decode
                        feats.append(_pixel_features(gif_decode(data)))
                        continue
                except Exception:
                    pass
                buckets = [0] * dim
                for byte in data:
                    buckets[byte % dim] += 1
                total = float(len(data))
                feats.append([b / total for b in buckets])
            res = pdf[other_cols].copy()
            res["features"] = feats
            yield res

    return df.mapInPandas(batches, schema=out_schema)


_RIFF_MAGIC = b"RIFF"


def wav_header(data: bytes) -> tuple[int, int, int, int]:
    """(sample_rate, channels, bits, duration_ms) from a RIFF/WAVE
    header — the public WAV container layout, stdlib struct only."""
    import struct
    if not data or data[:4] != _RIFF_MAGIC or data[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, rate, ch, bits, data_len = 12, None, None, None, None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if tag == b"fmt ":
            _, ch, rate, _, _, bits = struct.unpack(
                "<HHIIHH", data[pos + 8:pos + 24])
        elif tag == b"data":
            data_len = length
        pos += 8 + length + (length & 1)
    if not rate or not ch or not bits or data_len is None:
        raise ValueError("incomplete WAV header")
    n_frames = data_len // (ch * bits // 8)
    return rate, ch, bits, n_frames * 1000 // rate


def wav_encode(samples, sample_rate: int = 16_000) -> bytes:
    """Encode int16 mono PCM samples as a WAV byte string (stdlib)."""
    import struct

    import numpy as np
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)


def wav_samples(data: bytes):
    """(sample_rate, mono float64 samples in [-1, 1)) from a 16-bit
    PCM RIFF/WAVE payload; multi-channel audio is mean-downmixed.
    Raises on non-WAV / non-16-bit payloads (callers degrade to
    nulls, same contract as wav_header)."""
    import struct

    import numpy as np
    rate, ch, bits, _dur = wav_header(data)
    if bits != 16:
        raise ValueError(f"only 16-bit PCM supported, got {bits}")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if tag == b"data":
            raw = data[pos + 8:pos + 8 + length]
            x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
            if ch > 1:
                x = x[: len(x) - len(x) % ch].reshape(-1, ch).mean(axis=1)
            return rate, x / 32768.0
        pos += 8 + length + (length & 1)
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
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != media_col] + [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("peak", T.DoubleType()),
            T.StructField("zero_crossings", T.LongType()),
            T.StructField("spectral_centroid_hz", T.DoubleType()),
        ])
    other_cols = [f.name for f in df.schema.fields if f.name != media_col]
    nulls = (None,) * 6

    def _features(data) -> tuple:
        try:
            rate, x = wav_samples(bytes(data))
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

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = pdf[other_cols].copy()
            feats = [_features(m["data"] if m is not None else None)
                     for m in pdf[media_col]]
            names = ("sample_rate", "duration_ms", "rms", "peak",
                     "zero_crossings", "spectral_centroid_hz")
            dtypes = ("Int32", "Int64", "Float64", "Float64",
                      "Int64", "Float64")  # nullable: None stays null
            for i, (name, dt) in enumerate(zip(names, dtypes)):
                res[name] = pd.array([f[i] for f in feats], dtype=dt)
            yield res

    return df.mapInPandas(batches, schema=out_schema)


def decode_audio(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Populate (sample_rate, channels, duration_ms) — REAL for WAV
    payloads (RIFF header parse, no audio lib needed); other formats
    raise at the row level into nulls. Same Arrow-batched mapInPandas
    shape as decode_images."""
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != media_col] + [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("duration_ms", T.LongType()),
        ])
    other_cols = [f.name for f in df.schema.fields if f.name != media_col]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rates, chans, durs = [], [], []
            for m in pdf[media_col]:
                data = m["data"] if m is not None else None
                try:
                    rate, ch, _, dur = wav_header(bytes(data))
                    rates.append(rate); chans.append(ch); durs.append(dur)
                except Exception:
                    # ValueError (not WAV), TypeError (null payload), and
                    # struct.error (truncated fmt chunk) all degrade to
                    # null rows, as documented — one bad payload must not
                    # fail the stage
                    rates.append(None); chans.append(None); durs.append(None)
            res = pdf[other_cols].copy()
            res["sample_rate"] = pd.array(rates, dtype="Int32")
            res["channels"] = pd.array(chans, dtype="Int32")
            res["duration_ms"] = pd.array(durs, dtype="Int64")
            yield res

    return df.mapInPandas(batches, schema=out_schema)


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
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != media_col] + [
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("t_ms", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_luma", T.DoubleType()),
        ])
    other_cols = [f.name for f in df.schema.fields if f.name != media_col]

    def _sample(data) -> list[tuple]:
        from tablite_spark.pipeline.avi import avi_frames, avi_header
        from tablite_spark.pipeline.jpeg import jpeg_decode
        null_row = (None, None, None, None, None)
        if not data:
            return [null_row]
        try:
            data = bytes(data)
            w, h, n, fps, _dur = avi_header(data)
            step = max(1, int(round(every_ms * fps / 1000.0)))
            wanted = set(range(0, n, step))
            rows = []
            for i, payload in enumerate(avi_frames(data)):
                if i not in wanted:
                    continue
                t_ms = int(round(i * 1000.0 / fps))
                try:
                    px = jpeg_decode(payload)
                    luma = float(px.astype("float64").mean())
                    rows.append((i, t_ms, px.shape[1], px.shape[0], luma))
                except Exception:
                    rows.append((i, t_ms, None, None, None))
            return rows or [null_row]
        except Exception:
            return [null_row]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {c: [] for c in other_cols}
            for extra in ("frame_idx", "t_ms", "width", "height",
                          "mean_luma"):
                out[extra] = []
            for _, row in pdf.iterrows():
                m = row[media_col]
                frames = _sample(m["data"] if m is not None else None)
                for fr in frames:
                    for c in other_cols:
                        out[c].append(row[c])
                    for name, v in zip(("frame_idx", "t_ms", "width",
                                        "height", "mean_luma"), fr):
                        out[name].append(v)
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=out_schema)


def resize_images(df: DataFrame, media_col: str = "media",
                  width: int = 64, height: int = 64,
                  out_format: str = "jpeg",
                  quality: int = 85) -> DataFrame:
    """REAL image resize over Arrow batches: PNG / baseline+progressive
    JPEG payloads decode through the pure-python codecs, resample to
    (width, height) with numpy box-averaging (area interpolation — the
    standard choice for downscale; upscale degenerates to
    nearest-repeat of the fractional box), and re-encode as
    ``out_format`` ("jpeg" or "png"). The media struct is REPLACED
    (new data/mime/width/height); undecodable or null payloads yield a
    null media struct rather than failing the batch — at corpus scale
    a poison payload must never kill the job.

    Plan: one mapInPandas pass, scan-local, zero shuffles — the
    standard multimodal-preprocessing shape (decode + transform +
    encode per Arrow batch)."""
    import numpy as np

    from tablite_spark.pipeline.jpeg import jpeg_decode, jpeg_encode
    from tablite_spark.pipeline.png import png_decode, png_encode

    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != media_col] + [
            T.StructField(media_col, T.StructType([
                T.StructField("data", T.BinaryType()),
                T.StructField("mime", T.StringType()),
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
            ])),
        ])
    other_cols = [f.name for f in df.schema.fields if f.name != media_col]

    def _box_resize(px: "np.ndarray") -> "np.ndarray":
        h, w = px.shape[:2]
        if px.ndim == 2:
            px = px[:, :, None]
        # area mapping: output pixel (y, x) averages the source box
        # [y*h/H, (y+1)*h/H) x [x*w/W, (x+1)*w/W)
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

    def _one(m):
        if m is None or m["data"] is None:
            return None
        data = bytes(m["data"])
        try:
            if data[:8] == b"\x89PNG\r\n\x1a\n":
                px = png_decode(data)
            elif data[:2] == b"\xff\xd8":
                px = jpeg_decode(data)
            else:
                return None
            px = _box_resize(px)
            if out_format == "png":
                enc, mime = png_encode(px), "image/png"
            else:
                enc, mime = jpeg_encode(px, quality=quality), "image/jpeg"
            return {"data": enc, "mime": mime,
                    "width": width, "height": height}
        except Exception:
            return None

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = pdf[other_cols].copy()
            res[media_col] = pdf[media_col].map(_one)
            yield res

    return df.mapInPandas(batches, schema=out_schema)


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

    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != media_col] + [
            T.StructField(media_col, T.StructType([
                T.StructField("data", T.BinaryType()),
                T.StructField("mime", T.StringType()),
                T.StructField("sample_rate", T.IntegerType()),
                T.StructField("duration_ms", T.IntegerType()),
            ])),
        ])
    other_cols = [f.name for f in df.schema.fields if f.name != media_col]

    def _one(m):
        if m is None or m["data"] is None:
            return None
        try:
            rate, x = wav_samples(bytes(m["data"]))
            if rate == target_rate:
                y = x
            else:
                n_out = max(int(round(len(x) * target_rate / rate)), 1)
                t_out = np.arange(n_out) * (rate / target_rate)
                y = np.interp(t_out, np.arange(len(x)), x)
            pcm = np.clip(np.round(y * 32768.0), -32768, 32767)
            data = wav_encode(pcm.astype("<i2"), target_rate)
            return {"data": data, "mime": "audio/wav",
                    "sample_rate": target_rate,
                    "duration_ms": len(y) * 1000 // target_rate}
        except Exception:
            return None

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            res = pdf[other_cols].copy()
            res[media_col] = pdf[media_col].map(_one)
            yield res

    return df.mapInPandas(batches, schema=out_schema)
