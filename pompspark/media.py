"""Multimodal (image/audio/video) column plumbing over binary payloads.

A 100 TB crawl carries media alongside html: this module provides the
Spark-side plumbing — typed metadata schema, Arrow-batched decode /
feature-extract / resize / frame-sample stages over ``binary`` columns
via mapInPandas. The codec layer is pluggable: ``ppm_bmp_decoder`` is
a REAL numpy-only decoder for uncompressed formats (binary PPM,
24/32-bit BMP — no codec library required, works in this container);
compressed formats (jpeg/png/video) take an injected PIL/turbojpeg/
ffmpeg-backed callable on a real cluster (the default stub raises
with install guidance), and ``fake_image_decoder`` is a deterministic
stand-in for plumbing tests.

No pomp analog — pomp is text-only; this extends the item pipeline
(BasePipeline) the way a training-data crawler needs.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("media_type", T.StringType()),   # image|audio|video
    T.StructField("mime", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("decode_error", T.StringType()),
])


def default_image_decoder(payload: bytes) -> dict:  # pragma: no cover
    raise NotImplementedError(
        "no image codec in this container — on a real cluster inject a "
        "PIL/turbojpeg-backed decoder: decoder(payload) -> "
        "{'mime','width','height','pixels': np.ndarray}"
    )


def ppm_bmp_decoder(payload: bytes) -> dict:
    """REAL decoder for uncompressed raster formats — binary PPM (P6)
    and 24/32-bit uncompressed BMP — implemented with numpy only (no
    codec library needed, so it works in this container). Compressed
    formats (jpeg/png/...) still need an injected PIL/turbojpeg decoder
    on a real cluster. Returns grayscale pixels (luma, uint8)."""
    if not payload:
        raise ValueError("empty payload")
    if payload[:2] == b"P6":
        # P6 <ws> width <ws> height <ws> maxval <single-ws> raster
        parts: list[int] = []
        i = 2
        while len(parts) < 3:
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":  # comment to EOL
                while i < len(payload) and payload[i] != 0x0A:
                    i += 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            parts.append(int(payload[i:j]))
            i = j
        i += 1  # the single whitespace after maxval
        w, h, maxval = parts
        if maxval > 255:
            raise ValueError("16-bit PPM unsupported")
        raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
        rgb = raster.reshape(h, w, 3).astype(np.float32)
        luma = (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2])
        return {"mime": "image/x-portable-pixmap", "width": w, "height": h,
                "pixels": luma.astype(np.uint8)}
    if payload[:2] == b"BM":
        import struct

        off = struct.unpack_from("<I", payload, 10)[0]
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        if hdr_size < 40:
            raise ValueError("BMP core header unsupported")
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        comp = struct.unpack_from("<I", payload, 30)[0]
        if comp != 0 or bpp not in (24, 32):
            raise ValueError(f"BMP bpp={bpp} comp={comp} unsupported")
        flip = h > 0
        h = abs(h)
        nb = bpp // 8
        stride = (w * nb + 3) & ~3
        rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h,
                             offset=off).reshape(h, stride)
        px = rows[:, : w * nb].reshape(h, w, nb)[..., :3].astype(np.float32)
        if flip:
            px = px[::-1]
        # BMP stores BGR
        luma = 0.299 * px[..., 2] + 0.587 * px[..., 1] + 0.114 * px[..., 0]
        return {"mime": "image/bmp", "width": w, "height": h,
                "pixels": luma.astype(np.uint8)}
    raise ValueError("unsupported format (only P6 PPM / uncompressed BMP "
                     "decode without a codec library; inject a decoder)")


def default_audio_decoder(payload: bytes) -> dict:  # pragma: no cover
    raise NotImplementedError(
        "no audio codec in this container — on a real cluster inject a "
        "soundfile/ffmpeg-backed decoder: decoder(payload) -> "
        "{'mime','sample_rate','samples': np.ndarray (mono float32)}"
    )


def wav_pcm_decoder(payload: bytes) -> dict:
    """REAL decoder for uncompressed RIFF/WAVE audio — PCM 8/16/32-bit
    and IEEE-float32 — numpy-only (no codec library, works in this
    container; the same trick as ``ppm_bmp_decoder``). Compressed audio
    (mp3/ogg/aac) still needs an injected decoder on a real cluster.
    Returns mono float32 samples in [-1, 1] (channels averaged)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload (inject a decoder for "
                         "compressed audio)")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_ch, rate, _byte_rate, _block, bits = fmt
    if audio_format == 1 and bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif audio_format == 1 and bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    elif audio_format == 1 and bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float32) / 2147483648.0
    elif audio_format == 3 and bits == 32:
        x = np.frombuffer(data, dtype="<f4").astype(np.float32)
    else:
        raise ValueError(f"WAV format={audio_format} bits={bits} unsupported")
    if n_ch > 1:
        x = x[: len(x) - len(x) % n_ch].reshape(-1, n_ch).mean(axis=1)
    return {"mime": "audio/wav", "sample_rate": int(rate), "samples": x}


def decode_audio(
    df: DataFrame,
    payload_col: str = "payload",
    decoder: Callable[[bytes], dict] = default_audio_decoder,
    n_feat: int = 64,
) -> DataFrame:
    """binary -> MEDIA_META columns + an ``n_feat``-window RMS-envelope
    feature vector (the audio analog of the image 8x8 mean pool). Same
    error-isolation contract as ``decode_images``: a failing row gets
    decode_error set, the task never throws."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + list(MEDIA_META.fields)
        + [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            metas = {f.name: [] for f in MEDIA_META.fields}
            rates, feats = [], []
            for payload in b[payload_col]:
                try:
                    d = decoder(bytes(payload) if payload is not None else b"")
                    x = np.asarray(d["samples"], dtype=np.float32)
                    rate = int(d["sample_rate"])
                    # n_feat-window RMS envelope (pad the tail window)
                    win = max(1, -(-len(x) // n_feat))
                    pad = np.zeros(win * n_feat, dtype=np.float32)
                    pad[: len(x)] = x[: win * n_feat]
                    env = np.sqrt((pad.reshape(n_feat, win) ** 2).mean(axis=1))
                    feats.append([float(v) for v in env])
                    rates.append(rate)
                    metas["media_type"].append("audio")
                    metas["mime"].append(d["mime"])
                    metas["width"].append(None)
                    metas["height"].append(None)
                    metas["n_frames"].append(len(x))
                    metas["duration_s"].append(len(x) / rate if rate else None)
                    metas["decode_error"].append(None)
                except Exception as exc:
                    feats.append(None)
                    rates.append(None)
                    metas["media_type"].append("audio")
                    metas["mime"].append(None)
                    metas["width"].append(None)
                    metas["height"].append(None)
                    metas["n_frames"].append(None)
                    metas["duration_s"].append(None)
                    metas["decode_error"].append(str(exc))
            b = b.copy()
            for k, v in metas.items():
                b[k] = v
            b["sample_rate"] = pd.array(rates, dtype="Int32")
            b["features"] = feats
            yield b

    return df.mapInPandas(gen, schema=out_schema)


def fake_image_decoder(payload: bytes) -> dict:
    """Deterministic stand-in: derives a stable WxH and a gray ramp
    from the payload bytes. Raises on empty payload (error-path test)."""
    if not payload:
        raise ValueError("empty payload")
    w = 16 + payload[0] % 48
    h = 16 + payload[-1] % 48
    px = (np.arange(w * h, dtype=np.uint8) + payload[0]).reshape(h, w)
    return {"mime": "image/fake", "width": w, "height": h, "pixels": px}


def decode_images(
    df: DataFrame,
    payload_col: str = "payload",
    decoder: Callable[[bytes], dict] = default_image_decoder,
) -> DataFrame:
    """binary -> MEDIA_META columns + 8x8 mean-pooled feature vector.
    Error isolation: a row that fails to decode gets decode_error set,
    never a thrown task (same contract as the fetch stage)."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + list(MEDIA_META.fields)
        + [T.StructField("features", T.ArrayType(T.FloatType()))]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            metas = {f.name: [] for f in MEDIA_META.fields}
            feats = []
            for payload in b[payload_col]:
                try:
                    d = decoder(bytes(payload) if payload is not None else b"")
                    px = d["pixels"].astype(np.float32)
                    # 8x8 mean pool -> 64-dim feature
                    h, w = px.shape
                    ph, pw = max(1, h // 8), max(1, w // 8)
                    pooled = px[: ph * 8, : pw * 8].reshape(8, ph, 8, pw).mean(axis=(1, 3))
                    feats.append([float(x) for x in pooled.reshape(-1)])
                    metas["media_type"].append("image")
                    metas["mime"].append(d["mime"])
                    metas["width"].append(d["width"])
                    metas["height"].append(d["height"])
                    metas["n_frames"].append(1)
                    metas["duration_s"].append(None)
                    metas["decode_error"].append(None)
                except Exception as exc:
                    feats.append(None)
                    metas["media_type"].append("image")
                    metas["mime"].append(None)
                    metas["width"].append(None)
                    metas["height"].append(None)
                    metas["n_frames"].append(None)
                    metas["duration_s"].append(None)
                    metas["decode_error"].append(str(exc))
            b = b.copy()
            for k, v in metas.items():
                b[k] = v
            b["features"] = feats
            yield b

    return df.mapInPandas(gen, schema=out_schema)


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    every_n: int = 10,
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    (frame_idx, frame binary). The default stub derives a deterministic
    frame count from the payload; a real decoder returns actual frames."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized: np.repeat the batch rows by each row's sample
        # count, frame indices by arange arithmetic — no per-row python
        # loop (round-1 advice flagged the old iterrows walk).
        for b in batches:
            if len(b) == 0:
                continue
            payloads = b[payload_col]
            n_frames = payloads.map(
                lambda p: (p[0] if p is not None and len(p) else 0) + 1
            ).to_numpy()
            n_samples = (n_frames + every_n - 1) // every_n  # per input row
            if n_samples.sum() == 0:
                continue
            out = b.iloc[np.repeat(np.arange(len(b)), n_samples)].reset_index(drop=True)
            # frame_idx = (position within each row's run) * every_n
            ends = np.cumsum(n_samples)
            starts = ends - n_samples
            within = np.arange(ends[-1]) - np.repeat(starts, n_samples)
            out["frame_idx"] = (within * every_n).astype(np.int32)
            out["frame"] = out[payload_col].map(
                lambda p: bytes(p[:8]) if p is not None else None
            )
            yield out

    return df.mapInPandas(gen, schema=out_schema)


# magic-byte table: (hex prefix, mime). Longest prefixes first so the
# WHEN chain matches the most specific signature. All comparisons run
# on hex(substring(payload, 1, 12)) — one tiny JVM expression, so
# sniffing 10^10 payloads is a map-side projection, never Python.
MAGIC_MIMES: list[tuple[str, str]] = [
    ("3C21444F43545950", "text/html"),        # <!DOCTYP
    ("3C21646F63747970", "text/html"),        # <!doctyp
    ("52494646", "audio/wav"),                # RIFF (WAVE checked below)
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),                # GIF8
    ("25504446", "application/pdf"),          # %PDF
    ("504B0304", "application/zip"),          # PK\x03\x04
    ("1F8B", "application/gzip"),
    ("424D", "image/bmp"),                    # BM
    ("3C68746D6C", "text/html"),              # <html
    ("3C48544D4C", "text/html"),              # <HTML
    ("3C3F786D6C", "application/xml"),        # <?xml
]


def sniff_content_type(payload_col, default: str = "application/octet-stream"):
    """Content-type from magic bytes as a JVM Column expression.

    A crawler cannot trust Content-Type headers (they lie constantly);
    fetched payloads are sniffed before the extract stage so binary
    assets skip html parsing. RIFF containers disambiguate WAVE vs AVI
    by bytes 9-12. Leading whitespace/BOM before '<html' is NOT
    handled (canonical sniffing per the WHATWG algorithm scans further;
    this is the prefix subset both engines express as one hex compare).
    """
    from pyspark.sql import functions as F

    hx = F.hex(F.substring(payload_col, 1, 12))
    riff_kind = F.substring(hx, 17, 8)  # bytes 9-12 of the payload
    expr = F.lit(default)
    for prefix, mime in reversed(MAGIC_MIMES):
        if prefix == "52494646":
            mime_col = F.when(
                riff_kind == "57415645", F.lit("audio/wav")   # WAVE
            ).when(
                riff_kind == "41564920", F.lit("video/avi")   # 'AVI '
            ).otherwise(F.lit("application/octet-stream"))
            expr = F.when(hx.startswith(prefix), mime_col).otherwise(expr)
        else:
            expr = F.when(hx.startswith(prefix), F.lit(mime)).otherwise(expr)
    return expr


def html_only_middleware(payload_col: str = "html"):
    """Response middleware: keep only rows whose payload sniffs as
    text/html — the standard pre-extract gate (pomp process_response
    -> None for non-parseable responses)."""
    from pyspark.sql import functions as F

    def mw(df: DataFrame) -> DataFrame:
        return df.filter(
            sniff_content_type(F.col(payload_col)) == "text/html"
        )

    return mw
