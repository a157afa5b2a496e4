"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing — schema, Arrow batch shape, mapInPandas
signatures, partitioning — is real and tested. The codec step decodes
real jpeg/png (Pillow) and wav (soundfile), with stdlib fallbacks so
BOTH real image and real audio formats are exercised in EVERY
environment, this container included: 8/16-bit PCM WAV via the `wave`
module and 8-bit non-interlaced gray/RGB/GA/RGBA PNG via the zlib-only
decoder in `png_stdlib.py`. jpeg without Pillow raises an explicit
NotImplementedError, and the synthetic `fake/raw` format always decodes
(deterministically: bytes are the row-major buffer). mp3/mp4/webm would
additionally need pyav and always raise here. Either way the
distributed shape is identical — only the scalar `_decode_payload`
changes with the environment.

Batch-shape rationale (100 TB): media rows are large (payload-dominated),
so every operator streams Arrow record batches (mapInPandas) instead of
collecting, keeps payload columns out of projections that don't need
them, and repartitions by media_id range only when an operator (frame
sampling) explodes row counts.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..tables import spread_small_scan

MEDIA_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

_REAL_FORMATS = {"jpeg", "png", "wav", "mp3", "mp4", "webm"}


# Optional real codecs: probed once per python worker. When present,
# jpeg/png decode through Pillow and wav through soundfile; otherwise the
# explicit NotImplementedError below stays (mp3/mp4/webm additionally
# need pyav, not probed here). The distributed shape (Arrow batching,
# payload-dropping projections, post-explode repartition) is identical
# either way — only this scalar function changes.
try:  # pragma: no cover - environment-dependent
    from PIL import Image as _pil_image
except ImportError:
    _pil_image = None
try:  # pragma: no cover - environment-dependent
    import soundfile as _soundfile
except ImportError:
    _soundfile = None


def _decode_payload(payload: bytes, meta: dict) -> np.ndarray:
    """Decode a media payload to an ndarray: real jpeg/png/wav when the
    optional codec libraries are installed, deterministic `fake/raw`
    buffers always (bytes are the row-major pixel/sample buffer), and an
    explicit NotImplementedError for real formats without a codec."""
    fmt = (meta or {}).get("format") or "unknown"
    if fmt in ("jpeg", "png") and _pil_image is not None:
        import io

        arr = np.asarray(_pil_image.open(io.BytesIO(payload)))
        return arr if arr.ndim == 3 else arr[:, :, np.newaxis]
    if fmt == "png":
        # stdlib fallback (zlib-only minimal decoder): real 8-bit
        # gray/RGB/GA/RGBA PNGs decode in every environment; palette/
        # 16-bit/interlaced raise NotImplementedError inside and need
        # Pillow.
        from .png_stdlib import decode_png

        return decode_png(payload)
    if fmt == "wav":
        import io

        if _soundfile is not None:
            samples, _rate = _soundfile.read(io.BytesIO(payload), dtype="int16")
            if samples.ndim == 1:
                samples = samples[:, np.newaxis]
            return samples[:, np.newaxis, :]  # (n_samples, 1, channels)
        # stdlib fallback: the `wave` module reads PCM WAV with no
        # third-party dependency, so at least one REAL media format is
        # exercised in every environment. Sample conversion matches
        # soundfile's int16 convention (u8 -> (x-128)<<8).
        import wave as _wave

        with _wave.open(io.BytesIO(payload), "rb") as wf:
            n_ch = wf.getnchannels()
            width = wf.getsampwidth()
            raw = wf.readframes(wf.getnframes())
        if width == 2:
            samples = np.frombuffer(raw, dtype="<i2").astype(np.int16)
        elif width == 1:
            u8 = np.frombuffer(raw, dtype=np.uint8).astype(np.int16)
            samples = (u8 - 128) << 8
        else:
            raise NotImplementedError(
                f"stdlib WAV fallback handles 8/16-bit PCM; {8 * width}-bit "
                "needs soundfile"
            )
        return samples.reshape(-1, n_ch)[:, np.newaxis, :]
    if fmt in _REAL_FORMATS:
        raise NotImplementedError(
            f"decoding {fmt!r} requires a media library (Pillow for "
            "jpeg, pyav for mp3/mp4/webm); "
            "not installed in this environment"
        )
    if fmt != "fake/raw":
        raise ValueError(f"unknown media format {fmt!r}")
    arr = np.frombuffer(payload, dtype=np.uint8)
    w, h, c = meta.get("width") or 1, meta.get("height") or 1, meta.get("channels") or 1
    n = meta.get("n_frames") or 1
    return arr[: w * h * c * n].reshape((n, h, w, c) if n > 1 else (h, w, c))


def make_fake_payload(media_id: int, meta: dict) -> bytes:
    """Deterministic synthetic payload for tests/fixtures: a seeded byte
    pattern sized to the metadata."""
    w, h, c = meta.get("width") or 1, meta.get("height") or 1, meta.get("channels") or 1
    n = meta.get("n_frames") or 1
    size = w * h * c * n
    seed = hashlib.blake2b(str(media_id).encode(), digest_size=8).digest()
    reps = size // len(seed) + 1
    return (seed * reps)[:size]


def image_feature_stats(media: DataFrame) -> DataFrame:
    """Per-image intensity features (mean/std/min/max + a 4-bin
    histogram) — the 'feature-extract' stage of a multimodal pipeline.
    Arrow-batched; output drops the payload so downstream stages shuffle
    small rows.

    Stats are derived from exact integer moments (sum, sum-of-squares):
    the moments are order-independent and mergeable (a distributed
    re-aggregation over shards gives identical results), and the final
    mean/std are a fixed IEEE expression over exact integers, so any
    engine evaluating the same formula reproduces them bit-for-bit
    (population std: sqrt(E[x^2] - E[x]^2))."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("mean_intensity", T.DoubleType()),
            T.StructField("std_intensity", T.DoubleType()),
            T.StructField("min_intensity", T.IntegerType()),
            T.StructField("max_intensity", T.IntegerType()),
            T.StructField("histogram", T.ArrayType(T.LongType())),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            rows = []
            for media_id, payload, m in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                arr = _decode_payload(bytes(payload), m)
                hist = np.histogram(arr, bins=4, range=(0, 256))[0]
                n = arr.size
                sx = int(arr.sum(dtype=np.int64))
                sx2 = int((arr.astype(np.int64) ** 2).sum())
                mean = sx / n
                std = math.sqrt(max(0.0, sx2 / n - (sx / n) * (sx / n)))
                rows.append(
                    {
                        "media_id": media_id,
                        "mean_intensity": mean,
                        "std_intensity": std,
                        "min_intensity": int(arr.min()),
                        "max_intensity": int(arr.max()),
                        "histogram": hist.tolist(),
                    }
                )
            yield pd.DataFrame(rows)

    return spread_small_scan(media, "media_id").mapInPandas(mapper, out_schema)


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize on the fake raster (a real impl swaps in
    PIL.Image.resize). Payload in, payload out — same media schema, new
    meta dims."""

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                meta = dict(row["meta"])
                arr = _decode_payload(bytes(row["payload"]), meta)
                c = meta.get("channels") or 1
                ys = (np.arange(out_h) * arr.shape[0] // out_h).astype(int)
                xs = (np.arange(out_w) * arr.shape[1] // out_w).astype(int)
                resized = arr[ys][:, xs]
                meta.update(width=out_w, height=out_h, channels=c)
                rows.append(
                    {
                        "media_id": row["media_id"],
                        "kind": row["kind"],
                        "payload": resized.tobytes(),
                        "meta": meta,
                    }
                )
            yield pd.DataFrame(rows)

    return spread_small_scan(media, "media_id").mapInPandas(mapper, MEDIA_SCHEMA)


def sample_video_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Explode videos into every-k-th frame rows (media_id, frame_idx,
    frame payload, meta) — the frame-sampling stage. Output rows multiply
    by n_frames/k, so the operator repartitions afterwards to rebalance."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
            T.StructField("meta", MEDIA_META),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                meta = dict(row["meta"])
                frames = _decode_payload(bytes(row["payload"]), meta)
                if frames.ndim != 4:
                    frames = frames[np.newaxis, ...]
                for idx in range(0, frames.shape[0], every_k):
                    frame_meta = dict(meta, n_frames=1)
                    rows.append(
                        {
                            "media_id": row["media_id"],
                            "frame_idx": idx,
                            "frame": frames[idx].tobytes(),
                            "meta": frame_meta,
                        }
                    )
            yield pd.DataFrame(rows)

    sampled = spread_small_scan(
        media.where(F.col("kind") == "video"), "media_id"
    ).mapInPandas(mapper, out_schema)
    # rebalance: frame explosion skews partition sizes by video length
    return sampled.repartition("media_id")


def decode_stub(payload: bytes, meta: dict) -> np.ndarray:
    """Public entry to the stubbed decoder (tests + documentation)."""
    return _decode_payload(payload, meta)


def _sniff_header(payload: bytes) -> dict:
    """Container-header metadata by magic bytes — NO decode: PNG IHDR,
    JPEG SOF marker scan, RIFF/WAVE chunk walk. Returns the MEDIA_META
    fields (None where the container doesn't carry the field) plus the
    detected format, or format='unknown' for unrecognized bytes. Pure
    stdlib, so every real container is exercised in every environment —
    unlike full decode, which needs codec libraries for jpeg."""
    import struct

    out = {
        "width": None, "height": None, "channels": None,
        "sample_rate": None, "n_frames": None, "format": "unknown",
    }
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 26:
        # IHDR is mandatory-first: width/height BE u32 at 16/20,
        # bit depth at 24, color type at 25
        w, h = struct.unpack(">II", payload[16:24])
        color_type = payload[25]
        out.update(
            width=w, height=h, format="png", n_frames=1,
            channels={0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type),
        )
        return out
    if payload[:2] == b"\xff\xd8":
        # JPEG: walk marker segments to the first SOF (C0-C3, C5-C7,
        # C9-CB, CD-CF): precision u8, height/width BE u16, components
        out["format"] = "jpeg"
        i = 2
        sof = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
               0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
        while i + 4 <= len(payload) and payload[i] == 0xFF:
            marker = payload[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            if marker == 0xDA:  # start-of-scan: entropy data follows
                break
            seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
            if marker in sof and i + 9 <= len(payload):
                h, w = struct.unpack(">HH", payload[i + 5:i + 9])
                out.update(
                    width=w, height=h, n_frames=1,
                    channels=payload[i + 9] if i + 9 < len(payload) else None,
                )
                break
            i += 2 + seg_len
        return out
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        # chunk walk (chunk order is NOT fixed by the spec): 'fmt ' for
        # channels/rate/width, 'data' for byte length -> frame count
        out["format"] = "wav"
        i, n_ch, bytes_per, data_len = 12, None, None, None
        while i + 8 <= len(payload):
            cid = payload[i:i + 4]
            clen = struct.unpack("<I", payload[i + 4:i + 8])[0]
            if cid == b"fmt " and i + 24 <= len(payload):
                n_ch, rate = struct.unpack("<HI", payload[i + 10:i + 16])
                bits = struct.unpack("<H", payload[i + 22:i + 24])[0]
                bytes_per = max(1, bits // 8)
                out.update(channels=n_ch, sample_rate=rate)
            elif cid == b"data":
                data_len = clen
            i += 8 + clen + (clen & 1)  # chunks are word-aligned
        if n_ch and bytes_per and data_len is not None:
            out["n_frames"] = data_len // (n_ch * bytes_per)
        return out
    return out


def sniff_media_meta(media: DataFrame) -> DataFrame:
    """(media_id, kind, declared meta, sniffed meta): container-header
    metadata for every payload WITHOUT decoding — the realistic corpus-
    profiling pass at 100 TB, where you want dimension/duration
    distributions and declared-vs-actual mismatch flags over petabytes
    of media but would never pay full decode for them. Arrow-batched
    mapInPandas; headers live in the first KB, payloads never shuffle
    (the operator is map-side only — zero exchanges), and the output
    drops the payload column entirely."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("meta", MEDIA_META),
            T.StructField("sniffed", MEDIA_META),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                sniffed = _sniff_header(bytes(r["payload"] or b""))
                rows.append(
                    {
                        "media_id": r["media_id"],
                        "kind": r["kind"],
                        "meta": r["meta"],
                        "sniffed": sniffed,
                    }
                )
            yield pd.DataFrame(rows)

    return spread_small_scan(media, "media_id").mapInPandas(mapper, out_schema)
