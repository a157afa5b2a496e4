"""Audio near-duplicate fingerprinting: energy-delta hashing — the
sign-of-adjacent-frame-energy-difference signature (the core trick of
Haitsma & Kalker 2002, "A Highly Robust Audio Fingerprinting System",
public literature; their band-energy differences reduced to one
full-band energy per frame), over the engine's stdlib WAV decode path.

Completes the multimodal dedup story alongside the image perceptual
hashes (operators/phash.py): a re-encoded, resampled-by-truncation or
GAIN-SCALED copy of a clip keeps its frame-energy SHAPE, and the
signature keeps only the sign of adjacent-frame energy changes — gain
scales every energy by the same factor, so the bits are invariant to
volume by construction.

Determinism discipline: decode via the environment-portable
``_decode_payload`` (stdlib ``wave`` here, soundfile when present);
frame energies are exact int64 sums of squared 16-bit samples over
integer floor-boundary frames; each bit is a RATIONAL cross-multiplied
comparison (E_{i+1} * n_i > E_i * n_{i+1} — frame sample counts differ
by at most one), so no float ever rounds a bit and the pytest NumPy
twin reproduces signatures exactly.

100 TB shape: hashing streams Arrow record batches and drops the
payload immediately — 1 long per clip downstream; pairing reuses the
generic banded Hamming self-join (operators/simhash.py), 4 x 16-bit
chunks, pairs within Hamming <= 3 by pigeonhole, never O(n^2).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..tables import spread_small_scan
from .multimodal import _decode_payload
from .simhash import hamming_neardup_pairs

N_FRAMES = 65  # 64 adjacent-energy deltas -> 64-bit signature
AUDIO_BITS = N_FRAMES - 1


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def energy_delta_hash(samples: np.ndarray) -> int:
    """Signed-int64 signature of one mono-ish sample array: split into
    N_FRAMES floor-boundary frames (every frame non-empty — shorter
    clips effectively repeat samples), exact int64 energy per frame,
    bit i set iff frame i+1 is LOUDER per-sample than frame i
    (cross-multiplied by the frame sample counts)."""
    s = samples.reshape(-1).astype(np.int64)
    n = s.shape[0]
    bounds = [(i * n) // N_FRAMES for i in range(N_FRAMES)] + [n]
    e, c = [], []
    for i in range(N_FRAMES):
        lo, hi = bounds[i], max(bounds[i] + 1, bounds[i + 1])
        block = s[lo:hi]
        e.append(int((block * block).sum()))
        c.append(len(block))
    h = 0
    for i in range(AUDIO_BITS):
        if e[i + 1] * c[i] > e[i] * c[i + 1]:
            h |= 1 << i
    return _signed64(h)


def audio_hashes(media: DataFrame) -> DataFrame:
    """(media_id, audiohash) over the media schema — Arrow-batched,
    payload dropped on output. Multi-channel clips hash the sample
    buffer as decoded (channel-interleaved — deterministic and
    gain-invariant either way)."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("audiohash", T.LongType()),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload, m in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                arr = _decode_payload(bytes(payload), m)
                rows.append(
                    {
                        "media_id": media_id,
                        "audiohash": energy_delta_hash(np.asarray(arr)),
                    }
                )
            yield pd.DataFrame(rows)

    return spread_small_scan(media, "media_id").mapInPandas(mapper, out_schema)


def audio_neardup_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(media_a, media_b, hamming): clip pairs within ``max_hamming``
    bits on the energy-delta hash — banded self-join, exact
    bit_count(xor) verification."""
    return (
        hamming_neardup_pairs(
            audio_hashes(media),
            id_col="media_id",
            sig_col="audiohash",
            bits=AUDIO_BITS,  # 64: 4 x 16-bit chunks
            n_chunks=4,
            max_hamming=max_hamming,
        )
        .withColumnRenamed("media_id_a", "media_a")
        .withColumnRenamed("media_id_b", "media_b")
    )
