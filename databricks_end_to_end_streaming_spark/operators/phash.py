"""Perceptual image near-duplicate detection: aHash / dHash signatures
(the classic average-hash and difference-hash from the public pHash
family; see also Zauner 2010, "Implementation and Benchmarking of
Perceptual Image Hash Functions") + banded Hamming pairing.

Completes the multimodal dedup story: text near-dup has MinHash/LSH,
SimHash and PPJoin; images get the standard perceptual-hash pipeline —
decode -> grayscale -> fixed tiny grid -> 64-bit signature — which is
invariant to resizing and global brightness shifts BY CONSTRUCTION
(aHash thresholds each cell against the image's own mean; dHash keeps
only the sign of adjacent-cell differences), so a re-encoded, resized
or brightness-shifted copy lands within a few Hamming bits of the
original.

Determinism discipline: decode goes through the environment-portable
``_decode_payload`` (stdlib PNG/WAV/fake-raw here, Pillow when
present); grayscale is exact integer ITU-R BT.601 luma
((299R + 587G + 114B) // 1000); the grid is block-MEAN downscaling
with integer floor boundaries and the threshold comparisons are
integer cross-multiplications (cell * n_cells > grid_sum) — no float
anywhere, so the signatures are bit-identical across hosts and the
pytest NumPy twin reproduces them exactly.

100 TB shape: hashing streams Arrow record batches (mapInPandas) and
drops the payload immediately — downstream shuffles carry 2 longs per
image; pairing reuses the generic banded Hamming self-join
(operators/simhash.py::hamming_neardup_pairs): 4 x 16-bit chunks,
pairs within Hamming <= 3 guaranteed by pigeonhole, never O(n^2).
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

GRID = 8  # aHash grid; dHash uses GRID rows x (GRID+1) cols
PHASH_BITS = GRID * GRID  # 64


def _to_gray(arr: np.ndarray) -> np.ndarray:
    """Exact integer BT.601 luma (//1000) for >=3 channels; channel 0
    for gray/gray+alpha. int64 2-D output."""
    if arr.ndim == 2:
        arr = arr[:, :, np.newaxis]
    a = arr.astype(np.int64)
    if a.shape[2] >= 3:
        return (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    return a[:, :, 0]


def _grid_means(
    gray: np.ndarray, out_h: int, out_w: int
) -> tuple[np.ndarray, np.ndarray]:
    """Block-mean downscale to (out_h, out_w) with integer floor
    boundaries; every block is non-empty (hi = max(lo+1, ...)), so
    images smaller than the grid effectively nearest-neighbor
    upsample. Returns the exact integer (block_sums, block_areas)
    pair — the cell mean is sum/area as a RATIONAL, which callers
    compare by cross-multiplication so no float ever rounds a bit.

    Vectorized via an exact int64 INTEGRAL IMAGE (one cumsum pass, then
    each block sum is 4 lookups) — same values as the per-block loop it
    replaces (summing ints in any order is exact), but the per-frame
    cost no longer scans pixels per cell; this is what makes the video
    path's ~n_frames x 2 grids per clip affordable (r9 bench:
    video_temporal_neardup was mapInPandas-CPU-bound here). Possibly-
    overlapping upsample blocks are handled for free by the lookup
    form."""
    h, w = gray.shape
    if h == 0 or w == 0:
        # degenerate frame: the replaced per-block loop produced all-zero
        # sums AND areas (empty slices) and hashing proceeded — keep that
        # contract instead of raising inside the Arrow mapper
        z = np.zeros((out_h, out_w), dtype=np.int64)
        return z, z.copy()
    integ = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(gray.astype(np.int64), axis=0, out=integ[1:, 1:])
    np.cumsum(integ[1:, 1:], axis=1, out=integ[1:, 1:])
    y0 = np.arange(out_h, dtype=np.int64) * h // out_h
    x0 = np.arange(out_w, dtype=np.int64) * w // out_w
    y1 = np.maximum(y0 + 1, np.append(y0[1:], h))
    x1 = np.maximum(x0 + 1, np.append(x0[1:], w))
    sums = (
        integ[np.ix_(y1, x1)]
        - integ[np.ix_(y0, x1)]
        - integ[np.ix_(y1, x0)]
        + integ[np.ix_(y0, x0)]
    )
    areas = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return sums, areas


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def ahash_dhash(arr: np.ndarray) -> tuple[int, int]:
    """(ahash, dhash) signed-int64 signatures of one decoded image.
    aHash bit (i*8+j): grid mean > image-grid mean, compared exactly by
    cross-multiplication. dHash bit: cell mean > right neighbor's,
    cross-multiplied likewise (sum_l * area_r > sum_r * area_l)."""
    if arr.ndim == 4:  # multi-frame: hash frame 0
        arr = arr[0]
    gray = _to_gray(arr)
    s, a = _grid_means(gray, GRID, GRID)
    # mean_ij > global mean  <=>  s_ij * sum(a) * ... ; with equal-area
    # comparison unavailable (areas vary), cross-multiply through the
    # global rational mean: s_ij/a_ij > S/A  <=>  s_ij*A > S*a_ij
    S, A = int(s.sum()), int(a.sum())
    ah = 0
    for i in range(GRID):
        for j in range(GRID):
            if int(s[i, j]) * A > S * int(a[i, j]):
                ah |= 1 << (i * GRID + j)
    sd, ad = _grid_means(gray, GRID, GRID + 1)
    dh = 0
    for i in range(GRID):
        for j in range(GRID):
            if int(sd[i, j]) * int(ad[i, j + 1]) > int(sd[i, j + 1]) * int(
                ad[i, j]
            ):
                dh |= 1 << (i * GRID + j)
    return _signed64(ah), _signed64(dh)


def perceptual_hashes(media: DataFrame) -> DataFrame:
    """(media_id, ahash, dhash) over the media schema — Arrow-batched,
    payload dropped on output."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("ahash", T.LongType()),
            T.StructField("dhash", T.LongType()),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload, m in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                arr = _decode_payload(bytes(payload), m)
                ah, dh = ahash_dhash(arr)
                rows.append({"media_id": media_id, "ahash": ah, "dhash": dh})
            yield pd.DataFrame(rows)

    return spread_small_scan(media, "media_id").mapInPandas(mapper, out_schema)


FRAME_IDX_BITS = 20  # composite frame id: (media_id << 20) | frame_idx


def frame_hashes(media: DataFrame) -> DataFrame:
    """(media_id, frame_idx, ahash, dhash): one perceptual-hash row PER
    FRAME of every multi-frame payload (single-frame media yields frame 0)
    — the video extension of ``perceptual_hashes``. Arrow-batched
    mapInPandas; payload drops at the hash, so downstream carries 2 longs
    per frame, never pixels."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("ahash", T.LongType()),
            T.StructField("dhash", T.LongType()),
        ]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload, m in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                frames = _decode_payload(bytes(payload), m)
                if frames.ndim != 4:
                    frames = frames[np.newaxis, ...]
                for idx in range(frames.shape[0]):
                    ah, dh = ahash_dhash(frames[idx])
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_idx": idx,
                            "ahash": ah,
                            "dhash": dh,
                        }
                    )
            yield pd.DataFrame(rows)

    return spread_small_scan(media, "media_id").mapInPandas(mapper, out_schema)


def video_neardup_pairs(
    media: DataFrame,
    sig: str = "dhash",
    max_hamming: int = 3,
    min_aligned_frac: float = 0.6,
) -> DataFrame:
    """Video near-duplicate pairs by TEMPORAL ALIGNMENT VOTE over the
    per-frame perceptual hashes — hash, then vote (see
    ``video_pairs_from_frame_hashes`` for the vote semantics and scale
    shape)."""
    return video_pairs_from_frame_hashes(
        frame_hashes(media),
        sig=sig,
        max_hamming=max_hamming,
        min_aligned_frac=min_aligned_frac,
    )


def video_pairs_from_frame_hashes(
    fh: DataFrame,
    sig: str = "dhash",
    max_hamming: int = 3,
    min_aligned_frac: float = 0.6,
) -> DataFrame:
    """Video near-duplicate pairs by TEMPORAL ALIGNMENT VOTE from a
    (media_id, frame_idx, ahash, dhash) relation: two videos pair when
    >= ``min_aligned_frac`` of the shorter video's frames match the
    other video's frames (per-frame Hamming <= ``max_hamming``) at one
    consistent frame OFFSET — which is what survives re-encoding
    (per-frame perceptual invariance) and truncation/trimming (a cut
    clip aligns at a fixed shift), while coincidental single-frame
    matches (shared title cards, black frames) fail the vote. Taking
    the hash RELATION (not media) lets the streaming signature log
    (streaming/videohash_stage.py) share the exact batch semantics.

    Shape: per-frame hashes pack into composite ids
    ((media_id << 20) | frame_idx — guarded per row: an id outside
    0 <= media_id < 2^43 or frame_idx >= 2^20 raises instead of
    silently bleeding frame bits into media bits; the raise_error sits
    INSIDE the fid expression so Catalyst cannot prune it), the generic
    banded Hamming self-join generates FRAME-pair candidates (never
    O(n^2)), and the vote is two partial-agg groupBys on (video_a,
    video_b, offset) — alignment counting never touches pixels. Returns
    (media_a, media_b, offset, aligned_frames, min_frames,
    aligned_frac)."""
    n_frames = fh.groupBy("media_id").agg(
        F.countDistinct("frame_idx").alias("nf")
    )
    in_bounds = (
        (F.col("media_id") >= 0)
        & (F.col("media_id") < F.lit(1 << (63 - FRAME_IDX_BITS)))
        & (F.col("frame_idx") >= 0)
        & (F.col("frame_idx") < F.lit(1 << FRAME_IDX_BITS))
    )
    packed = F.shiftleft(F.col("media_id"), FRAME_IDX_BITS) + F.col(
        "frame_idx"
    )
    fid = F.when(in_bounds, packed).otherwise(
        F.raise_error(
            F.concat(
                F.lit("composite frame id out of range: media_id="),
                F.col("media_id"),
                F.lit(" frame_idx="),
                F.col("frame_idx"),
            )
        ).cast("long")
    )
    sigs = fh.select(fid.alias("fid"), sig)
    fp = hamming_neardup_pairs(
        sigs,
        id_col="fid",
        sig_col=sig,
        bits=PHASH_BITS,
        n_chunks=4,
        max_hamming=max_hamming,
    )
    mask = (1 << FRAME_IDX_BITS) - 1
    decomposed = fp.select(
        F.shiftright(F.col("fid_a"), FRAME_IDX_BITS).alias("ma"),
        F.col("fid_a").bitwiseAND(F.lit(mask)).alias("ia"),
        F.shiftright(F.col("fid_b"), FRAME_IDX_BITS).alias("mb"),
        F.col("fid_b").bitwiseAND(F.lit(mask)).alias("ib"),
    ).where(F.col("ma") != F.col("mb"))
    # fid_a < fid_b and media packs the high bits, so ma < mb always:
    # pairs arrive pre-normalized
    votes = decomposed.groupBy(
        F.col("ma").alias("media_a"),
        F.col("mb").alias("media_b"),
        (F.col("ib") - F.col("ia")).alias("offset"),
    ).agg(F.countDistinct("ia").alias("aligned_frames"))
    best = votes.groupBy("media_a", "media_b").agg(
        F.max(
            F.struct(
                F.col("aligned_frames"), (-F.col("offset")).alias("_neg")
            )
        ).alias("_best")
    ).select(
        "media_a",
        "media_b",
        (-F.col("_best._neg")).alias("offset"),
        F.col("_best.aligned_frames").alias("aligned_frames"),
    )
    na = n_frames.select(
        F.col("media_id").alias("media_a"), F.col("nf").alias("_na")
    )
    nb = n_frames.select(
        F.col("media_id").alias("media_b"), F.col("nf").alias("_nb")
    )
    return (
        best.join(na, "media_a")
        .join(nb, "media_b")
        .select(
            "media_a",
            "media_b",
            "offset",
            "aligned_frames",
            F.least("_na", "_nb").cast("long").alias("min_frames"),
            (
                F.col("aligned_frames")
                / F.least("_na", "_nb").cast("double")
            ).alias("aligned_frac"),
        )
        .where(F.col("aligned_frac") >= F.lit(min_aligned_frac))
    )


def phash_neardup_pairs(
    media: DataFrame, sig: str = "dhash", max_hamming: int = 3
) -> DataFrame:
    """(media_a, media_b, hamming): image pairs within ``max_hamming``
    bits on the chosen perceptual hash — the banded self-join, exact
    bit_count(xor) verification."""
    hashes = perceptual_hashes(media)
    return (
        hamming_neardup_pairs(
            hashes,
            id_col="media_id",
            sig_col=sig,
            bits=PHASH_BITS,
            n_chunks=4,
            max_hamming=max_hamming,
        )
        .withColumnRenamed("media_id_a", "media_a")
        .withColumnRenamed("media_id_b", "media_b")
    )
