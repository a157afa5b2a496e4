"""Incremental video near-dup — the streaming twin of
``queries/extensions.py::video_temporal_neardup``, completing the
multimodal signature-log triple (image: phash_stage, audio:
audiohash_stage, video: this).

The per-batch partial is the batch's own (media_id, frame_idx, ahash,
dhash) rows — per-frame hashing is a pure function of the payload, so
the frame-hash LOG is slicing- and order-insensitive by construction
and replay safety comes from ``ParquetTable.append_batch``.
The read side runs the SAME temporal-alignment vote the
batch query uses (``video_pairs_from_frame_hashes``) over the folded
log, so a drained stream reproduces the batch pair list bit-for-bit;
``video_pairs_with_batch`` restricts the vote to pairs touching the
new batch's videos.

100 TB shape: a batch appends 2 longs per FRAME (pixels dropped at the
hash, never logged); the full-log pairing is the banded composite-id
self-join (never O(n^2)); the alignment vote is two partial-agg
groupBys over candidate frame pairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.phash import frame_hashes, video_pairs_from_frame_hashes
from .sinks import ParquetTable


def videohash_stage(sig_table: ParquetTable):
    """foreachBatch body factory: per-frame hash this batch's video rows
    and append the signatures (2 longs per frame)."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        sig_table.append_batch(frame_hashes(batch_df), batch_id, "videohash")

    return stage


def _folded_log(
    spark: SparkSession,
    sig_table: ParquetTable,
    up_to_batch: int | None,
) -> DataFrame:
    log = sig_table.read(spark, up_to_batch=up_to_batch)
    return log.select("media_id", "frame_idx", "ahash", "dhash").dropDuplicates(
        ["media_id", "frame_idx"]
    )


def video_pairs_from_log(
    spark: SparkSession,
    sig_table: ParquetTable,
    sig: str = "dhash",
    max_hamming: int = 3,
    min_aligned_frac: float = 0.6,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Temporal-alignment vote over the folded frame-hash log — the
    batch query's exact semantics (``up_to_batch`` gives the
    prequential as-of view)."""
    return video_pairs_from_frame_hashes(
        _folded_log(spark, sig_table, up_to_batch),
        sig=sig,
        max_hamming=max_hamming,
        min_aligned_frac=min_aligned_frac,
    )


def video_pairs_with_batch(
    spark: SparkSession,
    sig_table: ParquetTable,
    batch_id: int,
    sig: str = "dhash",
    max_hamming: int = 3,
    min_aligned_frac: float = 0.6,
) -> DataFrame:
    """Incremental serving shape: near-dup pairs involving at least one
    VIDEO from ``batch_id``. The alignment vote itself needs full
    per-pair frame agreement, so the restriction is a broadcast
    semi-filter on the pair list's video ids — history-vs-history pairs
    are dropped before they reach the caller. (Frame-level probe-vs-
    index candidate generation would change the vote's denominator for
    truncated twins whose overlap spans batches; correctness beats the
    candidate-side saving here.)"""
    pairs = video_pairs_from_log(
        spark,
        sig_table,
        sig=sig,
        max_hamming=max_hamming,
        min_aligned_frac=min_aligned_frac,
        up_to_batch=batch_id,
    )
    batch_ids = (
        sig_table.read(spark)
        .where(F.col("_batch_id") == batch_id)
        .select(F.col("media_id").alias("_bid"))
        .distinct()
    )
    return pairs.join(
        F.broadcast(batch_ids),
        (pairs["media_a"] == batch_ids["_bid"])
        | (pairs["media_b"] == batch_ids["_bid"]),
        "leftsemi",
    )
