"""Incremental quality-classifier training — the streaming twin of
``queries/classifier.py::quality_classifier_weights``.

The per-batch partial is the batch's own training sufficient statistics
— per-bucket signed-count class sums (s0, s1) plus the class sizes
(n0, n1), all exact int64 SUM monoids — so the fold is insensitive to
batch slicing and merge order, and a drained stream reproduces the
batch-trained weights bit-for-bit (the weights are a fixed IEEE chain
over the folded integers). Replay safety comes from
``ParquetTable.append_batch``.

Both row kinds live in one log relation: stats rows carry bucket >= 0
with n0 = n1 = 0; the class-size row carries bucket = -1 with
s0 = s1 = 0. The fold is ONE groupBy(bucket) sum either way.

100 TB shape: a batch appends <= dim + 1 rows regardless of batch size;
re-training after new data is a scan of the tiny log, never of the
corpus; scoring stays the broadcast-weights map the batch query uses.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.linear_model import (
    centroid_stats,
    centroid_weights,
    class_counts,
)
from ..queries.classifier import CLS_DIM, weak_quality_labels
from .sinks import ParquetTable


def _batch_partial(batch_df: DataFrame) -> DataFrame:
    """(bucket, s0, s1, n0, n1) sufficient-statistic rows for one batch's
    even-doc_id training half (the same deterministic split the batch
    query trains on)."""
    from ..operators.vectorize import hashed_tf_sparse

    train = batch_df.where(F.col("doc_id") % 2 == 0)
    labels = weak_quality_labels(train)
    stats = centroid_stats(hashed_tf_sparse(train, dim=CLS_DIM), labels)
    counts = class_counts(labels)
    return stats.select(
        "bucket",
        "s0",
        "s1",
        F.lit(0).cast("long").alias("n0"),
        F.lit(0).cast("long").alias("n1"),
    ).unionByName(
        counts.select(
            F.lit(-1).cast("long").alias("bucket"),
            F.lit(0).cast("long").alias("s0"),
            F.lit(0).cast("long").alias("s1"),
            "n0",
            "n1",
        )
    )


def classifier_stage(stats_table: ParquetTable):
    """foreachBatch body factory: append this batch's training
    partials (<= dim + 1 rows)."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        stats_table.append_batch(_batch_partial(batch_df), batch_id, "clsstats")

    return stage


def classifier_weights_from_log(
    spark: SparkSession,
    stats_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Fold the sufficient-statistic log into the trained weights
    relation (bucket, s0, s1, w) — bit-for-bit the batch query's output
    on the same data. ``up_to_batch`` gives the prequential as-of
    view."""
    log = stats_table.read(spark, up_to_batch=up_to_batch)
    folded = log.groupBy("bucket").agg(
        F.sum("s0").cast("long").alias("s0"),
        F.sum("s1").cast("long").alias("s1"),
        F.sum("n0").cast("long").alias("n0"),
        F.sum("n1").cast("long").alias("n1"),
    )
    stats = folded.where(F.col("bucket") >= 0).select("bucket", "s0", "s1")
    counts = folded.where(F.col("bucket") == -1).select("n0", "n1")
    return centroid_weights(stats, counts)
