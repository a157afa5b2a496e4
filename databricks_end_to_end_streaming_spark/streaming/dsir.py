"""Streaming DSIR scorer — the incremental twin of
``queries/dq.py::dsir_importance_selection``.

Both DSIR relations are mergeable monoids: per-(doc, bucket) term
frequencies and the per-bucket (cnt_r, cnt_t) distribution are sums, so
each micro-batch appends two tiny partials under its replay token (the
same protocol as moments/drift/gram). Finalizing folds the two logs and
scores through ``dsir_score_from`` — the EXACT integer expression core
the batch query uses — so a drained stream reproduces the batch scores
bit-for-bit regardless of how batches sliced the corpus
(tests/test_dsir_stream.py asserts equality against ``dsir_scores``).

This is the production shape for DSIR at 100 TB ingest: the target/raw
bucket distribution accumulates as new data streams in, and any
document's score can be (re)computed against the freshest distribution
without rescanning history — the 256-row distribution IS the state.
The prequential ``up_to_batch`` view scores early documents under the
distribution as of any batch, the paper's "estimate on a sample, apply
to the stream" deployment mode made incremental.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..queries.dq import dsir_bigram_buckets, dsir_score_from
from ..pin import pin
from .sinks import ParquetTable


def dsir_stage(tf_table: ParquetTable, bucket_table: ParquetTable, target: Column):
    """foreachBatch body factory: extract this batch's bigram buckets
    ONCE (pinned — two consumers), append per-(doc, bucket) tf partials
    and per-bucket distribution partials under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        # One explode per batch: pin the COLLAPSED (doc, bucket) tf, not
        # the bigram stream, and derive the distribution partial from it
        # (same single-scan shape as the batch dsir_scores).
        tf3 = (
            dsir_bigram_buckets(batch_df, target)
            .groupBy("doc_id", "is_target", "b")
            .agg(F.count("*").alias("tf"))
            .transform(pin)
        )
        doc_tf = tf3.drop("is_target")
        buckets = (
            tf3.groupBy("b")
            .agg(
                F.sum("tf").alias("cnt_r"),
                F.sum(
                    F.when(F.col("is_target"), F.col("tf")).otherwise(F.lit(0))
                ).alias("cnt_t"),
            )
        )
        tf_table.append_batch(doc_tf, batch_id, "doctf")
        bucket_table.append_batch(buckets, batch_id, "buckets")

    return stage


def dsir_scores_from_log(
    spark: SparkSession,
    tf_table: ParquetTable,
    bucket_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """(doc_id, dsir_score) from the accumulated partial logs — shared
    scoring core, so drained == batch bit-for-bit. With ``up_to_batch``
    only batches <= that id contribute (prequential trajectory)."""
    tf_log = tf_table.read(spark, up_to_batch=up_to_batch)
    bucket_log = bucket_table.read(spark, up_to_batch=up_to_batch)
    doc_tf = tf_log.groupBy("doc_id", "b").agg(F.sum("tf").alias("tf"))
    buckets = bucket_log.groupBy("b").agg(
        F.sum("cnt_r").alias("cnt_r"), F.sum("cnt_t").alias("cnt_t")
    )
    return dsir_score_from(doc_tf, buckets)
