"""Incremental ANN index maintenance — the streaming twin of
``queries/extensions.py::ann_multiprobe_lsh_topk``.

The multiprobe-LSH corpus index is an APPEND monoid: each vector's home
buckets are a pure per-row function (exact fixed-point margins,
operators/similarity.py::multiprobe_buckets), so each micro-batch
indexes ITS OWN vectors and appends bucket rows under its replay token.
A query probes the accumulated index exactly the way the batch operator
probes the one-shot corpus relation — same probe generation, same
bucket join, same exact-cosine re-rank — so the drained index answers
bit-for-bit what the batch query answers over the same corpus, and the
``up_to_batch`` as-of view is ANN over the corpus as it stood then
(index-freshness audits). Replays overwrite their own token.

Production loop at 100 TB: ingestion keeps the index current by hashing
only new vectors (map-side Arrow batches, 4 bucket rows per vector);
queries never touch raw corpus order — they broadcast ~12 bucket keys
into the index join and re-rank the candidate union.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.similarity import multiprobe_buckets
from ..queries.similarity import cosine
from .sinks import ParquetTable

ANN_DIM = 64
ANN_BITS = 8
ANN_TABLES = 4
ANN_PROBES = 3


def ann_index_stage(table: ParquetTable, vec_col: str = "embedding"):
    """foreachBatch body: append this batch's home-bucket index rows
    (vec_id, embedding, table_id, bucket) under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        part = (
            multiprobe_buckets(
                batch_df, vec_col, ANN_DIM, ANN_BITS, ANN_TABLES, 1
            )
            .select("vec_id", vec_col, F.explode("probes").alias("p"))
            .select("vec_id", vec_col, "p.table_id", "p.bucket")
        )
        table.append_batch(part, batch_id, "annindex")

    return stage


def ann_topk_from_index(
    spark: SparkSession,
    table: ParquetTable,
    queries: DataFrame,
    k: int = 5,
    up_to_batch: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, score) against the accumulated
    index — the batch operator's exact answer over the indexed corpus
    as of ``up_to_batch``."""
    index = table.read(spark, up_to_batch=up_to_batch)
    # a replayed/duplicated index row must not double a candidate: the
    # probe join is followed by the same distinct the batch op applies
    probes = (
        multiprobe_buckets(
            queries.withColumnRenamed("qv", "_qv"),
            "_qv",
            ANN_DIM,
            ANN_BITS,
            ANN_TABLES,
            ANN_PROBES,
        )
        .select("query_id", F.col("_qv").alias("qv"), F.explode("probes").alias("p"))
        .select("query_id", "qv", "p.table_id", "p.bucket")
    )
    pairs = (
        F.broadcast(probes)
        .join(index, ["table_id", "bucket"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qv", "vec_id", "embedding")
        .distinct()
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("qv", "embedding").alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )
