"""Incremental SemDeDup as a streaming stage.

Batch SemDeDup (operators/similarity.py::semdedup) re-clusters and
re-scores the whole corpus; at 100 TB ingest the quantizer FREEZES
(trained once on a sample — the paper's own deployment: k-means fits a
sample, assignment streams) and new vectors dedup incrementally: each
micro-batch is assigned to its cluster, compared against its own batch
and against the accumulated per-cluster index (strictly older batches —
replay-safe, same discipline as the MinHash band index in
dedup_stage.py), and a verdict row is appended per vector.

The index stores EVERY seen vector, kept or dropped: semantic
similarity is not transitive (a~b, b~c does not imply a~c), and the
batch drop rule — drop v iff some earlier vector within threshold —
lets an already-dropped vector still suppress later ones. Indexing only
keepers would silently diverge from the batch operator; with ids
arriving in increasing order the drained verdicts match batch semdedup
EXACTLY (tests/test_semdedup_stream.py).

Work per trigger is O(batch x cluster occupancy), never O(corpus^2);
the batch side broadcasts against the corpus-sized index so no trigger
ever shuffles the index.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import ivf_assign
from ..queries.similarity import cosine
from ..pin import pin
from .sinks import ParquetTable


def semdedup_batch(
    batch_df: DataFrame,
    index_table: ParquetTable,
    verdict_table: ParquetTable,
    centroids: np.ndarray,
    batch_id: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of (vec_id, embedding, ...) through the
    incremental dedup: assign clusters, probe the index, append verdicts
    + index rows. Callable directly so pytest can drive and replay it."""
    spark = batch_df.sparkSession
    assigned = (
        ivf_assign(batch_df.select(id_col, vec_col), centroids, vec_col, nprobe=1)
        .select(
            F.col(id_col),
            F.col("cluster_ids")[0].alias("cluster"),
            F.col(vec_col),
        )
        .transform(pin)  # consumed by 3+ branches below
    )
    left = assigned.select(
        F.col(id_col).alias("id_a"), "cluster", F.col(vec_col).alias("_va")
    )
    right = assigned.select(
        F.col(id_col).alias("id_b"), "cluster", F.col(vec_col).alias("_vb")
    )
    dropped = (
        left.join(right, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cosine("_va", "_vb") >= F.lit(threshold))
        .select(F.col("id_b").alias(id_col))
    )
    if index_table.exists():
        seen = (
            index_table.read(spark, up_to_batch=batch_id - 1)
            .select(
                F.col(id_col).alias("id_a"),
                "cluster",
                F.col(vec_col).alias("_va"),
            )
        )
        # Broadcast the BATCH side against the corpus-sized index (same
        # reasoning as the band index probe): the index streams through
        # a map-side hash join on the cluster key, never shuffling.
        hist = (
            F.broadcast(right)
            .join(seen, "cluster")
            .where(cosine("_va", "_vb") >= F.lit(threshold))
            .select(F.col("id_b").alias(id_col))
        )
        dropped = dropped.union(hist)
    dropped = dropped.distinct()
    verdicts = (
        assigned.join(
            dropped.withColumn("_dropped", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            "cluster",
            F.coalesce("_dropped", F.lit(False)).alias("dropped"),
        )
    )
    # Verdicts FIRST: they read the index (strictly older batches), and
    # on a replay the index append below overwrites this batch's own
    # partition — writing verdicts after that would re-execute the index
    # scan over deleted files (the same write-ordering discipline as
    # neardup_batch: every reader of a table flushes before the table's
    # own partition is rewritten).
    verdict_table.append_batch(verdicts, batch_id, "verdicts")
    index_table.append_batch(assigned, batch_id, "index")


def kept_vectors(spark: SparkSession, verdict_table: ParquetTable) -> DataFrame:
    """(vec_id, cluster) of every vector whose verdict is kept."""
    return (
        verdict_table.read(spark)
        .where(~F.col("dropped"))
        .select("vec_id", "cluster")
    )
