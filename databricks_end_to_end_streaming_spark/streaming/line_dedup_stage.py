"""Incremental CCNet line dedup — the streaming twin of
queries/dedup.py::dedup_lines_first_occurrence.

First-occurrence line dedup is order-DEPENDENT state: a line is kept the
first time it is ever seen and dropped forever after. The incremental
shape is the accumulated-index pattern (phash_stage / bloom_stage): the
stage persists the set of line hashes already kept; each micro-batch

* ranks its own segments (within-batch first occurrence — one window
  over md5(seg), exactly the batch query's window),
* probes the index for its hashes only: the BATCH hash set broadcasts
  into a semi-join against the index, and the (batch-sized) matching
  slice broadcasts back onto the batch. The corpus-sized index is
  never shuffled per trigger,
* keeps segments that are first-in-batch AND absent from the index,
  appends the kept hashes to the index and the reassembled documents
  to the output — both under the (batch_id, role) replay token.

Parity contract: drained == the batch query when micro-batches arrive in
doc_id order (the batch semantics rank occurrences by (doc_id, seg_idx),
so an out-of-order arrival legitimately changes WHICH copy is kept —
n_kept totals still agree; the test pins both facts). Replay safety:
index probes see only STRICTLY OLDER batches, so a replayed batch cannot
drop its own half-written lines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..queries.dedup import cleaned_lines_doc, line_segments
from .medallion import drain, foreach_writer
from .sinks import LOG_COLUMNS, ParquetTable


def line_dedup_batch(
    batch_df: DataFrame,
    out_table: ParquetTable,
    index_table: ParquetTable,
    batch_id: int,
) -> None:
    """One micro-batch of (doc_id, text) through the incremental line
    dedup. Callable directly so pytest can drive slicing and replays."""
    spark = batch_df.sparkSession
    segs = line_segments(batch_df).withColumn("h", F.md5("seg"))
    w = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    flagged = segs.withColumn("first_in_batch", F.row_number().over(w) == 1)

    if index_table.exists():
        index = index_table.read(spark, up_to_batch=batch_id - 1)
        batch_hashes = flagged.select("h").distinct()
        seen = (
            index.join(F.broadcast(batch_hashes), "h", "leftsemi")
            .select("h")
            .distinct()
            .withColumn("_seen", F.lit(True))
        )
        flagged = flagged.join(F.broadcast(seen), "h", "left")
    else:
        flagged = flagged.withColumn("_seen", F.lit(None).cast("boolean"))

    flagged = flagged.withColumn(
        "kept", F.col("first_in_batch") & F.col("_seen").isNull()
    ).persist()
    try:
        out_table.append_batch(
            cleaned_lines_doc(flagged.select("doc_id", "seg_idx", "seg", "kept")),
            batch_id,
            "cleaned",
        )
        index_table.append_batch(flagged.where("kept").select("h"), batch_id, "index")
    finally:
        flagged.unpersist()


def line_dedup_stage(out_table: ParquetTable, index_table: ParquetTable):
    """foreachBatch body factory (see line_dedup_batch)."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        line_dedup_batch(batch_df, out_table, index_table, batch_id)

    return stage


def cleaned_from_log(
    spark: SparkSession,
    out_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """The accumulated cleaned corpus (prequential with ``up_to_batch``)."""
    return out_table.read(spark, up_to_batch=up_to_batch).drop(*LOG_COLUMNS)


def line_dedup_index_stage(
    source: DataFrame,
    out_table: ParquetTable,
    index_table: ParquetTable,
    checkpoint: str,
    query_name: str = "line_dedup_incremental",
) -> None:
    """Streaming wrapper: drain available batches (Trigger-Once, SURVEY
    T1) through the incremental line dedup."""
    body = line_dedup_stage(out_table, index_table)
    drain(foreach_writer(source, body, checkpoint, query_name))
