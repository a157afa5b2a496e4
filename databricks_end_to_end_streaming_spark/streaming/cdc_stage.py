"""Incremental content-defined-chunk dedup accounting — the streaming
twin of ``queries/dedup.py::cdc_chunk_dedup``.

Chunk fingerprints are COUNT/SUM monoids over an append-only corpus:
each micro-batch chunks ITS OWN documents (one map-only pass of
operators/cdc.py — boundaries are content-defined, so they never depend
on what other batches contain) and appends a fingerprint-level partial
(fp, len, occ) under its replay token; finalizing folds the log by
addition and rolls the folded (fp -> occ, len) relation into the same
occurrence histogram the batch query emits. Drained == batch
bit-for-bit is pure fold algebra (md5 boundaries are deterministic
per-document); replays overwrite their own token, so a re-delivered
batch cannot double-count.

Production loop at 100 TB: every ingest batch pays one linear chunking
pass over its own documents; the standing dedup ledger is the
fingerprint-sized log, never the corpus — the live "how much of what we
just ingested is sub-document duplicate" number reads the ledger only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.cdc import cdc_chunks
from .sinks import ParquetTable


def cdc_stage(table: ParquetTable):
    """foreachBatch body: append this batch's per-fingerprint
    (len, occ) partial under the replay token. Documents are scoped to
    non-empty ASCII text exactly like the batch query."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.where(
            (F.octet_length("text") > 0)
            & (F.length("text") == F.octet_length("text"))
        )
        partial = (
            cdc_chunks(docs)
            .groupBy("fp")
            .agg(
                F.max("chunk_len").alias("len"),
                F.count("*").alias("occ"),
            )
        )
        table.append_batch(partial, batch_id, "cdc")

    return stage


def cdc_report_from_log(
    spark: SparkSession,
    table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """(occurrences, n_distinct_chunks, distinct_bytes, total_bytes) —
    the batch query's exact histogram, folded from the partial log."""
    log = table.read(spark, up_to_batch=up_to_batch)
    folded = log.groupBy("fp").agg(
        F.max("len").alias("len"), F.sum("occ").alias("occ")
    )
    return (
        folded.groupBy(F.col("occ").alias("occurrences"))
        .agg(
            F.count("*").alias("n_distinct_chunks"),
            F.sum("len").cast("long").alias("distinct_bytes"),
            F.sum(F.col("len") * F.col("occ")).cast("long").alias("total_bytes"),
        )
        .orderBy("occurrences")
    )
