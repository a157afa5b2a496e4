"""Incremental mojibake repair — the streaming twin of the repair leg
of queries/web.py::mojibake_repair_roundtrip.

Repair is per-row STATELESS (operators/encoding.py — the sloppy-cp1252
→ strict-UTF-8 round-trip depends only on the row's own bytes), so the
twin is the simplest in the repo: each micro-batch maps the shared
``fix_mojibake_col`` expression over its rows and appends under the
replay token. No cross-batch state exists to carry, so drained == batch
holds by construction for ANY batch slicing; the test pins it anyway
(the decontam_stage discipline: even "trivially stateless" stages get
the drained-equals-batch proof, because a future edit could silently
introduce state)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.encoding import MOJIBAKE_HINTS, fix_mojibake_col, mojibake_marker_count
from .medallion import drain, foreach_writer
from .sinks import ParquetTable


def encoding_repair_stage(out_table: ParquetTable):
    """foreachBatch body factory: repair this batch's ``text`` column
    (Arrow-batched, map-only) and append with before/after marker
    counts for accounting, under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        repaired = batch_df.select(
            "*",
            mojibake_marker_count("text", MOJIBAKE_HINTS).alias(
                "markers_before"
            ),
        ).withColumn("text", fix_mojibake_col("text"))
        out_table.append_batch(
            repaired.withColumn(
                "markers_after", mojibake_marker_count("text", MOJIBAKE_HINTS)
            ),
            batch_id,
            "repaired",
        )

    return stage


def repaired_from_log(
    spark: SparkSession,
    out_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """The accumulated repaired corpus (prequential with
    ``up_to_batch``)."""
    df = out_table.read(spark, up_to_batch=up_to_batch)
    return df


def encoding_repair_index_stage(
    source: DataFrame,
    out_table: ParquetTable,
    checkpoint: str,
    query_name: str = "encoding_repair_incremental",
) -> None:
    """Streaming wrapper: drain available batches through the repair
    stage (Trigger-Once semantics, SURVEY T1)."""
    body = encoding_repair_stage(out_table)
    drain(foreach_writer(source, body, checkpoint, query_name))
