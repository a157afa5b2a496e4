"""Incremental SQ8 quantizer calibration — the streaming twin of
``queries/similarity.py::sq8_embedding_quantization``.

A serving stack that compresses vectors to int8 needs its per-dimension
min/max calibration to stay current as embeddings stream in. Those
extremes are a fold MONOID (min of mins, max of maxs), so each
micro-batch appends ONE d-row stats partial under its replay token (the
moments/DSIR/BM25/boilerplate/domain log protocol); finalizing folds the
log and runs the SAME ``sq8_coded`` core the batch query uses — a
drained stream reproduces the batch codes AND the exact reconstruction
error bit-for-bit, regardless of batch slicing, and replays never move
an extreme (min/max are idempotent under re-application, but the token
protocol keeps the LOG clean too).

State is d rows per batch — dimension-sized, never corpus-sized. The
prequential ``up_to_batch`` view exposes calibration drift: a dimension
whose range keeps widening is exactly the dimension whose old codes are
degrading, which is the signal to requantize (codes are comparable only
under one calibration epoch).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.similarity import sq8_coded, sq8_dim_stats, sq8_fp_coords
from .medallion import drain, foreach_writer
from .sinks import ParquetTable


def sq8_stats_stage(stats_table: ParquetTable):
    """foreachBatch body factory: append this batch's d-row min/max
    partial under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        stats_table.append_batch(
            sq8_dim_stats(sq8_fp_coords(batch_df)), batch_id, "dimstats"
        )

    return stage


def sq8_stats_from_log(
    spark: SparkSession,
    stats_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Folded (i, mn, mx) calibration from the accumulated partials.
    With ``up_to_batch`` only batches <= that id contribute — the
    calibration-epoch / drift-inspection view."""
    log = stats_table.read(spark, up_to_batch=up_to_batch)
    return log.groupBy("i").agg(
        F.min("mn").alias("mn"), F.max("mx").alias("mx")
    )


def sq8_quantize_with_log(
    corpus: DataFrame,
    spark: SparkSession,
    stats_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Quantize ``corpus`` under the streamed calibration — the shared
    ``sq8_coded`` core with folded stats, so when the log has drained
    the same corpus this equals the batch query bit-for-bit."""
    return sq8_coded(
        corpus, stats=sq8_stats_from_log(spark, stats_table, up_to_batch)
    )


def sq8_calibration_stage(
    source: DataFrame,
    stats_table: ParquetTable,
    checkpoint: str,
    query_name: str = "sq8_calibration_incremental",
) -> None:
    """Streaming wrapper: drain available embedding batches into the
    d-row stats log (Trigger-Once semantics, SURVEY T1)."""
    drain(foreach_writer(source, sq8_stats_stage(stats_table), checkpoint, query_name))
