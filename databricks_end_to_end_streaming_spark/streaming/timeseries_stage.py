"""Incremental time-series pattern search — the streaming twin of
``queries/analytics.py::timeseries_pattern_topk``.

The per-batch partial is the batch's own (user_id, day, cents) daily
totals — a SUM monoid keyed by calendar date (not a corpus-relative
index, which would shift as new minimum days arrive), so partials from
any batch slicing fold to the same daily relation. Replay safety comes
from ``ParquetTable.append_batch``. The read side folds
the log through the SAME search core the batch query uses
(``ts_pattern_topk_from_daily``), which re-derives the day-zero anchor
and the corpus-week pattern from the folded totals — so a drained
stream reproduces the batch top-k bit-for-bit even when later batches
move the corpus's first day or reshape the pattern.

100 TB shape: continuous pattern tracking appends (users-in-batch x
days-in-batch) rows per trigger, never rescans history; the as-of
prequential view is one filter on the log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..queries.analytics import ts_daily_cents, ts_pattern_topk_from_daily
from .sinks import ParquetTable


def timeseries_stage(daily_table: ParquetTable):
    """foreachBatch body factory: append this batch's daily partials."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        daily_table.append_batch(ts_daily_cents(batch_df), batch_id, "tsdaily")

    return stage


def timeseries_topk_from_log(
    spark: SparkSession,
    daily_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Fold the daily-partial log into the pattern-search top-k
    (sum-merge per (user, day) happens inside the shared core).
    ``up_to_batch`` gives the prequential as-of view."""
    log = daily_table.read(spark, up_to_batch=up_to_batch)
    return ts_pattern_topk_from_daily(
        log.select("user_id", "day", "cents")
    )
