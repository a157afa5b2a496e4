"""Incremental last-touch attribution — the streaming twin of
``queries/analytics.py::attribution_last_touch``.

State is the classic enrichment shape: the latest marketing touch per
user. Rather than overwrite a state table (replay-hazardous), the stage
appends each batch's per-user LATEST touch as a tiny partial under the
replay token; the state read folds the log with one argmax per user —
the mergeable-monoid protocol (max by (us, event_id) is associative,
commutative, idempotent), so at-least-once replays cannot corrupt it.

Per batch:

* fold the touch log (STRICTLY older batches — replay-safe) and keep
  only users present in the batch (batch user set broadcasts into a
  semi-join; the log is never shuffled whole per trigger),
* splice each user's standing touch in as one synthetic row with
  event_id = -1 (it sorts before every real event at the same µs, so
  the SAME window expressions the batch query uses —
  ``attributed_purchases`` — see it as "the last touch before the
  batch"),
* append the batch's attributed purchases and its per-user latest-touch
  partial, both token'd.

Parity contract: drained == the batch query when micro-batches arrive
in (us, event_id) order (attribution is order-dependent state: the
batch semantics credit the last touch BEFORE the purchase, so an
out-of-order touch arrival legitimately changes the credit — exactly
how a production pipeline behaves; the test pins drained == batch for
ordered slicing and the cross-batch credit/expiry cases directly).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.analytics import (
    TOUCH_TYPES,
    attributed_purchases,
    attribution_rollup,
)
from .medallion import drain, foreach_writer
from .sinks import ParquetTable


def _event_relation(batch_df: DataFrame) -> DataFrame:
    cols = set(batch_df.columns)
    us = (
        F.col("us")
        if "us" in cols
        else F.unix_micros(F.col("ts").cast("timestamp"))
    )
    return batch_df.select(
        "event_id", "user_id", "event_type", "value", us.alias("us")
    )


def latest_touch_state(
    spark: SparkSession,
    touch_table: ParquetTable,
    before_batch: int | None = None,
) -> DataFrame:
    """(user_id, touch_type, touch_us, touch_event_id): fold the touch
    log to each user's latest touch (argmax by (us, event_id) — the
    window order's tiebreak)."""
    up_to = None if before_batch is None else before_batch - 1
    log = touch_table.read(spark, up_to_batch=up_to)
    best = F.max(
        F.struct(
            F.col("touch_us"), F.col("touch_event_id"), F.col("touch_type")
        )
    ).alias("b")
    return log.groupBy("user_id").agg(best).select(
        "user_id",
        F.col("b.touch_type").alias("touch_type"),
        F.col("b.touch_us").alias("touch_us"),
        F.col("b.touch_event_id").alias("touch_event_id"),
    )


def attribution_batch(
    batch_df: DataFrame,
    out_table: ParquetTable,
    touch_table: ParquetTable,
    batch_id: int,
) -> None:
    """One micro-batch of events through the incremental attribution.
    Callable directly so pytest can drive slicing and replays."""
    spark = batch_df.sparkSession
    e = _event_relation(batch_df).persist()

    if touch_table.exists():
        state = latest_touch_state(spark, touch_table, before_batch=batch_id)
        batch_users = e.select("user_id").distinct()
        synth = (
            state.join(F.broadcast(batch_users), "user_id", "leftsemi")
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                "user_id",
                F.col("touch_type").alias("event_type"),
                F.lit(None).cast("double").alias("value"),
                F.col("touch_us").alias("us"),
            )
        )
        spliced = e.unionByName(synth)
    else:
        spliced = e

    attributed = attributed_purchases(spliced).where(F.col("event_id") >= 0)
    out_table.append_batch(attributed, batch_id, "attributed")

    is_touch = F.col("event_type").isin(*TOUCH_TYPES)
    batch_latest = (
        e.where(is_touch)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("us").alias("touch_us"),
                    F.col("event_id").alias("touch_event_id"),
                    F.col("event_type").alias("touch_type"),
                )
            ).alias("b")
        )
        .select(
            "user_id",
            F.col("b.touch_type").alias("touch_type"),
            F.col("b.touch_us").alias("touch_us"),
            F.col("b.touch_event_id").alias("touch_event_id"),
        )
    )
    try:
        touch_table.append_batch(batch_latest, batch_id, "touch")
    finally:
        e.unpersist()


def attribution_stage(out_table: ParquetTable, touch_table: ParquetTable):
    """foreachBatch body factory (see attribution_batch)."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        attribution_batch(batch_df, out_table, touch_table, batch_id)

    return stage


def attribution_from_log(
    spark: SparkSession,
    out_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Channel rollup over the accumulated attributed-purchase log —
    the batch query's exact aggregation (shared ``attribution_rollup``),
    prequential with ``up_to_batch``."""
    df = out_table.read(spark, up_to_batch=up_to_batch)
    return attribution_rollup(df.drop("_batch_id"))


def attribution_index_stage(
    source: DataFrame,
    out_table: ParquetTable,
    touch_table: ParquetTable,
    checkpoint: str,
    query_name: str = "attribution_incremental",
) -> None:
    """Streaming wrapper: drain available batches (Trigger-Once, SURVEY
    T1) through the incremental attribution."""
    body = attribution_stage(out_table, touch_table)
    drain(foreach_writer(source, body, checkpoint, query_name))
