"""Streaming uniform sampling via mergeable bottom-k-by-hash reservoirs.

The streaming twin of ``queries/dq.py``'s exact-N-per-group sampler,
built on the same deterministic primitive: rank rows by md5 of their
unique id and keep the k smallest. Bottom-k-by-hash is a MERGEABLE
summary — the bottom-k of a union is the bottom-k of the concatenated
bottom-k's — and it is a uniform sample because the hash imposes a
random-but-fixed total order on rows (public technique: bottom-k /
KMV sketches, used for both sampling and distinct-count estimation).

So the stage appends one bottom-k partial per (group, micro-batch) to
an append-only log under the replay token (exactly-once, same T7
protocol as ingestion), and finalize takes the global bottom-k over
the log. Determinism means the streaming sample over any batch split
EQUALS the one-shot batch sample over the same rows — asserted in
tests — and replays cannot change it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .sinks import LOG_COLUMNS, ParquetTable


def _ranked(df: DataFrame, group: str, id_col: str, k: int) -> DataFrame:
    w = Window.partitionBy(group).orderBy("_h", id_col)
    return (
        df.withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def sample_stage(table: ParquetTable, group: str, id_col: str, k: int):
    """foreachBatch body factory: append this batch's per-group bottom-k
    rows (by md5 of ``id_col``) under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        table.append_batch(_ranked(batch_df, group, id_col, k), batch_id, "sample")

    return stage


def finalize_sample(
    spark: SparkSession, table: ParquetTable, group: str, id_col: str, k: int
) -> DataFrame:
    """Global bottom-k per group over the partial log — the merge of the
    summary. Log rows are O(batches x groups x k); compact the table
    when batch count grows, the fold result is unchanged."""
    # per-partial bookkeeping: the hash is recomputed (deterministic)
    log = table.read(spark).drop("_h", *LOG_COLUMNS)
    return _ranked(log, group, id_col, k).drop("_h")


def _weighted_ranked(
    df: DataFrame, group: str, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Efraimidis-Spirakis A-ES ranking (2006, public algorithm): rank
    by -ln(u)/w where u is the row's deterministic md5-uniform in (0,1]
    — keeping the k SMALLEST draws a weighted sample without
    replacement, P(row first) = w_i / sum(w). Mergeable for the same
    reason as bottom-k-by-hash: the k smallest of a union are the k
    smallest of the concatenated partials. The float expression is the
    same fixed tree on every path (batch, partial, merge), so streaming
    == batch bit-for-bit; u derives from the row id, so replays can't
    redraw it."""
    # md5 prefix -> uniform in (0, 1]: (h + 1) / 2^52 over 13 hex chars
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(1 << 52))
    score = -F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(group).orderBy("_es", id_col)
    return (
        df.withColumn("_es", score)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def weighted_sample_stage(
    table: ParquetTable, group: str, id_col: str, weight_col: str, k: int
):
    """foreachBatch body factory: per-group weighted bottom-k partials
    (A-ES keys) under the replay token — the weighted twin of
    ``sample_stage`` for importance-/quality-weighted corpus sampling."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partial = _weighted_ranked(batch_df, group, id_col, weight_col, k)
        table.append_batch(partial, batch_id, "wsample")

    return stage


def finalize_weighted_sample(
    spark: SparkSession,
    table: ParquetTable,
    group: str,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Global weighted bottom-k per group over the partial log."""
    log = table.read(spark).drop("_es", *LOG_COLUMNS)
    return _weighted_ranked(log, group, id_col, weight_col, k).drop("_es")
