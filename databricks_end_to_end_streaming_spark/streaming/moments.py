"""Incremental statistics via mergeable sufficient statistics.

The streaming twin of ``queries/analytics.py::corr_value_day_per_type``:
corr / regression slope / stddev are all functions of the moment vector
(n, sx, sy, sxx, syy, sxy), and moments are CELL-ADDABLE — the moments
of a union are the sums of the moments. So the stage writes one tiny
partial-moment row per (key, micro-batch) into an append-only log, and
reading aggregates the log. That gives, with no custom state store:

* exactly-once under foreachBatch replays — each batch's partials land
  under the (batch, role) token, so a replay overwrites itself instead
  of double-adding (the same T7 protocol as ingestion);
* distribution-friendliness — each micro-batch contributes a map-side
  partial aggregate (rows = distinct keys, not events), and finalize
  is an aggregate over a log whose size grows with batches, not data
  (compact the table when batch count gets large);
* exactness — moments use the corpus-standard exact-integer discipline
  (DECIMAL-cast cents), so the finalized statistics equal the batch
  query's bit-for-bit when the day origin matches.

This is the classic "algebraic aggregate as commutative monoid" design
(partial aggregation / mergeable summaries — public literature, e.g.
the mergeable-summaries line of work), applied to second moments.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .sinks import ParquetTable

MOMENT_COLS = ["n", "sx", "sy", "sxx", "syy", "sxy"]


def partial_moments(
    df: DataFrame,
    key: str,
    x: F.Column,
    y: F.Column,
) -> DataFrame:
    """Per-key moment vector of this DataFrame. ``x``/``y`` must be
    exact integer expressions (cast upstream — e.g. DECIMAL-cast cents
    and whole days) so sums are order-independent."""
    return df.select(
        F.col(key).alias("key"), x.alias("x"), y.alias("y")
    ).groupBy("key").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )


def moments_stage(
    table: ParquetTable,
    key: str,
    x: F.Column,
    y: F.Column,
):
    """foreachBatch body factory: append this batch's partial moments
    under the replay token. Wire as
    ``stream.writeStream.foreachBatch(moments_stage(...))``."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partials = partial_moments(batch_df, key, x, y)
        table.append_batch(partials, batch_id, "moments")

    return stage


def summed_moments(spark: SparkSession, table: ParquetTable) -> DataFrame:
    """Fold the partial log to one moment vector per key (the merge of
    the monoid). Log size is O(batches x keys) — compact the table when
    that gets large; the fold result is unchanged."""
    aggs = [F.sum(c).alias(c) for c in MOMENT_COLS]
    return table.read(spark).groupBy("key").agg(*aggs)


def finalize_stats(moments: DataFrame, scale: float = 1.0) -> DataFrame:
    """corr / slope / stddev from a summed moment vector — the same
    fixed IEEE expressions over exact integers as the batch query
    (``corr_value_day_per_type``), so incremental == batch. ``scale``
    divides stddev back to natural units (100.0 for cents->dollars)."""
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dyy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return moments.select(
        "key",
        "n",
        (num / (F.sqrt(dxx) * F.sqrt(dyy))).alias("corr_xy"),
        (num / dyy).alias("slope_x_per_y"),
        (F.sqrt(dxx) / (F.lit(scale) * F.col("n").cast("double"))).alias(
            "stddev_x"
        ),
    )
