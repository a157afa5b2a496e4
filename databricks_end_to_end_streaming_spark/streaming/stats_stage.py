"""Streaming twins of the r10 statistics quartet — Benford first-digit
audit, Cramér's V association, Spearman trend, and two-sample KS drift
(VERDICT r10 task 2). Completes the incremental story of the drift/
association family: PSI and chi² already fold from the contingency log
(``streaming/drift.py``); these four fold from the SAME count monoids:

- **Benford** and **Cramér's V** literally reuse
  ``drift.contingency_stage`` — the bin expression is the only thing
  that changes (first significant digit / epoch-day weekday, the exact
  column expressions shared with the batch queries). Finalizing folds
  the (key, bin, o) log and routes it through the batch queries' own
  scoring cores, so a drained stream reproduces the registered query
  bit-for-bit.
- **KS** reads a value-granularity contingency log (bin = the raw
  value) split at a reference batch — the ``psi_drift`` protocol: base
  = cells from batches <= ``reference_batch``, actual = later. Scoring
  is ``ks_over_period_value_counts``, the batch query's exact integer
  ECDF core.
- **Spearman** appends (key, us, value, m) count partials — an exact
  sufficient statistic because the batch query's x tie-break is
  (us, value, event_id), making same-(us, value) points interchangeable
  for every rank sum (the closed forms in
  ``queries/analytics.py::spearman_over_uv_counts``). The log is a
  count monoid, NOT an event log: values repeating within a µs
  collapse, and replays dedup under the token.

All four finalize through the batch cores, so drained == batch
bit-for-bit regardless of how micro-batches sliced the corpus
(tests/test_stats_stage.py), and every append is idempotent under the
replay-token contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..pin import pin
from .sinks import ParquetTable


# ------------------------------------------------------------- Benford


def benford_stage(table: ParquetTable):
    """foreachBatch body: append this batch's (key, digit, o) first-
    digit counts (rows with value >= 1, the batch audit's domain)
    under the replay token."""
    from ..queries.analytics import benford_first_digit
    from .drift import contingency_stage

    inner = contingency_stage(table, "event_type", benford_first_digit())

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        inner(batch_df.where(F.col("value") >= 1), batch_id)

    return stage


def benford_audit(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """(event_type, n_values, benford_chi2_stat) from the accumulated
    digit log — identical arithmetic to the batch audit (shared
    core)."""
    from ..queries.analytics import benford_over_digit_counts
    from .drift import summed_contingency

    obs = (
        summed_contingency(spark, table, up_to_batch)
        .select(
            F.col("key").alias("event_type"),
            F.col("bin_lo").alias("digit"),
            "o",
        )
        .transform(pin)
    )
    return benford_over_digit_counts(obs)


# ---------------------------------------------------------- Cramér's V


def cramers_stage(table: ParquetTable):
    """foreachBatch body: append this batch's (event_type, weekday, o)
    contingency cells under the replay token."""
    from ..queries.analytics import weekday_bin
    from .drift import contingency_stage

    return contingency_stage(table, "event_type", weekday_bin())


def cramers_v_assoc(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """(n, r, c, chi2, cramers_v) from the accumulated contingency log
    — identical arithmetic to the batch query (shared core)."""
    from ..queries.analytics import cramers_v_over_contingency
    from .drift import summed_contingency

    obs = summed_contingency(spark, table, up_to_batch).transform(pin)
    return cramers_v_over_contingency(obs)


# -------------------------------------------------------------- KS


def ks_value_stage(table: ParquetTable):
    """foreachBatch body: append this batch's (event_type, value, o)
    value-frequency counts — the KS sufficient statistic (the ECDF is
    a prefix sum of value counts) — under the replay token."""
    from .drift import contingency_stage

    return contingency_stage(table, "event_type", F.col("value"))


def ks_drift(
    spark: SparkSession,
    table: ParquetTable,
    reference_batch: int,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Two-sample KS of the post-reference window against the reference
    window, from the accumulated value-count log — the ``psi_drift``
    reference-batch protocol with the batch query's exact integer ECDF
    core, so a stream drained in the batch query's period split
    reproduces ``ks_test_value_drift`` bit-for-bit."""
    from ..queries.analytics import ks_over_period_value_counts

    log = table.read(spark, up_to_batch=up_to_batch)
    counts = (
        log.groupBy("key", "bin_lo")
        .agg(
            F.sum(
                F.when(F.col("_batch_id") <= reference_batch, F.col("o"))
                .otherwise(F.lit(0))
            ).alias("c1"),
            F.sum(
                F.when(F.col("_batch_id") > reference_batch, F.col("o"))
                .otherwise(F.lit(0))
            ).alias("c2"),
        )
        .select(
            F.col("key").alias("event_type"),
            F.col("bin_lo").alias("value"),
            "c1",
            "c2",
        )
        .transform(pin)
    )
    return ks_over_period_value_counts(counts)


def robust_stats_from_log(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """Exact median / MAD / trimmed mean from the SAME value-count log
    the KS monitor reads (``ks_value_stage``) — one log, two monitors:
    the fold collapses to (type, value, cnt) and scores through
    ``robust_over_value_counts``, the batch query's exact core."""
    from ..queries.analytics import robust_over_value_counts

    log = table.read(spark, up_to_batch=up_to_batch)
    vc = (
        log.groupBy("key", "bin_lo")
        .agg(F.sum("o").alias("cnt"))
        .select(
            F.col("key").alias("event_type"),
            F.col("bin_lo").alias("value"),
            "cnt",
        )
        .transform(pin)
    )
    return robust_over_value_counts(vc)


# -------------------------------------------------------------- CUSUM


def cusum_stage(table: ParquetTable):
    """foreachBatch body: append this batch's (event_type, hour, cents)
    exact-int hourly sums under the replay token — the CUSUM sum
    monoid (queries/analytics.py::hourly_cents)."""
    from ..queries.analytics import hourly_cents

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        table.append_batch(hourly_cents(batch_df), batch_id, "hourlycents")

    return stage


def cusum_from_log(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """CUSUM level-shift scores from the accumulated hourly-cents log —
    folds the sum monoid, then scores through the batch query's exact
    core (drained == batch bit-for-bit)."""
    from ..queries.analytics import cusum_over_hourly_cents

    log = table.read(spark, up_to_batch=up_to_batch)
    hourly = (
        log.groupBy("event_type", "hour")
        .agg(F.sum("cents").alias("cents"))
        .transform(pin)
    )
    return cusum_over_hourly_cents(hourly)


def durbin_watson_from_log(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """Durbin-Watson lag-1 diagnostics from the SAME hourly-cents log
    the CUSUM monitor reads (``cusum_stage``) — one log, two
    time-series monitors (the KS/robust pairing, again)."""
    from ..queries.analytics import dw_over_hourly_cents

    log = table.read(spark, up_to_batch=up_to_batch)
    hourly = (
        log.groupBy("event_type", "hour")
        .agg(F.sum("cents").alias("cents"))
        .transform(pin)
    )
    return dw_over_hourly_cents(hourly)


# ----------------------------------------------------------- Spearman


def spearman_counts_stage(table: ParquetTable):
    """foreachBatch body: append this batch's (key, us, value, m)
    count partials under the replay token — the exact Spearman
    sufficient statistic (module docstring)."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.select(
                F.col("event_type").alias("key"),
                F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
                "value",
            )
            .groupBy("key", "us", "value")
            .agg(F.count("*").alias("m"))
        )
        table.append_batch(partials, batch_id, "uvcounts")

    return stage


def spearman_trend(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """(event_type, n, spearman_rho) from the accumulated (key, us,
    value, m) log — folds the monoid, then scores through the batch
    query's closed-form core."""
    from ..queries.analytics import spearman_over_uv_counts

    log = table.read(spark, up_to_batch=up_to_batch)
    counts = (
        log.groupBy("key", "us", "value")
        .agg(F.sum("m").alias("m"))
        .select(F.col("key").alias("event_type"), "us", "value", "m")
        .transform(pin)
    )
    return spearman_over_uv_counts(counts)
