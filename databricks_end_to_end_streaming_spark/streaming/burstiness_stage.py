"""Incremental token burstiness — the streaming twin of
``queries/text.py::token_burstiness_topk``.

Per-token moments (document frequency, total count, per-doc
sum-of-squares) are sums over DOCUMENTS, and a document never straddles
micro-batches, so per-batch partials are a plain sum monoid: each batch
appends its (w, df, total, ssq) relation under the replay token, plus a
1-row doc-count partial (N enters the Fano algebra). The read side
folds the log and applies the IDENTICAL exact algebra the batch query
uses (var/mean = S/T - T/N), so drained == batch bit-for-bit for any
slicing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.text import BURSTY_MIN_DF, BURSTY_TOP_K
from .sinks import ParquetTable


def burstiness_stage(table: ParquetTable):
    """foreachBatch body factory: append this batch's per-token moment
    partials and its doc count."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        tc = (
            batch_df.select(
                "doc_id", F.explode(F.split(F.trim("text"), " +")).alias("w")
            )
            .groupBy("doc_id", "w")
            .agg(F.count("*").alias("c"))
        )
        partials = tc.groupBy("w").agg(
            F.count("*").alias("df"),
            F.sum("c").alias("total"),
            F.sum(F.col("c") * F.col("c")).alias("ssq"),
        )
        # both roles store _batch_id ahead of _n_docs: the stamp here
        # holds its column slot, and append_batch re-stamps it in place
        table.append_batch(
            partials.withColumn("_batch_id", F.lit(batch_id)).withColumn(
                "_n_docs", F.lit(None).cast("long")
            ),
            batch_id,
            "moments",
        )
        n = batch_df.agg(F.count("*").alias("_n_docs")).select(
            F.lit(None).cast("string").alias("w"),
            F.lit(None).cast("long").alias("df"),
            F.lit(None).cast("long").alias("total"),
            F.lit(None).cast("long").alias("ssq"),
            F.lit(batch_id).alias("_batch_id"),
            "_n_docs",
        )
        table.append_batch(n, batch_id, "ndocs")

    return stage


def burstiness_from_log(
    spark: SparkSession,
    table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Batch-identical top-k burstiness over the folded moment log
    (prequential with ``up_to_batch``)."""
    log = table.read(spark, up_to_batch=up_to_batch)
    mom = (
        log.where(F.col("w").isNotNull())
        .groupBy("w")
        .agg(
            F.sum("df").alias("df"),
            F.sum("total").alias("total"),
            F.sum("ssq").alias("ssq"),
        )
    )
    n = log.where(F.col("w").isNull()).agg(
        F.sum("_n_docs").alias("n_docs")
    )
    fano = (
        F.col("ssq").cast("double") / F.col("total")
        - F.col("total").cast("double") / F.col("n_docs")
    )
    return (
        mom.crossJoin(F.broadcast(n))
        .where(F.col("df") >= BURSTY_MIN_DF)
        .select(F.col("w").alias("token"), "df", "total", fano.alias("fano"))
        .orderBy(F.desc("fano"), "token")
        .limit(BURSTY_TOP_K)
    )
