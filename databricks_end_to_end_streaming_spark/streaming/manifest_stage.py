"""Incremental dataset manifests — the streaming twins of
``queries/analytics.py::corpus_manifest`` and
``corpus_hash_split_manifest``.

Both manifests are pure MONOIDS per group: count and chars fold by +,
id-range by min/max, and the content fingerprint by bit_xor (a group:
commutative, associative, self-inverse) — so each micro-batch appends
one per-source (or per-(source, split)) partial manifest under its
replay token, and finalizing is a single group-fold. Drained == batch
bit-for-bit is pure algebra (every column's fold is order-insensitive),
asserted on arbitrary slices in tests/test_manifest_stage.py — this
cashes the "manifests of corpus slices merge by XOR/sum/min/max, so
incremental maintenance is free" claim the batch docstrings make.

Production loop at 100 TB: every ingest batch appends a tiny partial;
the live manifest (or the as-of view at any ``up_to_batch``) reads the
log, never the corpus. A replayed batch overwrites its own token, so
the fingerprint cannot double-fold; any corruption or out-of-band edit
shows up as a manifest that stops reproducing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .sinks import ParquetTable


def _partial(batch_df: DataFrame, keys: list[str]) -> DataFrame:
    from ..queries.analytics import _content_hash60

    return batch_df.groupBy(*keys).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.bit_xor(_content_hash60()).alias("content_xor"),
    )


def _fold(log: DataFrame, keys: list[str]) -> DataFrame:
    return (
        log.groupBy(*keys)
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_chars").alias("total_chars"),
            F.min("min_doc_id").alias("min_doc_id"),
            F.max("max_doc_id").alias("max_doc_id"),
            F.bit_xor("content_xor").alias("content_xor"),
        )
        .orderBy(*keys)
    )


def manifest_stage(table: ParquetTable):
    """foreachBatch body: append this batch's per-source partial
    manifest under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        table.append_batch(_partial(batch_df, ["source"]), batch_id, "manifest")

    return stage


def corpus_manifest_from_log(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """(source, n_docs, total_chars, min_doc_id, max_doc_id,
    content_xor) — the batch query's exact output, folded from the
    partial log."""
    log = table.read(spark, up_to_batch=up_to_batch)
    return _fold(log, ["source"])


def split_manifest_stage(table: ParquetTable):
    """foreachBatch body: append this batch's per-(source, split)
    partial manifest (the hash-bucket train/val/test assignment shared
    with the batch query) under the replay token."""
    from ..queries.analytics import (
        _SPLIT_TRAIN_END,
        _SPLIT_VAL_END,
        _content_hash60,
    )

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        bucket = _content_hash60() % 100
        split = (
            F.when(bucket < _SPLIT_TRAIN_END, F.lit("train"))
            .when(bucket < _SPLIT_VAL_END, F.lit("val"))
            .otherwise(F.lit("test"))
        )
        table.append_batch(
            _partial(batch_df.withColumn("split", split), ["source", "split"]),
            batch_id,
            "splitmanifest",
        )

    return stage


def split_manifest_from_log(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """(source, split, n_docs, total_chars, content_xor) — the batch
    query's exact output columns, folded from the partial log."""
    log = table.read(spark, up_to_batch=up_to_batch)
    return _fold(log, ["source", "split"]).select(
        "source", "split", "n_docs", "total_chars", "content_xor"
    )
