"""Incremental EXACT near-duplicate detection — the streaming twin of
``queries/dedup.py::jaccard_prefix_filter_join`` and the deterministic
counterpart of the LSH stage (dedup_stage.py): no banding miss
probability, cross-batch pairs found exactly.

The batch query orders shingles rarest-first by document frequency —
a PERFORMANCE heuristic that cannot work incrementally (df drifts as
the corpus grows, so yesterday's prefixes would stop being prefixes).
The completeness theorem only needs A consistent total order, so the
incremental index freezes the order to a uniform 60-bit hash of the
shingle (operators/kmv.py's hash): stable forever, no drift, and still
spreads blocking keys uniformly. Each micro-batch:

* builds its docs' shingle arrays ONCE and derives hash-ordered prefix
  rows (n - ceil(t*n) + 1 per doc — exact int arithmetic);
* candidates = batch-prefix self-join (new-vs-new) + broadcast probe of
  the accumulated prefix index restricted to STRICTLY OLDER batches
  (new-vs-seen; replay-safe, same discipline as dedup_stage);
* exact verification via the shared ``exact_pair_scores`` over prior
  docs (own replayed rows excluded) + the batch — candidate-restricted,
  so per-trigger work is O(batch x matching blocks), never O(corpus²).

tests/test_ppjoin_stream.py proves drained pairs == the batch exact
join bit-for-bit (both are THE exact set, so df-order vs hash-order
candidates converge), cross-batch discovery, and replay idempotence.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..operators.kmv import kmv_hash
from ..pin import pin
from ..queries.dedup import (
    PPJOIN_THRESHOLD,
    doc_shingle_arrays,
    exact_pair_scores,
    ppjoin_position_ok,
    ppjoin_prefix_len,
)
from .medallion import drain, foreach_writer
from .sinks import LOG_COLUMNS, ParquetTable


def hash_order_prefix_rows(sh_arr: DataFrame) -> DataFrame:
    """(doc_id, s) hash-ordered prefix rows from (doc_id, shingles).
    The per-doc window partitions by doc — doc-sized partitions."""
    rel = sh_arr.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("s"),
    ).withColumn("h", kmv_hash(F.col("s")))
    w = Window.partitionBy("doc_id").orderBy("h", "s")
    return (
        rel.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= ppjoin_prefix_len(F.col("n")))
        .select("doc_id", "n", "s", "rn")
    )


def exact_neardup_batch(
    batch_df: DataFrame,
    docs_table: ParquetTable,
    prefix_table: ParquetTable,
    pairs_table: ParquetTable,
    batch_id: int,
    threshold: float = PPJOIN_THRESHOLD,
) -> None:
    """One micro-batch through the incremental exact join. Callable
    directly so pytest can drive replays without a streaming query."""
    spark = batch_df.sparkSession
    batch_df.persist()
    try:
        new_prefix = hash_order_prefix_rows(doc_shingle_arrays(batch_df))

        # PPJoin length filter: size-incompatible blockmates can never
        # reach the threshold (t*|x| <= |y| <= |x|/t) — integer
        # cross-multiplication, exactness-preserving
        from ..queries.dedup import PP_DEN, PP_NUM

        size_ok = (PP_DEN * F.col("b.n") >= PP_NUM * F.col("a.n")) & (
            PP_DEN * F.col("a.n") >= PP_NUM * F.col("b.n")
        )
        # new-vs-new inside the batch
        cand = (
            new_prefix.alias("a")
            .join(
                new_prefix.alias("b"),
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & size_ok
                & ppjoin_position_ok(),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        # new-vs-seen: broadcast the BATCH side over the accumulated
        # index (strictly older batches — replay-safe)
        if prefix_table.exists():
            seen = prefix_table.read(spark, up_to_batch=batch_id - 1)
            cross = (
                F.broadcast(new_prefix.alias("n"))
                .join(
                    seen.alias("o"),
                    (F.col("n.s") == F.col("o.s"))
                    & (F.col("n.doc_id") != F.col("o.doc_id"))
                    & (PP_DEN * F.col("o.n") >= PP_NUM * F.col("n.n"))
                    & (PP_DEN * F.col("n.n") >= PP_NUM * F.col("o.n"))
                    & ppjoin_position_ok("n", "o"),
                )
                .select(
                    F.least("n.doc_id", "o.doc_id").alias("doc_a"),
                    F.greatest("n.doc_id", "o.doc_id").alias("doc_b"),
                )
                .distinct()
            )
            cand = cand.union(cross).distinct()

        # candidates consumed multiple times by the verify (two id
        # projections + the pair join) — pin once
        cand = cand.transform(pin)

        if docs_table.exists():
            prior = docs_table.read(spark, up_to_batch=batch_id - 1)
            corpus = prior.drop(*LOG_COLUMNS).unionByName(
                batch_df, allowMissingColumns=True
            )
        else:
            corpus = batch_df
        pairs = exact_pair_scores(cand, corpus).where(F.col("jaccard") >= threshold)

        pairs_table.append_batch(pairs, batch_id, "pairs")
        prefix_table.append_batch(new_prefix, batch_id, "prefix")
        docs_table.append_batch(batch_df, batch_id, "docs")
    finally:
        batch_df.unpersist()


def exact_pairs_from_log(
    spark, pairs_table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """Accumulated verified pairs (the exact near-dup set over every
    ingested document); prequential with ``up_to_batch``."""
    log = pairs_table.read(spark, up_to_batch=up_to_batch)
    return log.select(
        "doc_a", "doc_b", "n_sh_a", "n_sh_b", "overlap", "jaccard"
    )


def exact_neardup_stage(
    source: DataFrame,
    docs_table: ParquetTable,
    prefix_table: ParquetTable,
    pairs_table: ParquetTable,
    checkpoint: str,
    threshold: float = PPJOIN_THRESHOLD,
    query_name: str = "exact_neardup_incremental",
) -> None:
    """Streaming wrapper (Trigger-Once semantics, SURVEY T1)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        exact_neardup_batch(
            batch_df, docs_table, prefix_table, pairs_table, batch_id, threshold
        )

    drain(foreach_writer(source, process, checkpoint, query_name))
