"""Incremental unigram-LM tokenizer — the streaming twin of
``queries/text.py::unigram_lm_piece_stats``.

The tokenizer's entire sufficient statistic is the (word, freq)
vocabulary — a COUNT MONOID (the freq of a union is the sum of freqs)
— so each micro-batch appends one vocabulary-sized partial under its
replay token, and finalizing folds the log by addition and re-runs the
deterministic learner (``operators/unigram_lm.py``: hard-EM with exact
big-int Viterbi — a pure function of the folded vocabulary, no
randomness, no float reductions). Drained == batch bit-for-bit follows
from (fold-invariance of the vocabulary) x (determinism of the
learner); tests/test_unigram_lm_stage.py asserts it against the
registered query on arbitrary 3-way corpus slices, plus replay
idempotence.

This is the production shape for continuously-retrained tokenizers at
100 TB: new documents update the vocabulary by ADDITION (word-typed
partials, never corpus-sized; no history rescan), and retraining reads
the folded vocabulary — orders of magnitude smaller than the corpus —
rather than the corpus itself. The ``up_to_batch`` view answers "what
would the tokenizer have been as of batch N" (tokenizer-drift audits:
diff piece inventories across as-of views).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..pin import pin
from .sinks import ParquetTable


def vocab_stage(table: ParquetTable, text_col: str = "text"):
    """foreachBatch body: append this batch's (word, freq) vocabulary
    partial under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.select(
                F.explode(F.split(F.trim(text_col), " +")).alias("word")
            )
            .where(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").alias("freq"))
        )
        table.append_batch(partial, batch_id, "vocab")

    return stage


def folded_vocab(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """Merge the partial log to one (word, freq) row per word; with
    ``up_to_batch``, only batches <= that id contribute."""
    log = table.read(spark, up_to_batch=up_to_batch)
    return log.groupBy("word").agg(F.sum("freq").alias("freq"))


def unigram_piece_stats_from_log(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """(piece, piece_len, n_words, corpus_count) from the accumulated
    vocabulary log — re-learns the model from the folded vocabulary and
    scores through ``piece_stats``, the batch query's exact core."""
    from ..operators.unigram_lm import piece_stats

    return piece_stats(pin(folded_vocab(spark, table, up_to_batch)))


def frozen_viterbi_stats_from_log(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """(piece, piece_len, n_words, corpus_count) under the FROZEN seed
    model with division-scored Viterbi — the streaming twin of the
    hash-oracled ``unigram_frozen_viterbi_stats`` (r12), sharing the
    vocabulary log with the EM twin above: the frozen pipeline is a
    pure function of the folded (word, freq) vocabulary too (seed model
    -> double-Viterbi -> stats, all deterministic), so drained == batch
    bit-for-bit by the same fold-invariance x determinism argument."""
    from ..operators.unigram_lm import frozen_piece_stats

    return frozen_piece_stats(pin(folded_vocab(spark, table, up_to_batch)))
