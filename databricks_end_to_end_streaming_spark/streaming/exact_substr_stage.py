"""Incremental corpus-internal ExactSubstr removal — the streaming twin
of ``operators/suffix.py::exact_substr_removal`` (Lee et al. 2022 §4.1),
completing the one dedup family that still lacked an accumulated-index
stage (cross-batch repeated spans are invisible to any per-batch run).

Why an L-gram index is EXACT here, not an approximation: the batch
operator cuts position p iff p lies inside some repeated span of
length >= min_len. Every repeated span of length >= L contains, over
each of its positions, a width-EXACTLY-L window that is itself repeated
(any subwindow of a repeated span is repeated); conversely a repeated
L-window IS a repeated span of length >= L. So the cut-coverage set at
threshold L is precisely "positions covered by some L-token window that
occurs at >= 2 distinct (doc, off) sites in the corpus" — a property a
persisted L-gram fingerprint relation can maintain incrementally. The
suffix array is only needed for VARIABLE-length profiling
(sa_repeated_span_stats' span-length statistics); the cut itself
factorizes through fixed-L windows, which is what makes the incremental
form tractable (Lee et al.'s own released tool exploits the same
equivalence when it re-scans for matches of the minimal length).

Per micro-batch (``exact_substr_batch``):

* hash every width-``min_len`` token window of the batch's docs
  (normalized token space — the same ``doc_token_arrays`` the batch
  operator uses) — map-only;
* candidates = batch windows grouped with themselves (new-vs-new) plus
  accumulated-index rows matching a batch hash (new-vs-seen; the batch
  hash set broadcasts over the index scan, so history never re-pairs
  against itself — the ppjoin_stage/phash_stage discipline);
* candidate occurrences are VERIFIED by their actual token windows
  (old docs' windows re-sliced via a per-doc grouped fetch), so the
  hash is pure blocking and the semantics stay string-exact;
* every occurrence of a verified duplicated window — in the batch AND
  retroactively in older documents (all copies are cut: the released
  ExactSubstr policy) — appends a cut row (doc_id, off) under the
  ``ParquetTable.append_batch`` replay protocol;
* the batch's (doc_id, off, h) window fingerprints join the index.

The product is the FOLD VIEW ``cleaned_from_log``: per ingested doc,
the union of logged cut spans applied through the SAME
``apply_cut_spans`` reconstruction the batch operator uses — so the
drained view equals ``exact_substr_removal`` over the union corpus
bit-for-bit (tests/test_exact_substr_stage.py asserts md5-level
equality), including documents whose spans only became duplicated when
a later batch delivered the second copy.

100 TB shape: the index is 3 longs + an int per token position — the
same O(positions) budget as Lee et al.'s suffix array (no window
STRINGS are persisted; strings exist only transiently per batch for
verification). Per batch: one map pass over the batch, one broadcast-
filtered index scan (matching-mass flows on, not the index), window
re-slicing bounded by candidate occurrences, and dictionary-sized
group-bys on the verified window strings. Nothing corpus-quadratic;
nothing corpus-sized collected. Preconditions: doc_id is unique across
the stream (same contract as every other dedup stage), and ONE
``min_len`` configuration per table set — the gram index is
width-specific, so mixing widths would break candidate detection; the
cut log stamps each row's ``min_len`` so the fold at least can never
silently disagree with the width the batches ran at.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.suffix import (
    apply_cut_spans,
    doc_token_arrays,
    gram_occurrences,
    window_expr,
)
from ..pin import pin
from .medallion import drain, foreach_writer
from .sinks import ParquetTable, exclude_batch

DEFAULT_MIN_LEN = 8


def exact_substr_batch(
    batch_df: DataFrame,
    docs_table: ParquetTable,
    gram_table: ParquetTable,
    cuts_table: ParquetTable,
    batch_id: int,
    min_len: int = DEFAULT_MIN_LEN,
    text_col: str = "text",
) -> None:
    """One micro-batch through the incremental cut. Callable directly so
    pytest can drive replays without a streaming query."""
    spark = batch_df.sparkSession
    batch_df.persist()
    try:
        arrays = pin(doc_token_arrays(batch_df, text_col))
        new_occ = pin(gram_occurrences(arrays, min_len))

        occ_cols = ["doc_id", "off", "gram"]
        all_occ = new_occ.select(*occ_cols)
        if gram_table.exists():
            # new-vs-seen: the BATCH hash set broadcasts over the index
            # (strictly older batches — replay-safe); only matching
            # index rows flow on. Their window strings are re-sliced
            # from the stored docs (per-doc grouped fetch) so equality
            # is decided on tokens, never on the 64-bit hash.
            seen = exclude_batch(
                gram_table.read(spark), batch_id, gram_table.path
            )
            old_occ = seen.join(
                F.broadcast(new_occ.select("h").distinct()), "h"
            ).select("doc_id", "off")
            old_docs = exclude_batch(
                docs_table.read(spark), batch_id, docs_table.path
            ).select("doc_id", text_col)
            need = old_docs.join(
                old_occ.select("doc_id").distinct(), "doc_id"
            )
            fetched = (
                old_occ.groupBy("doc_id")
                .agg(F.collect_list("off").alias("offs"))
                .join(doc_token_arrays(need, text_col), "doc_id")
                .select(
                    "doc_id",
                    F.explode(
                        F.transform(
                            "offs",
                            lambda o: F.struct(
                                o.alias("off"),
                                window_expr(o, min_len).alias("gram"),
                            ),
                        )
                    ).alias("x"),
                )
                .select("doc_id", "x.off", "x.gram")
            )
            all_occ = all_occ.unionByName(fetched)

        # a window duplicated anywhere in the union = >= 2 distinct
        # (doc, off) occurrences; occurrence rows are unique by
        # construction (doc_id unique across the stream, index rows
        # appended exactly once), so count(*) is the occurrence count
        dup = (
            all_occ.groupBy("gram")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") >= 2)
            .select("gram")
        )
        covered = all_occ.join(dup, "gram").select("doc_id", "off")
        if cuts_table.exists():
            # emit only NEW coverage: already-logged (doc, off) rows
            # would fold away anyway, but re-emitting every prior cut
            # each batch grows the log quadratically on hot spans
            covered = covered.join(
                exclude_batch(
                    cuts_table.read(spark), batch_id, cuts_table.path
                ).select("doc_id", "off"),
                ["doc_id", "off"],
                "left_anti",
            )

        cuts_table.append_batch(
            # min_len rides on every cut row so the FOLD is
            # self-describing: cleaned_from_log derives span_end from
            # the logged width instead of trusting a second call site
            # to repeat the stage's configuration
            covered.withColumn("min_len", F.lit(min_len)),
            batch_id,
            "cuts",
        )
        gram_table.append_batch(
            new_occ.select("doc_id", "off", "h"), batch_id, "grams"
        )
        docs_table.append_batch(batch_df, batch_id, "docs")
    finally:
        batch_df.unpersist()


def cleaned_from_log(
    spark: SparkSession,
    docs_table: ParquetTable,
    cuts_table: ParquetTable,
    text_col: str = "text",
) -> DataFrame:
    """The folded view: (doc_id, n_tokens, n_removed, cleaned_text) for
    every ingested document, with the accumulated cut spans applied
    through the batch operator's own ``apply_cut_spans`` — bit-for-bit
    ``exact_substr_removal`` over the union corpus. Replays fold away:
    doc rows are deduplicated by doc_id, cut rows by (doc_id, off).
    The cut width comes from each logged row's ``min_len`` column (the
    stage stamps it), so the fold cannot silently disagree with the
    configuration the batches were driven at."""
    docs = (
        docs_table.read(spark)
        .select("doc_id", text_col)
        .dropDuplicates(["doc_id"])
    )
    arrays = pin(doc_token_arrays(docs, text_col))
    if cuts_table.exists():
        spans = (
            cuts_table.read(spark)
            .select("doc_id", "off", "min_len")
            .dropDuplicates()
            .withColumn("span_end", F.col("off") + F.col("min_len"))
            .drop("min_len")
        )
    else:
        spans = spark.createDataFrame(
            [], "doc_id long, off int, span_end int"
        )
    return apply_cut_spans(arrays, spans)


def exact_substr_stage(
    source: DataFrame,
    docs_table: ParquetTable,
    gram_table: ParquetTable,
    cuts_table: ParquetTable,
    checkpoint: str,
    min_len: int = DEFAULT_MIN_LEN,
    query_name: str = "exact_substr_incremental",
) -> None:
    """Streaming wrapper (Trigger-Once semantics, SURVEY T1)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        exact_substr_batch(
            batch_df, docs_table, gram_table, cuts_table, batch_id, min_len
        )

    drain(foreach_writer(source, process, checkpoint, query_name))
