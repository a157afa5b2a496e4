"""Incremental substring-level decontamination — the streaming twin of
``queries/dedup.py::decontaminate_exact_substr``.

Contamination is a property of (document, benchmark) alone — unlike
near-dup it does NOT depend on previously ingested documents — so the
incremental form is embarrassingly per-batch: each micro-batch runs the
union suffix array of ITS OWN docs against the standing benchmark set
and appends one accounting row per doc. The log therefore equals the
batch query's output over the union of batches row-for-row (the pytest
asserts it), replay safety comes from ``ParquetTable.append_batch``,
and there is no cross-batch state at all — the benchmark's
rank list is recomputed per batch against the batch's suffix array
(ranks are relative to the union, so they cannot be cached across
batches; the benchmark TEXT relation is the reusable input).

100 TB shape: per batch, the suffix-array bounds are batch-sized +
benchmark-sized; the appended partial is 3 longs per doc. Note the
BENCHMARK-DOMINATED PER-BATCH FLOOR: the union suffix array re-ranks
the entire benchmark text every micro-batch (ranks are union-relative,
so they cannot carry over), so for high-frequency tiny batches the
per-batch cost approaches O(benchmark), not O(batch). Acceptable when
batches are comparable to or larger than the benchmark; otherwise
coalesce upstream (a longer trigger interval / maxFilesPerTrigger) so
the benchmark re-ranking amortizes over more new documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..queries.dedup import decontam_accounting
from .sinks import ParquetTable


def decontam_stage(acc_table: ParquetTable, bench: DataFrame):
    """foreachBatch body factory: scrub this batch's docs against the
    standing benchmark and append the per-doc accounting."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        acc_table.append_batch(
            decontam_accounting(batch_df, bench), batch_id, "decontam"
        )

    return stage


def contaminated_from_log(
    spark: SparkSession, acc_table: ParquetTable
) -> DataFrame:
    """The folded accounting log: one row per doc ever ingested —
    including zero-token docs, which decontam_accounting reports as
    (0, 0, 0) via its every-doc left join, so an anti-join against this
    log is a safe "never scrubbed" test. Replays fold away by doc_id:
    per-doc rows are a pure function of (doc, benchmark), so duplicates
    are identical."""
    return (
        acc_table.read(spark)
        .select("doc_id", "max_shared_span", "n_pos_shared8", "contaminated")
        .dropDuplicates(["doc_id"])
    )
