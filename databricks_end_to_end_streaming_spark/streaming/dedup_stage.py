"""Incremental near-duplicate detection as a streaming stage.

Batch MinHash-LSH (queries/dedup.py) recomputes signatures for the whole
corpus; at 100 TB a pipeline instead dedups INCREMENTALLY: each
micro-batch of new documents is signed once, its band signatures are
joined against the accumulated band table (new-vs-seen) and against
itself (new-vs-new), and only those candidates are exact-verified. Work
per trigger is O(batch x matching buckets), never O(corpus^2); the band
table grows by tiny (doc_id, band_id, band_sig) rows, and signatures of
previously-seen documents are NEVER recomputed.

Same foreachBatch discipline as the ingest demux (SURVEY K1/T7/T8):
micro-batch cached once and released, every sink write idempotent under
a (batch_id, role) token, so at-least-once replays still yield
exactly-once tables. Replay safety of the band join: band rows carry
the batch id that wrote them, and the join keeps only STRICTLY OLDER
rows — a replayed batch cannot match its own half-written output.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..queries.dedup import (
    NEARDUP_THRESHOLD,
    band_rows,
    lsh_candidate_pairs,
    minhash_signatures,
    verify_jaccard,
)
from ..pin import pin
from .medallion import drain, foreach_writer
from .sinks import LOG_COLUMNS, ParquetTable, exclude_batch


def neardup_batch(
    batch_df: DataFrame,
    docs_table: ParquetTable,
    bands_table: ParquetTable,
    pairs_table: ParquetTable,
    batch_id: int,
    threshold: float = NEARDUP_THRESHOLD,
) -> None:
    """One micro-batch of (doc_id, text, ...) through the incremental
    dedup: sign, probe the band index, verify candidates, persist docs +
    bands + verified pairs. Callable directly so pytest can drive it
    without a streaming query (and so replays are testable)."""
    spark = batch_df.sparkSession
    batch_df.persist()
    try:
        sigs = minhash_signatures(batch_df)
        new_bands = band_rows(sigs)

        # new-vs-new candidates inside the batch
        cand = lsh_candidate_pairs(sigs)
        # new-vs-seen candidates against the accumulated index (strictly
        # older batches only: replay-safe, see module docstring)
        if bands_table.exists():
            seen = bands_table.read(spark, up_to_batch=batch_id - 1)
            # Broadcast the BATCH side: the accumulated index is the big
            # relation (8 rows per corpus doc) and must stream through a
            # map-side hash join — shuffling the index per micro-batch
            # would move O(corpus) tiny rows every trigger.
            cross = (
                F.broadcast(new_bands.alias("n"))
                .join(
                    seen.alias("s"),
                    (F.col("n.band_id") == F.col("s.band_id"))
                    & (F.col("n.band_sig") == F.col("s.band_sig"))
                    & (F.col("n.doc_id") != F.col("s.doc_id")),
                )
                .select(
                    F.least("n.doc_id", "s.doc_id").alias("doc_a"),
                    F.greatest("n.doc_id", "s.doc_id").alias("doc_b"),
                )
                .distinct()
            )
            cand = cand.union(cross).distinct()

        # verify_jaccard consumes the candidate relation three times
        # (semi-join id projections + the pair join); unpinned, each
        # consumer re-runs the index probe per micro-batch (same fix as
        # dedup_minhash_lsh / the pipeline). Candidates are small.
        cand = cand.transform(pin)

        # exact verification re-scans only candidate docs: the batch for
        # new ids, the accumulated docs table for seen ids. A REPLAYED
        # batch already has its docs in the table (written at the end of
        # the first attempt), so exclude its own rows — a duplicate doc
        # row would duplicate every pair it verifies. batch_id_col picks
        # the `batchid` partition column in parquet mode (the exclusion
        # is partition-pruned, not a scan filter) and the explicit
        # `_batch_id` data column in Delta mode, where token directories
        # don't exist.
        if docs_table.exists():
            hist = docs_table.read(spark)
            prior = exclude_batch(hist, batch_id, docs_table.path)
            corpus = prior.drop(*LOG_COLUMNS).unionByName(
                batch_df, allowMissingColumns=True
            )
        else:
            corpus = batch_df
        pairs = verify_jaccard(cand, corpus).where(F.col("jaccard") >= threshold)

        pairs_table.append_batch(pairs, batch_id, "pairs")
        bands_table.append_batch(new_bands, batch_id, "bands")
        # docs carry an explicit _batch_id so the replay exclusion above
        # works in Delta mode too (no token partition dirs there)
        docs_table.append_batch(batch_df, batch_id, "docs")
    finally:
        batch_df.unpersist()


def neardup_stage(
    source: DataFrame,
    docs_table: ParquetTable,
    bands_table: ParquetTable,
    pairs_table: ParquetTable,
    checkpoint: str,
    threshold: float = NEARDUP_THRESHOLD,
    query_name: str = "neardup_incremental",
) -> None:
    """Streaming wrapper: drain available document batches through the
    incremental near-dup (Trigger-Once semantics, SURVEY T1)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        neardup_batch(
            batch_df, docs_table, bands_table, pairs_table, batch_id, threshold
        )

    drain(foreach_writer(source, process, checkpoint, query_name))
