"""Bloom-gated incremental exact dedup as a streaming stage.

The incremental exact-dedup problem at 100 TB: each micro-batch of
documents must be checked against EVERY fingerprint ever seen. A naive
anti-join touches the full fingerprint table per trigger; this stage
keeps a Bloom bitmap (operators/bloom.py) as mergeable streaming state
and uses it to split each batch:

* **definitely-new** (filter miss — no false negatives, so provably
  unseen): pass straight through, no join against history at all. On a
  mostly-novel stream this is ~the whole batch.
* **maybe-seen** (filter hit): exact anti-join against the accumulated
  fingerprint table — but only for this (usually small) slice, and the
  join is broadcast from the batch side.

State sizes: the bitmap is <= m/64 64-bit words (a 2^27-bit filter is
16 MiB) REGARDLESS of corpus size; merging a batch into it is a bit_or
aggregate, which is idempotent + commutative, so an at-least-once replay
re-merging the same batch cannot corrupt the filter. A premature bitmap
write (bits set for docs whose fingerprints never landed) only creates
false POSITIVES, which the exact check absorbs — every failure mode
degrades to extra work, never to wrong output.

Fingerprints are xxhash64 of the whitespace-normalized text (the
standard 64-bit content-fingerprint dedup; collision expectation
n^2/2^65 — at 10^10 docs, ~0.003 spurious drops, the usual accepted
trade documented by content-dedup systems).

Same foreachBatch discipline as the other stages (SURVEY K1/T7/T8):
batch cached once and released, idempotent token-gated appends.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..operators.bloom import (
    DEFAULT_SEEDS,
    bloom_build,
    bloom_merge,
    bloom_probe_flag,
)
from ..pin import pin
from .medallion import drain, foreach_writer
from .sinks import ParquetTable, batch_token

BLOOM_M_BITS = 1 << 20


def _fingerprint() -> F.Column:
    return F.xxhash64(F.lower(F.regexp_replace("text", r"\s+", " ")))


def bloom_dedup_batch(
    batch_df: DataFrame,
    out_table: ParquetTable,
    fp_table: ParquetTable,
    bitmap_table: ParquetTable,
    batch_id: int,
    m_bits: int = BLOOM_M_BITS,
    fingerprint: F.Column | None = None,
) -> dict:
    """One micro-batch through the Bloom-gated dedup. Returns counters
    (pytest introspection): how many rows took the cheap definitely-new
    path vs the exact-check path.

    ``fingerprint`` selects the dedup key (default: normalized-text
    xxhash64). Everything downstream of the ``fp`` column is
    key-agnostic, so the same bitmap/fp-table/replay machinery serves
    content dedup and canonical-URL dedup (url_dedup_stage)."""
    spark = batch_df.sparkSession
    if fingerprint is None:
        fingerprint = _fingerprint()
    batch = (
        batch_df.withColumn("fp", fingerprint)
        # intra-batch dedup first: keep the lowest doc_id per fingerprint
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    batch.persist()
    try:
        bitmap = None
        merged_through: int | None = None
        if bitmap_table.exists():
            bm = bitmap_table.read(spark)
            bitmap = bm.select("word_idx", "word")
            if "_merged_through" in bm.columns:
                merged_through = bm.agg(
                    F.max("_merged_through")
                ).first()[0]
        if fp_table.exists():
            # Crash window: fingerprint appends landed but the bitmap
            # overwrite (last in the write order) did not — either no
            # bitmap at all, or a STALE one missing the newest batches'
            # bits. A stale filter would be a false-NEGATIVE hole (a
            # later duplicate takes the definitely-new path and is
            # emitted twice), so merge back every fp batch newer than
            # the bitmap's recorded watermark. The current batch is
            # excluded: its bits merge at the end, and the exact check
            # already ignores its own half-written rows. Without a
            # watermark (no bitmap, or one written before it existed)
            # every older batch merges back: a one-time O(corpus)
            # recovery. An unstamped (NULL) row can't be dated against
            # the watermark, so it is included: a redundant merge is
            # harmless, a missed one is a false-negative hole.
            prior = fp_table.read(spark, up_to_batch=batch_id - 1)
            if merged_through is not None:
                stamp = F.col("_batch_id")
                prior = prior.where(stamp.isNull() | (stamp > merged_through))
            missing = prior.select("fp")
            if not missing.isEmpty():
                rebuilt = bloom_build(missing, "fp", m_bits)
                bitmap = (
                    bloom_merge(bitmap, rebuilt)
                    if bitmap is not None
                    else rebuilt
                ).transform(
                    lambda d: pin(d, require_frozen=True, site="bloom.fresh_docs")
                )
        if bitmap is not None:
            flagged = bloom_probe_flag(batch, "fp", bitmap, m_bits, flag="_hit")
            flagged.persist()
            try:
                fresh = flagged.where(~F.col("_hit")).drop("_hit")
                maybe = flagged.where(F.col("_hit")).drop("_hit")
                n_fresh = fresh.count()
                n_maybe = maybe.count()
                if n_maybe and fp_table.exists():
                    # Replay-safe: compare against strictly older batches
                    # only, so a replayed batch cannot anti-join away its
                    # own half-written fingerprints.
                    seen = fp_table.read(
                        spark, up_to_batch=batch_id - 1
                    ).select("fp")
                    survivors = maybe.join(seen, on="fp", how="left_anti")
                else:
                    survivors = maybe
                new_docs = fresh.unionByName(survivors)
                # The cheap path carried no join at all; only `maybe`
                # rows (bloom-hit fraction) touched the history table.
                counters = {"definitely_new": n_fresh, "exact_checked": n_maybe}
            finally:
                flagged.unpersist()
        else:
            new_docs = batch
            counters = {"definitely_new": batch.count(), "exact_checked": 0}

        # frozen: new_docs' lineage anti-joins the fp table this batch
        # appends to below — a lineage-keeping recompute after that
        # append would read its own output
        new_docs = new_docs.transform(
            lambda d: pin(d, require_frozen=True, site="bloom.new_docs")
        )
        out_table.idempotent_append(
            new_docs.drop("fp"), batch_token(batch_id, "docs")
        )
        fp_table.append_batch(new_docs.select("fp"), batch_id, "fp")
        batch_words = bloom_build(batch, "fp", m_bits)
        merged = (
            bloom_merge(bitmap, batch_words) if bitmap is not None else batch_words
        )
        # _merged_through records the newest batch whose bits this bitmap
        # holds — the stale-bitmap detector above compares it against the
        # fp table so a crash between the fp append and this overwrite
        # can never open a false-negative window for later batches.
        bitmap_table.overwrite(
            # frozen: the lineage reads the bitmap path this call
            # overwrites — recompute-from-lineage mid-rewrite would read
            # deleted files
            merged.withColumn("_merged_through", F.lit(batch_id))
            .transform(
                lambda d: pin(d, require_frozen=True, site="bloom.bitmap")
            )
        )
        counters["emitted"] = new_docs.count()
        return counters
    finally:
        batch.unpersist()


def bloom_dedup_stage(
    source: DataFrame,
    out_table: ParquetTable,
    fp_table: ParquetTable,
    bitmap_table: ParquetTable,
    checkpoint: str,
    m_bits: int = BLOOM_M_BITS,
    query_name: str = "bloom_dedup_incremental",
    fingerprint: F.Column | None = None,
) -> None:
    """Streaming wrapper: drain available batches through the Bloom-gated
    dedup (Trigger-Once semantics, SURVEY T1)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bloom_dedup_batch(
            batch_df,
            out_table,
            fp_table,
            bitmap_table,
            batch_id,
            m_bits,
            fingerprint=fingerprint,
        )

    drain(foreach_writer(source, process, checkpoint, query_name))


def url_fingerprint(url_col: str = "url") -> F.Column:
    """Canonical-URL dedup key: xxhash64 of the RFC 3986 canonical form
    (queries/web.py::canonical_url_col) — the incremental twin key of
    the batch query url_canonicalize_dedup. Two surface variants of one
    page hash identically, so the Bloom gate + exact check drop the
    later arrival no matter which mess class it wears."""
    from ..queries.web import canonical_url_col

    return F.xxhash64(canonical_url_col(url_col))


def url_dedup_batch(
    batch_df: DataFrame,
    out_table: ParquetTable,
    fp_table: ParquetTable,
    bitmap_table: ParquetTable,
    batch_id: int,
    m_bits: int = BLOOM_M_BITS,
) -> dict:
    """Bloom-gated incremental canonical-URL dedup: the crawl-frontier
    "have we fetched this page" check, sharing every mechanism of the
    content-dedup stage (bitmap state bound by m_bits regardless of
    frontier size; replays idempotent under the same tokens)."""
    return bloom_dedup_batch(
        batch_df,
        out_table,
        fp_table,
        bitmap_table,
        batch_id,
        m_bits,
        fingerprint=url_fingerprint(),
    )
