"""Bloom-gated incremental exact dedup (streaming/bloom_stage.py):
cross-batch duplicate suppression, the cheap definitely-new path, replay
idempotence, and bounded bitmap state."""

from __future__ import annotations

import random

from databricks_end_to_end_streaming_spark.streaming.bloom_stage import (
    bloom_dedup_batch,
    bloom_dedup_stage,
)
from databricks_end_to_end_streaming_spark.streaming.sinks import ParquetTable

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()

M_BITS = 1 << 14


def make_doc(rng, n=12):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _tables(workdir):
    return (
        ParquetTable(f"{workdir}/out"),
        ParquetTable(f"{workdir}/fp"),
        ParquetTable(f"{workdir}/bitmap"),
    )


def _batches(spark):
    rng = random.Random(11)
    b1 = [(i, make_doc(rng)) for i in range(20)]
    b1.append((100, b1[3][1]))  # intra-batch dup of doc 3
    # batch 2: 10 new docs + exact copies of docs 5 and 7 from batch 1
    b2 = [(i, make_doc(rng)) for i in range(30, 40)]
    b2.append((101, b1[5][1]))
    b2.append((102, b1[7][1]))
    schema = "doc_id long, text string"
    return spark.createDataFrame(b1, schema), spark.createDataFrame(b2, schema)


def _out_ids(spark, out):
    return {r.doc_id for r in out.read(spark).collect()}


def test_cross_batch_dedup_and_cheap_path(spark, workdir):
    b1, b2 = _batches(spark)
    out, fp, bitmap = _tables(workdir)
    c1 = bloom_dedup_batch(b1, out, fp, bitmap, 0, m_bits=M_BITS)
    assert c1["emitted"] == 20  # intra-batch dup suppressed
    c2 = bloom_dedup_batch(b2, out, fp, bitmap, 1, m_bits=M_BITS)
    assert c2["emitted"] == 10  # both cross-batch dups suppressed
    ids = _out_ids(spark, out)
    assert 100 not in ids and 101 not in ids and 102 not in ids
    assert set(range(30, 40)) <= ids
    # The two true dups MUST have hit the filter (no false negatives);
    # most of the 10 novel docs should take the no-join path.
    assert c2["exact_checked"] >= 2
    assert c2["definitely_new"] >= 5


def test_replay_idempotent(spark, workdir):
    b1, b2 = _batches(spark)
    out, fp, bitmap = _tables(workdir)
    bloom_dedup_batch(b1, out, fp, bitmap, 0, m_bits=M_BITS)
    bloom_dedup_batch(b2, out, fp, bitmap, 1, m_bits=M_BITS)
    before = _out_ids(spark, out)
    bloom_dedup_batch(b2, out, fp, bitmap, 1, m_bits=M_BITS)  # replay
    assert _out_ids(spark, out) == before
    # bit_or merge is idempotent: replaying changed nothing in the filter
    words = {
        (r.word_idx, r.word) for r in bitmap.read(spark).collect()
    }
    bloom_dedup_batch(b2, out, fp, bitmap, 1, m_bits=M_BITS)  # replay again
    assert {
        (r.word_idx, r.word) for r in bitmap.read(spark).collect()
    } == words


def test_bitmap_state_is_bounded(spark, workdir):
    b1, b2 = _batches(spark)
    out, fp, bitmap = _tables(workdir)
    bloom_dedup_batch(b1, out, fp, bitmap, 0, m_bits=M_BITS)
    bloom_dedup_batch(b2, out, fp, bitmap, 1, m_bits=M_BITS)
    assert bitmap.read(spark).count() <= M_BITS // 64


def test_streaming_wrapper(spark, workdir):
    b1, b2 = _batches(spark)
    src_dir = f"{workdir}/src"
    b1.unionByName(b2).write.parquet(src_dir)
    out, fp, bitmap = _tables(f"{workdir}/t")
    source = (
        spark.readStream.schema("doc_id long, text string").parquet(src_dir)
    )
    bloom_dedup_stage(
        source, out, fp, bitmap, f"{workdir}/ckpt", m_bits=M_BITS
    )
    ids = _out_ids(spark, out)
    # however the files batch up, every duplicate id is suppressed
    assert {100, 101, 102}.isdisjoint(ids)
    assert set(range(30, 40)) <= ids and set(range(20)) <= ids


def test_bitmap_recovery_from_fingerprints(spark, workdir):
    """Crash window: fingerprints persisted but the bitmap write (last
    in the write order) was lost. The next direct-call batch must
    rebuild the filter from the fingerprint table instead of silently
    re-admitting duplicates."""
    import shutil

    b1, b2 = _batches(spark)
    out, fp, bitmap = _tables(workdir)
    bloom_dedup_batch(b1, out, fp, bitmap, 0, m_bits=M_BITS)
    shutil.rmtree(f"{workdir}/bitmap")  # simulate the lost bitmap write
    c2 = bloom_dedup_batch(b2, out, fp, bitmap, 1, m_bits=M_BITS)
    assert c2["emitted"] == 10  # both cross-batch dups still suppressed
    ids = _out_ids(spark, out)
    assert 101 not in ids and 102 not in ids


def test_stale_bitmap_recovery(spark, workdir):
    """Harder crash window (VERDICT r4 advice): batch N's fingerprints
    landed but the bitmap OVERWRITE did not, so a stale bitmap (missing
    batch N's bits) still exists. A direct (non-checkpointed) caller
    moving on to batch N+1 must not let a duplicate of a batch-N doc
    take the definitely-new path — the stage compares the bitmap's
    _merged_through watermark against the fp table and merges the
    missing batches back in."""
    import shutil

    b1, b2 = _batches(spark)
    rng = random.Random(99)
    # batch 1.5: new docs whose fingerprints land, bitmap write "lost"
    b15 = spark.createDataFrame(
        [(i, make_doc(rng)) for i in range(200, 210)],
        "doc_id long, text string",
    )
    out, fp, bitmap = _tables(workdir)
    bloom_dedup_batch(b1, out, fp, bitmap, 0, m_bits=M_BITS)
    snapshot = f"{workdir}/bitmap_snapshot"
    shutil.copytree(f"{workdir}/bitmap", snapshot)
    bloom_dedup_batch(b15, out, fp, bitmap, 1, m_bits=M_BITS)
    # crash simulation: restore the PRE-batch-1 bitmap (stale watermark 0)
    shutil.rmtree(f"{workdir}/bitmap")
    shutil.copytree(snapshot, f"{workdir}/bitmap")
    # batch 2 re-sends a doc from batch 1.5: must be suppressed
    dup_of_b15 = b15.collect()[0]
    b2x = spark.createDataFrame(
        [(300, make_doc(rng)), (301, dup_of_b15.text)],
        "doc_id long, text string",
    )
    c = bloom_dedup_batch(b2x, out, fp, bitmap, 2, m_bits=M_BITS)
    assert c["emitted"] == 1
    ids = _out_ids(spark, out)
    assert 301 not in ids and 300 in ids


def test_as_of_read_legacy_and_null_rows(spark, workdir):
    """Replay exclusion across table generations: NULL-batch rows
    surfaced through mergeSchema count as PRIOR to every batch, and a
    legacy table with NO _batch_id column raises, naming the remedy,
    instead of guessing which rows are prior."""
    import pytest

    legacy = ParquetTable(f"{workdir}/legacy")
    legacy.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, fp string")
    )
    with pytest.raises(ValueError, match="backfill_batch_column"):
        legacy.read(spark, up_to_batch=6)

    mixed = ParquetTable(f"{workdir}/mixed")
    mixed.append(
        spark.createDataFrame(
            [(1, None), (2, 7), (3, 3)], "doc_id long, _batch_id long"
        )
    )
    kept = {r.doc_id for r in mixed.read(spark, up_to_batch=7 - 1).collect()}
    assert kept == {1, 3}  # null row is prior; own batch excluded


def test_backfill_batch_column_restores_exact_exclusion(spark, workdir):
    """The remedy the as-of read names: stamping _batch_id=-1 makes a
    column-less legacy table readable as of any batch, keeps every
    legacy row PRIOR, and is idempotent."""
    import pytest
    import pyspark.sql.functions as F

    t = ParquetTable(f"{workdir}/legacy")
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, fp string")
    )
    with pytest.raises(ValueError, match="backfill_batch_column"):
        t.read(spark, up_to_batch=6)
    assert t.backfill_batch_column(spark) == 2
    assert t.backfill_batch_column(spark) == 0  # idempotent
    assert t.read(spark, up_to_batch=6).count() == 2  # legacy rows stay prior
    # new-release rows now exclude exactly
    t.append(
        spark.createDataFrame([(3, "c")], "doc_id long, fp string").withColumn(
            "_batch_id", F.lit(7)
        )
    )
    assert t.read(spark, up_to_batch=7 - 1).count() == 2
    assert t.read(spark, up_to_batch=7).count() == 3
    # mixed table: only the null rows get stamped
    t2 = ParquetTable(f"{workdir}/mixed")
    t2.append(
        spark.createDataFrame([(1, "a")], "doc_id long, fp string").withColumn(
            "_batch_id", F.lit(5)
        )
    )
    t2.append(spark.createDataFrame([(2, "b")], "doc_id long, fp string"))
    assert t2.backfill_batch_column(spark) == 1
    got = {
        (r["doc_id"], r["_batch_id"]) for r in t2.read(spark).collect()
    }
    assert got == {(1, 5), (2, -1)}
