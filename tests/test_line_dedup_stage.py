"""Incremental CCNet line dedup (streaming/line_dedup_stage.py):
drained == batch for doc_id-ordered slicing, cross-batch duplicate
lines are dropped, kept-total is order-invariant, replays are
idempotent, and the readStream wrapper drains."""

from __future__ import annotations

import pyspark.sql.functions as F

from databricks_end_to_end_streaming_spark.queries.dedup import (
    LINE_W,
    _first_occurrence_kept,
    cleaned_lines_doc,
    line_segments,
)
from databricks_end_to_end_streaming_spark.streaming import ParquetTable
from databricks_end_to_end_streaming_spark.streaming.line_dedup_stage import (
    cleaned_from_log,
    line_dedup_batch,
    line_dedup_index_stage,
)


def _line(tag: str) -> str:
    """One synthetic 12-token line."""
    return " ".join(f"{tag}{j}" for j in range(LINE_W))


def _docs(spark):
    # doc 0: lines A B          (all first occurrences)
    # doc 1: lines B C          (B duplicates doc 0 — same batch or later)
    # doc 2: lines A D A        (A dup of doc 0; second A dup within doc)
    # doc 3: lines B            (fully scrubbed once B is seen)
    # doc 4: lines E F          (all fresh)
    a, b, c, d, e, f = (_line(t) for t in "abcdef")
    rows = [
        (0, f"{a} {b}"),
        (1, f"{b} {c}"),
        (2, f"{a} {d} {a}"),
        (3, b),
        (4, f"{e} {f}"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch_result(docs):
    return {
        r.doc_id: (r.n_lines, r.n_kept, r.cleaned_text)
        for r in cleaned_lines_doc(
            _first_occurrence_kept(line_segments(docs))
        ).collect()
    }


def _drained(spark, out):
    return {
        r.doc_id: (r.n_lines, r.n_kept, r.cleaned_text)
        for r in cleaned_from_log(spark, out).collect()
    }


def test_drained_equals_batch_in_doc_id_order(spark, workdir):
    docs = _docs(spark)
    out = ParquetTable(f"{workdir}/cleaned")
    idx = ParquetTable(f"{workdir}/index")
    # doc_id-ordered, uneven slices: {0,1} {2} {3,4}
    for bid, cond in enumerate(["doc_id < 2", "doc_id = 2", "doc_id > 2"]):
        line_dedup_batch(docs.where(cond), out, idx, bid)
    assert _drained(spark, out) == _batch_result(docs)
    # the fold hands back the batch twin's columns, with no replay-log
    # bookkeeping (_batch_id, token partition dirs) leaking through
    batch_cols = cleaned_lines_doc(
        _first_occurrence_kept(line_segments(docs))
    ).columns
    assert cleaned_from_log(spark, out).columns == batch_cols


def test_cross_batch_duplicate_line_is_dropped(spark, workdir):
    docs = _docs(spark)
    out = ParquetTable(f"{workdir}/cleaned")
    idx = ParquetTable(f"{workdir}/index")
    line_dedup_batch(docs.where("doc_id = 0"), out, idx, 0)  # A, B kept
    line_dedup_batch(docs.where("doc_id = 3"), out, idx, 1)  # B alone
    got = _drained(spark, out)
    assert got[3] == (1, 0, "")  # fully scrubbed across the batch gap
    assert got[0][1] == 2


def test_kept_total_is_order_invariant(spark, workdir):
    docs = _docs(spark)
    for name, batches in (
        ("fwd", ["doc_id < 2", "doc_id >= 2"]),
        ("rev", ["doc_id >= 2", "doc_id < 2"]),
    ):
        out = ParquetTable(f"{workdir}/{name}_cleaned")
        idx = ParquetTable(f"{workdir}/{name}_index")
        for bid, cond in enumerate(batches):
            line_dedup_batch(docs.where(cond), out, idx, bid)
        total = sum(v[1] for v in _drained(spark, out).values())
        # one kept copy per distinct line hash, regardless of order
        assert total == 6  # a b c d e f


def test_replay_is_idempotent(spark, workdir):
    docs = _docs(spark)
    out = ParquetTable(f"{workdir}/cleaned")
    idx = ParquetTable(f"{workdir}/index")
    line_dedup_batch(docs.where("doc_id < 2"), out, idx, 0)
    line_dedup_batch(docs.where("doc_id >= 2"), out, idx, 1)
    before = _drained(spark, out)
    line_dedup_batch(docs.where("doc_id >= 2"), out, idx, 1)  # replay
    assert _drained(spark, out) == before
    # index also unchanged: one row per distinct line
    assert idx.read(spark).count() == 6


def test_readstream_wrapper_drains(spark, workdir):
    docs = _docs(spark)
    src = f"{workdir}/src"
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = ParquetTable(f"{workdir}/cleaned")
    idx = ParquetTable(f"{workdir}/index")
    line_dedup_index_stage(stream, out, idx, f"{workdir}/ckpt")
    got = _drained(spark, out)
    assert got == _batch_result(docs)
    assert sum(v[1] for v in got.values()) == 6
