"""The replay-log protocol every foreachBatch stage shares
(streaming/sinks.py, streaming/medallion.py): ``append_batch`` writes
one (batch, role) token directory with an IntegerType ``_batch_id``
stamp, a replay overwrites instead of double-counting,
``read(up_to_batch=)`` is the as-of view, ``drain`` runs a writer to
termination and surfaces a failed batch, and ``swap_dir`` is the
rename-aside swap the table rewrites share."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import IntegerType

from databricks_end_to_end_streaming_spark.streaming.medallion import (
    drain,
    foreach_writer,
)
from databricks_end_to_end_streaming_spark.streaming.sinks import (
    LOG_COLUMNS,
    ParquetTable,
    swap_dir,
)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 10 AS v")


def test_append_batch_lands_under_token_with_int_stamp(spark, workdir):
    t = ParquetTable(f"{workdir}/log")
    t.append_batch(_rows(spark, 0, 3), 7, "partial")
    token_dir = os.path.join(t.path, "batchid=7", "role=partial")
    assert os.path.isdir(token_dir)
    files = [f for f in os.listdir(token_dir) if f.endswith(".parquet")]
    assert files
    stored = pq.read_schema(os.path.join(token_dir, files[0]))
    # the stamp is the plain int literal backfill_batch_column matches
    assert str(stored.field("_batch_id").type) == "int32"
    df = t.read(spark)
    assert isinstance(df.schema["_batch_id"].dataType, IntegerType)
    assert df.columns == ["id", "v", "_batch_id", "batchid", "role"]
    assert {r._batch_id for r in df.collect()} == {7}
    assert df.drop(*LOG_COLUMNS).columns == ["id", "v"]


def test_replayed_batch_role_overwrites_instead_of_double_counting(
    spark, workdir
):
    t = ParquetTable(f"{workdir}/log")
    t.append_batch(_rows(spark, 0, 4), 0, "a")
    t.append_batch(_rows(spark, 0, 4), 0, "a")  # replay of (0, a)
    assert t.read(spark).count() == 4
    t.append_batch(_rows(spark, 0, 2), 0, "b")  # same batch, other role
    t.append_batch(_rows(spark, 4, 6), 1, "a")
    assert t.read(spark).count() == 8
    # a replay that produces different rows replaces the old token's
    t.append_batch(_rows(spark, 0, 1), 0, "a")
    assert t.read(spark).count() == 5


def test_read_up_to_batch_is_the_as_of_view(spark, workdir):
    t = ParquetTable(f"{workdir}/log")
    for b in range(4):
        t.append_batch(_rows(spark, 10 * b, 10 * b + 3), b, "p")
    for k in (-1, 0, 2, 3, 9):
        got = {r._batch_id for r in t.read(spark, up_to_batch=k).collect()}
        assert got == {b for b in range(4) if b <= k}
    plain = sorted(t.read(spark).collect())
    assert sorted(t.read(spark, up_to_batch=None).collect()) == plain
    assert len(plain) == 12


def test_drain_returns_terminated_query(spark, workdir):
    src = ParquetTable(f"{workdir}/src")
    src.append(_rows(spark, 0, 5))
    out = ParquetTable(f"{workdir}/out")

    def body(batch_df, batch_id):
        out.append_batch(batch_df, batch_id, "copy")

    q = drain(
        foreach_writer(src.stream(spark), body, f"{workdir}/cp", "replay_log_drain")
    )
    assert not q.isActive
    assert q.exception() is None
    assert q.name == "replay_log_drain"
    assert sorted(r.id for r in out.read(spark).collect()) == list(range(5))


def test_drain_reraises_a_failed_batch(spark, workdir):
    src = ParquetTable(f"{workdir}/src")
    src.append(_rows(spark, 0, 3))

    def body(batch_df, batch_id):
        raise ValueError("replay-log body failed on purpose")

    with pytest.raises(Exception, match="replay-log body failed on purpose"):
        drain(
            foreach_writer(
                src.stream(spark), body, f"{workdir}/cp", "replay_log_fail"
            )
        )
    assert not [q for q in spark.streams.active if q.name == "replay_log_fail"]


def test_swap_dir_replaces_or_removes_live(tmp_path):
    live, staging = tmp_path / "t", tmp_path / "t._staging"
    live.mkdir()
    (live / "old").write_text("old")
    staging.mkdir()
    (staging / "new").write_text("new")
    swap_dir(str(live), str(staging))
    assert os.listdir(live) == ["new"]
    assert not staging.exists() and not (tmp_path / "t._old").exists()
    # no live dir yet: staging is renamed straight in
    fresh, fresh_staging = tmp_path / "u", tmp_path / "u._staging"
    fresh_staging.mkdir()
    swap_dir(str(fresh), str(fresh_staging))
    assert fresh.is_dir() and not fresh_staging.exists()
    # None removes the live dir through the same aside
    swap_dir(str(live), None)
    assert not live.exists() and not (tmp_path / "t._old").exists()
