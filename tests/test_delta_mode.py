"""ParquetTable's delta-spark probe (VERDICT r3 item 1).

The probe itself, the token->txn mapping, and the forced-parquet
override are exercised in every environment; the Delta-backed contract
tests run only where OSS delta-spark is installed (skip-marked here —
this container ships no delta jars), mirroring how the Pillow media
tests are gated.
"""

from __future__ import annotations

import importlib.util

import pytest

import databricks_end_to_end_streaming_spark.streaming.sinks as sinks
from databricks_end_to_end_streaming_spark.streaming.sinks import (
    ParquetTable,
    delta_available,
    parse_txn_token,
)

_HAS_DELTA = importlib.util.find_spec("delta") is not None


def test_parse_txn_token_ingest_shape():
    assert parse_txn_token("batchid=7/schemaid=2") == ("schemaid=2", 7)


def test_parse_txn_token_side_shape():
    assert parse_txn_token("batchid=12/side=quarantine") == (
        "side=quarantine",
        12,
    )


def test_parse_txn_token_multi_key_appid_is_order_stable():
    app, ver = parse_txn_token("batchid=3/role=bands/shard=1")
    assert (app, ver) == ("role=bands/shard=1", 3)


def test_parse_txn_token_requires_batchid():
    with pytest.raises(ValueError):
        parse_txn_token("role=docs")


def test_forced_parquet_overrides_probe(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "parquet")
    # env override short-circuits before the cached probe is consulted
    monkeypatch.setattr(sinks, "_DELTA_OK", True)
    assert delta_available(spark=None) is False


def test_forced_delta_raises_when_unavailable(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "delta")
    monkeypatch.setattr(sinks, "_DELTA_OK", False)
    with pytest.raises(RuntimeError, match="delta-spark"):
        delta_available(spark=None)


def test_probe_caches_false_in_this_container(spark):
    sinks._DELTA_OK = None
    try:
        assert delta_available(spark) is _HAS_DELTA
        assert sinks._DELTA_OK is _HAS_DELTA
    finally:
        sinks._DELTA_OK = None


def test_exists_recognizes_delta_log_dir(tmp_path):
    t = ParquetTable(str(tmp_path / "tbl"))
    assert not t.exists()
    (tmp_path / "tbl" / "_delta_log").mkdir(parents=True)
    assert t.exists()


@pytest.mark.skipif(not _HAS_DELTA, reason="delta-spark not installed")
class TestDeltaBackedContract:
    """Same observable contract as the parquet stand-in, on real Delta.

    Runs only on a delta-enabled deployment; the session fixture there
    must carry the Delta extension + catalog."""

    def test_append_evolves_schema(self, spark, tmp_path):
        t = ParquetTable(str(tmp_path / "d1"))
        t.append(spark.createDataFrame([(1, "a")], "id int, v string"))
        t.append(
            spark.createDataFrame([(2, "b", 9.0)], "id int, v string, x double")
        )
        got = t.read(spark)
        assert set(got.columns) == {"id", "v", "x"}
        assert got.count() == 2

    def test_idempotent_append_dedups_replays(self, spark, tmp_path):
        t = ParquetTable(str(tmp_path / "d2"))
        df = spark.createDataFrame([(1,)], "id int")
        t.idempotent_append(df, "batchid=0/schemaid=1")
        t.idempotent_append(df, "batchid=0/schemaid=1")  # replay
        assert t.read(spark).count() == 1

    def test_upsert_merges(self, spark, tmp_path):
        t = ParquetTable(str(tmp_path / "d3"))
        t.append(spark.createDataFrame([(1, "old"), (2, "keep")], "id int, v string"))
        t.upsert(spark, spark.createDataFrame([(1, "new"), (3, "ins")], "id int, v string"), ["id"])
        rows = {r.id: r.v for r in t.read(spark).collect()}
        assert rows == {1: "new", 2: "keep", 3: "ins"}


class TestDeltaRouting:
    """The delta branch is structurally verifiable WITHOUT delta-spark:
    force the probe true and record what the writers would do."""

    @pytest.fixture
    def routed(self, monkeypatch):
        calls = []
        monkeypatch.setattr(
            ParquetTable, "_delta", lambda self, spark: True
        )
        monkeypatch.setattr(
            ParquetTable,
            "_delta_write",
            lambda self, df, mode, **opts: calls.append((mode, opts)),
        )
        return calls

    def test_append_routes_to_delta_with_merge_schema(
        self, spark, tmp_path, routed
    ):
        t = ParquetTable(str(tmp_path / "r1"))
        t.append(spark.createDataFrame([(1,)], "id int"))
        assert routed == [("append", {"mergeSchema": "true"})]
        # and nothing was written as parquet
        assert not t.exists()

    def test_idempotent_append_maps_token_to_txn(
        self, spark, tmp_path, routed
    ):
        t = ParquetTable(str(tmp_path / "r2"))
        df = spark.createDataFrame([(1,)], "id int")
        t.idempotent_append(df, "batchid=7/schemaid=2")
        (mode, opts), = routed
        assert mode == "append"
        assert opts["txnVersion"] == "7"
        assert opts["txnAppId"].endswith("#schemaid=2")
        assert opts["mergeSchema"] == "true"

    def test_overwrite_routes_with_overwrite_schema(
        self, spark, tmp_path, routed
    ):
        t = ParquetTable(str(tmp_path / "r3"))
        t.overwrite(spark.createDataFrame([(1,)], "id int"))
        assert routed == [("overwrite", {"overwriteSchema": "true"})]

    def test_overwrite_atomic_routes_like_overwrite(
        self, spark, tmp_path, routed
    ):
        # Delta is transactional either way: the atomic variant routes
        # to the same transactional overwrite, no staged-swap dirs
        t = ParquetTable(str(tmp_path / "r5"))
        t.overwrite_atomic(spark.createDataFrame([(1,)], "id int"))
        assert routed == [("overwrite", {"overwriteSchema": "true"})]
        assert not t.exists()

    def test_read_and_stream_route_to_delta_format(
        self, spark, tmp_path, monkeypatch
    ):
        monkeypatch.setattr(
            ParquetTable, "_delta", lambda self, spark: True
        )
        t = ParquetTable(str(tmp_path / "r4"))
        # format("delta") is unresolvable without the jar: reaching the
        # DATA_SOURCE_NOT_FOUND error proves routing left the parquet
        # path (a parquet read of a missing dir errors differently)
        with pytest.raises(Exception, match="delta|DATA_SOURCE"):
            t.read(spark).collect()
        with pytest.raises(Exception, match="delta|DATA_SOURCE"):
            t.stream(spark)


def test_compact_partitions_routes_to_delta_optimize_where(monkeypatch, tmp_path):
    """In Delta mode, partition-scoped compaction must go through the
    transactional OPTIMIZE ... WHERE — the parquet protocol's directory
    surgery would write files the Delta log never recorded."""
    t = ParquetTable(str(tmp_path / "tbl"), partition_by=["type"])
    (tmp_path / "tbl").mkdir()

    calls = []

    class _Opt:
        def where(self, cond):
            calls.append(cond)
            return self

        def executeCompaction(self):  # noqa: N802 (Delta API)
            calls.append("compacted")

    class _DT:
        def optimize(self):
            return _Opt()

    monkeypatch.setattr(sinks, "_DELTA_OK", True)
    monkeypatch.setattr(ParquetTable, "_delta_table", lambda self, s: _DT())
    report = t.compact_partitions(spark=None, values=["a", "b"])
    assert calls == ["type = 'a'", "compacted", "type = 'b'", "compacted"]
    assert set(report) == {"a", "b"}


def test_rewrite_columns_refuses_in_delta_mode(monkeypatch, tmp_path):
    t = ParquetTable(str(tmp_path / "tbl"))
    monkeypatch.setattr(sinks, "_DELTA_OK", True)
    with pytest.raises(RuntimeError, match="ALTER TABLE"):
        t.rewrite_columns(spark=None, cast_map={"x": "bigint"})
