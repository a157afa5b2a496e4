"""Ingestion demux end-to-end (SURVEY M2): wire-format slicing, per-id
decode, PERMISSIVE/FAILFAST, schema evolution, replay idempotence."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from databricks_end_to_end_streaming_spark.functions.binary import (
    be_int_from_bytes,
    confluent_payload,
    confluent_schema_id,
    glue_payload,
    glue_schema_uuid,
)
from databricks_end_to_end_streaming_spark.registry import InMemorySchemaRegistry
from databricks_end_to_end_streaming_spark.schemas import (
    PRODUCT_V1_JSON,
    PRODUCT_V2_JSON,
)
from databricks_end_to_end_streaming_spark.sources import (
    events_to_wire,
    file_stream,
    generate_events,
    write_topic_files,
)
from databricks_end_to_end_streaming_spark.sources.generator import GLUE_UUIDS
from databricks_end_to_end_streaming_spark.streaming import (
    ParquetTable,
    ingest_avro_stream,
)
from databricks_end_to_end_streaming_spark.streaming.ingest import (
    confluent_framing,
    glue_framing,
)

CONFLUENT_REGISTRY = InMemorySchemaRegistry({1: PRODUCT_V1_JSON, 2: PRODUCT_V2_JSON})
GLUE_REGISTRY = InMemorySchemaRegistry(
    {GLUE_UUIDS[1].hex: PRODUCT_V1_JSON, GLUE_UUIDS[2].hex: PRODUCT_V2_JSON}
)


def wire_df(spark, events, framing="confluent", corrupt_offsets=None):
    from databricks_end_to_end_streaming_spark.sources.files import WIRE_SCHEMA

    recs = events_to_wire(events, framing=framing, corrupt_offsets=corrupt_offsets)
    rows = [
        (r.key, r.value, r.topic, r.partition, r.offset, r.timestamp, r.timestampType)
        for r in recs
    ]
    return spark.createDataFrame(rows, WIRE_SCHEMA)


def test_confluent_header_slicing(spark):
    events = generate_events(20, seed=1)
    df = wire_df(spark, events)
    got = df.select(
        confluent_schema_id("value").alias("sid"),
        F.length(confluent_payload("value")).alias("plen"),
        F.length("value").alias("vlen"),
    ).collect()
    assert {r.sid for r in got} == {1, 2}
    assert all(r.plen == r.vlen - 5 for r in got)


def test_glue_header_slicing(spark):
    events = generate_events(20, seed=2)
    df = wire_df(spark, events, framing="glue")
    got = df.select(
        glue_schema_uuid("value").alias("sid"),
        F.length(glue_payload("value")).alias("plen"),
        F.length("value").alias("vlen"),
    ).collect()
    assert {r.sid for r in got} == {GLUE_UUIDS[1].hex, GLUE_UUIDS[2].hex}
    assert all(r.plen == r.vlen - 18 for r in got)


def test_be_int_decode(spark):
    df = spark.createDataFrame(
        [
            (bytes([0, 0, 1, 44]),),
            (bytes([0, 0, 0, 1]),),
            # full unsigned 32-bit range: a 32-bit cast would overflow
            (bytes([0xFF, 0xFF, 0xFF, 0xFF]),),
            (bytes([0x80, 0x00, 0x00, 0x00]),),
        ],
        "b binary",
    )
    vals = [r[0] for r in df.select(be_int_from_bytes("b")).collect()]
    assert vals == [300, 1, 2**32 - 1, 2**31]


@pytest.mark.parametrize("framing_name", ["confluent", "glue"])
def test_ingest_end_to_end(spark, workdir, framing_name):
    """v1/v2 interleaved stream -> raw table: all rows decoded, v1 rows
    NULL for v2-only columns (mergeSchema widening, SURVEY T9 — null,
    NOT the Avro default)."""
    events = generate_events(60, seed=3, v1_ratio=0.4)
    recs = events_to_wire(events, framing=framing_name)
    write_topic_files(spark, recs, f"{workdir}/topic")

    registry = CONFLUENT_REGISTRY if framing_name == "confluent" else GLUE_REGISTRY
    framing = confluent_framing() if framing_name == "confluent" else glue_framing()
    raw = ParquetTable(f"{workdir}/raw")
    ingest_avro_stream(
        file_stream(spark, f"{workdir}/topic"),
        registry,
        raw,
        checkpoint=f"{workdir}/cp/ingest",
        framing=framing,
    )

    out = raw.read(spark)
    flat = out.select("valueSchemaId", "parsedValue.*")
    assert out.count() == len(events)
    n_v1 = sum(1 for e in events if e["_version"] == 1)
    v1_rows = flat.filter(F.col("size").isNull() & F.col("color").isNull())
    assert v1_rows.count() == n_v1
    # decoded content matches the generator exactly
    got = {r["eventId"]: r for r in flat.collect()}
    for ev in events:
        row = got[ev["eventId"]]
        assert row["productId"] == ev["productId"]
        assert row["type"] == ev["type"]
        assert row["timestamp"] == ev["timestamp"]
        if ev["_version"] == 2:
            assert row["size"] == ev["size"] and row["color"] == ev["color"]


def test_ingest_schema_resolution_reader(spark, workdir):
    """Both evolution modes, same v1/v2 stream: the default union-widen
    leaves v1 rows NULL for v2-only columns (SURVEY T9), while
    reader_schema_id resolves v1 payloads to the v2 shape with the
    declared Avro defaults ('none') — the Glue FULL compatibility read
    (producer.scala:60-61)."""
    events = generate_events(40, seed=11, v1_ratio=0.5)
    recs = events_to_wire(events)
    write_topic_files(spark, recs, f"{workdir}/topic")
    n_v1 = sum(1 for e in events if e["_version"] == 1)
    assert 0 < n_v1 < len(events)

    widen = ParquetTable(f"{workdir}/raw_widen")
    ingest_avro_stream(
        file_stream(spark, f"{workdir}/topic"),
        CONFLUENT_REGISTRY,
        widen,
        checkpoint=f"{workdir}/cp/widen",
    )
    resolved = ParquetTable(f"{workdir}/raw_resolved")
    ingest_avro_stream(
        file_stream(spark, f"{workdir}/topic"),
        CONFLUENT_REGISTRY,
        resolved,
        checkpoint=f"{workdir}/cp/resolved",
        reader_schema_id=2,
    )

    w = widen.read(spark).select("valueSchemaId", "parsedValue.*")
    assert w.filter(F.col("size").isNull()).count() == n_v1
    r = resolved.read(spark).select("valueSchemaId", "parsedValue.*")
    assert r.count() == len(events)
    assert r.filter(F.col("size").isNull()).count() == 0
    defaults = r.filter((F.col("size") == "none") & (F.col("color") == "none"))
    assert defaults.count() >= n_v1
    # v2 rows keep their real values under resolution
    got = {row["eventId"]: row for row in r.collect()}
    for ev in events:
        if ev["_version"] == 2:
            assert got[ev["eventId"]]["size"] == ev["size"]
            assert got[ev["eventId"]]["color"] == ev["color"]
        else:
            assert got[ev["eventId"]]["size"] == "none"
            assert got[ev["eventId"]]["color"] == "none"


def test_ingest_permissive_nulls_corrupt_rows(spark, workdir):
    events = generate_events(10, seed=4, v1_ratio=0.0)
    recs = events_to_wire(events, corrupt_offsets={2, 5})
    write_topic_files(spark, recs, f"{workdir}/topic")
    raw = ParquetTable(f"{workdir}/raw")
    ingest_avro_stream(
        file_stream(spark, f"{workdir}/topic"),
        CONFLUENT_REGISTRY,
        raw,
        checkpoint=f"{workdir}/cp",
        mode="PERMISSIVE",
    )
    out = raw.read(spark)
    assert out.count() == 10
    corrupt = out.filter(F.col("parsedValue.eventId").isNull())
    assert corrupt.count() == 2
    assert {r.offset for r in corrupt.select("offset").collect()} == {2, 5}


def test_ingest_failfast_raises(spark, workdir):
    events = generate_events(6, seed=5, v1_ratio=0.0)
    recs = events_to_wire(events, corrupt_offsets={1})
    write_topic_files(spark, recs, f"{workdir}/topic")
    raw = ParquetTable(f"{workdir}/raw")
    with pytest.raises(Exception):
        ingest_avro_stream(
            file_stream(spark, f"{workdir}/topic"),
            CONFLUENT_REGISTRY,
            raw,
            checkpoint=f"{workdir}/cp",
            mode="FAILFAST",
        )


def test_ingest_checkpoint_and_replay_idempotence(spark, workdir):
    """Re-running the drained stream adds nothing (checkpoint respected);
    re-processing the same batch df with the same batch_id overwrites
    rather than double-appends (T7)."""
    from databricks_end_to_end_streaming_spark.streaming.ingest import (
        demux_decode_batch,
    )

    events = generate_events(30, seed=6)
    recs = events_to_wire(events)
    write_topic_files(spark, recs, f"{workdir}/topic")
    raw = ParquetTable(f"{workdir}/raw")
    src = file_stream(spark, f"{workdir}/topic")
    ingest_avro_stream(src, CONFLUENT_REGISTRY, raw, checkpoint=f"{workdir}/cp")
    assert raw.read(spark).count() == 30

    # second run, same checkpoint: no new data -> no new rows
    ingest_avro_stream(
        file_stream(spark, f"{workdir}/topic"),
        CONFLUENT_REGISTRY,
        raw,
        checkpoint=f"{workdir}/cp",
    )
    assert raw.read(spark).count() == 30

    # simulate a foreachBatch REPLAY of batch 0: same token -> overwrite
    batch_df = spark.read.parquet(f"{workdir}/topic")
    demux_decode_batch(
        batch_df, CONFLUENT_REGISTRY, confluent_framing(), raw, batch_id=0
    )
    assert raw.read(spark).count() == 30


def test_glue_zlib_compressed_payloads_decode(spark, workdir):
    """Glue compression byte 5: the demux inflates zlib payloads before
    Avro decode — a robustness extension over the reference, which
    slices the byte into its opaque header and would feed compressed
    bytes to from_avro (ingest.scala:33-45). Compressed and plain
    batches must land identical tables."""
    from databricks_end_to_end_streaming_spark.registry import (
        InMemorySchemaRegistry,
    )
    from databricks_end_to_end_streaming_spark.schemas import (
        PRODUCT_V1_JSON,
        PRODUCT_V2_JSON,
    )
    from databricks_end_to_end_streaming_spark.sources import (
        events_to_wire,
        generate_events,
    )
    from databricks_end_to_end_streaming_spark.sources.files import WIRE_SCHEMA
    from databricks_end_to_end_streaming_spark.streaming.ingest import (
        demux_decode_batch,
        glue_framing,
    )

    events = generate_events(60, seed=21, v1_ratio=0.5)
    # registry keyed by the glue uuid hex the demux extracts
    from databricks_end_to_end_streaming_spark.sources.generator import (
        GLUE_UUIDS,
    )

    registry = InMemorySchemaRegistry(
        {
            GLUE_UUIDS[1].hex: PRODUCT_V1_JSON,
            GLUE_UUIDS[2].hex: PRODUCT_V2_JSON,
        }
    )

    def ingest(recs, path):
        rows = [
            (r.key, r.value, r.topic, r.partition, r.offset, r.timestamp,
             r.timestampType)
            for r in recs
        ]
        batch = spark.createDataFrame(rows, WIRE_SCHEMA)
        table = ParquetTable(path)
        demux_decode_batch(batch, registry, glue_framing(), table, batch_id=0)
        return table.read(spark)

    plain = ingest(
        events_to_wire(events, framing="glue"), f"{workdir}/glue_plain"
    )
    comp = ingest(
        events_to_wire(events, framing="glue", glue_compression=5),
        f"{workdir}/glue_zlib",
    )
    cols = ["offset", "valueSchemaId", "parsedValue"]
    assert sorted(map(str, plain.select(cols).collect())) == sorted(
        map(str, comp.select(cols).collect())
    )
    assert comp.count() == 60
    # decoded structs carry real values (not PERMISSIVE nulls)
    assert comp.where(F.col("parsedValue.productId").isNull()).count() == 0


def test_glue_corrupt_compressed_payload_follows_permissive(spark, workdir):
    """Corruption in BOTH layers lands in the PERMISSIVE contract:
    offset 3 carries a validly-compressed but truncated Avro body, and
    offset 5's zlib stream itself is truncated (the inflate stage keeps
    its bytes rather than crashing; Avro decode then rejects them)."""
    from databricks_end_to_end_streaming_spark.registry import (
        InMemorySchemaRegistry,
    )
    from databricks_end_to_end_streaming_spark.schemas import (
        PRODUCT_V1_JSON,
        PRODUCT_V2_JSON,
    )
    from databricks_end_to_end_streaming_spark.sources import (
        events_to_wire,
        generate_events,
    )
    from databricks_end_to_end_streaming_spark.sources.files import WIRE_SCHEMA
    from databricks_end_to_end_streaming_spark.sources.generator import (
        GLUE_UUIDS,
    )
    from databricks_end_to_end_streaming_spark.streaming.ingest import (
        demux_decode_batch,
        glue_framing,
    )

    events = generate_events(20, seed=22, v1_ratio=1.0)
    recs = events_to_wire(
        events, framing="glue", glue_compression=5, corrupt_offsets={3}
    )
    # break the zlib stream itself on offset 5 (keep the 18-byte header)
    import dataclasses

    recs[5] = dataclasses.replace(recs[5], value=recs[5].value[: 18 + 4])
    registry = InMemorySchemaRegistry(
        {
            GLUE_UUIDS[1].hex: PRODUCT_V1_JSON,
            GLUE_UUIDS[2].hex: PRODUCT_V2_JSON,
        }
    )
    rows = [
        (r.key, r.value, r.topic, r.partition, r.offset, r.timestamp,
         r.timestampType)
        for r in recs
    ]
    batch = spark.createDataFrame(rows, WIRE_SCHEMA)
    table = ParquetTable(f"{workdir}/glue_corrupt")
    demux_decode_batch(batch, registry, glue_framing(), table, batch_id=0)
    got = table.read(spark)
    assert got.count() == 20
    nulls = got.where(F.col("parsedValue.productId").isNull())
    assert sorted(r["offset"] for r in nulls.collect()) == [3, 5]


def test_poison_pills_quarantine_instead_of_killing_the_batch(spark, workdir):
    """A foreign-format record and an unknown schema id land raw in the
    quarantine table (tagged with reasons) while every valid record
    still decodes — the one-bad-record-kills-the-topic outage becomes
    an inspectable table."""
    import dataclasses
    import struct as _struct
    from datetime import datetime, timezone

    from databricks_end_to_end_streaming_spark.registry import (
        InMemorySchemaRegistry,
    )
    from databricks_end_to_end_streaming_spark.schemas import PRODUCT_V1_JSON
    from databricks_end_to_end_streaming_spark.sources import (
        events_to_wire,
        generate_events,
    )
    from databricks_end_to_end_streaming_spark.sources.files import WIRE_SCHEMA
    from databricks_end_to_end_streaming_spark.sources.generator import (
        WireRecord,
    )
    from databricks_end_to_end_streaming_spark.streaming.ingest import (
        confluent_framing,
        demux_decode_batch,
    )

    events = generate_events(10, seed=33, v1_ratio=1.0)
    recs = list(events_to_wire(events, framing="confluent"))
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    # poison 1: foreign bytes (no 0x00 magic)
    recs.append(
        WireRecord(b"k", b"\xde\xad\xbe\xef-not-avro", "t", 0, 100, ts, 0)
    )
    # poison 2: valid framing, schema id 99 unknown to the registry
    recs.append(
        WireRecord(
            b"k", b"\x00" + _struct.pack(">I", 99) + b"\x02", "t", 0, 101, ts, 0
        )
    )
    registry = InMemorySchemaRegistry({1: PRODUCT_V1_JSON})
    rows = [
        (r.key, r.value, r.topic, r.partition, r.offset, r.timestamp,
         r.timestampType)
        for r in recs
    ]
    batch = spark.createDataFrame(rows, WIRE_SCHEMA)
    raw = ParquetTable(f"{workdir}/pp_raw")
    quarantine = ParquetTable(f"{workdir}/pp_quarantine")

    # without a quarantine table the batch must fail LOUDLY
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="wire-format"):
        demux_decode_batch(batch, registry, confluent_framing(), raw, batch_id=0)

    demux_decode_batch(
        batch, registry, confluent_framing(), raw, batch_id=0,
        quarantine=quarantine,
    )
    got = raw.read(spark)
    assert got.count() == 10  # all valid records decoded
    assert got.where(F.col("parsedValue.productId").isNull()).count() == 0
    q = {r["offset"]: r["quarantineReason"] for r in quarantine.read(spark).collect()}
    assert q == {100: "bad_framing", 101: "unknown_schema_id"}
    # replay: same batch id overwrites, no duplicates anywhere
    demux_decode_batch(
        batch, registry, confluent_framing(), raw, batch_id=0,
        quarantine=quarantine,
    )
    assert raw.read(spark).count() == 10
    assert quarantine.read(spark).count() == 2


def test_quarantine_replay_after_registry_catches_up(spark, workdir):
    """The recovery half of the dead-letter story: once the registry
    learns the schema id that poisoned ingestion, replay_quarantined
    drains those records through the SAME decode path into the target;
    the genuinely-bad record stays quarantined, and replaying twice
    never double-appends."""
    import struct as _struct
    from datetime import datetime, timezone

    from databricks_end_to_end_streaming_spark.registry import (
        InMemorySchemaRegistry,
    )
    from databricks_end_to_end_streaming_spark.schemas import PRODUCT_V1_JSON
    from databricks_end_to_end_streaming_spark.sources import (
        events_to_wire,
        generate_events,
    )
    from databricks_end_to_end_streaming_spark.sources.files import WIRE_SCHEMA
    from databricks_end_to_end_streaming_spark.sources.generator import (
        WireRecord,
    )
    from databricks_end_to_end_streaming_spark.streaming.ingest import (
        confluent_framing,
        demux_decode_batch,
        replay_quarantined,
    )

    events = generate_events(8, seed=5, v1_ratio=1.0)
    recs = list(events_to_wire(events, framing="confluent"))
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    recs.append(WireRecord(b"k", b"\xff-junk", "t", 0, 100, ts, 0))  # forever bad
    # schema id 99: unknown NOW, registered later; payload = long 1
    recs.append(
        WireRecord(
            b"k", b"\x00" + _struct.pack(">I", 99) + b"\x02", "t", 0, 101, ts, 0
        )
    )
    registry = InMemorySchemaRegistry({1: PRODUCT_V1_JSON})
    batch = spark.createDataFrame(
        [
            (r.key, r.value, r.topic, r.partition, r.offset, r.timestamp,
             r.timestampType)
            for r in recs
        ],
        WIRE_SCHEMA,
    )
    raw = ParquetTable(f"{workdir}/rp_raw")
    quarantine = ParquetTable(f"{workdir}/rp_quarantine")
    demux_decode_batch(
        batch, registry, confluent_framing(), raw, batch_id=0,
        quarantine=quarantine,
    )
    assert raw.read(spark).count() == 8
    assert quarantine.read(spark).count() == 2

    # replay BEFORE the registry knows 99: nothing drains
    report = replay_quarantined(
        spark, quarantine, registry, raw, replay_batch_id=1_000_001
    )
    assert report == {"attempted": 2, "replayed": 0, "still_quarantined": 2}

    # the registry catches up; the late schema decodes payload 0x02
    registry.register(
        99,
        '{"type": "record", "name": "flagged",'
        ' "fields": [{"name": "flag", "type": "long"}]}',
    )
    report = replay_quarantined(
        spark, quarantine, registry, raw, replay_batch_id=1_000_002
    )
    assert report == {"attempted": 2, "replayed": 1, "still_quarantined": 1}
    got = raw.read(spark)
    assert got.count() == 9
    assert got.where("parsedValue.flag = 1").count() == 1
    left = quarantine.read(spark).collect()
    assert len(left) == 1 and left[0]["quarantineReason"] == "bad_framing"

    # same replay wave id again: overwrites itself, no duplicates
    report = replay_quarantined(
        spark, quarantine, registry, raw, replay_batch_id=1_000_002
    )
    assert report["still_quarantined"] == 1
    assert raw.read(spark).count() == 9


def test_null_value_tombstone_is_quarantined_not_lost(spark, workdir):
    """A NULL Kafka value (tombstone) makes the wire-format predicate
    NULL under three-valued logic; the demux must coalesce that to
    bad-framing so the record lands in the quarantine table (or fails
    loudly without one) instead of silently vanishing — the r5 review
    found the NULL slipped through both the bad filter and the capture
    bookkeeping."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from databricks_end_to_end_streaming_spark.registry import (
        InMemorySchemaRegistry,
    )
    from databricks_end_to_end_streaming_spark.schemas import PRODUCT_V1_JSON
    from databricks_end_to_end_streaming_spark.sources import (
        events_to_wire,
        generate_events,
    )
    from databricks_end_to_end_streaming_spark.sources.files import WIRE_SCHEMA
    from databricks_end_to_end_streaming_spark.sources.generator import (
        WireRecord,
    )
    from databricks_end_to_end_streaming_spark.streaming.ingest import (
        confluent_framing,
        demux_decode_batch,
    )

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    recs = list(
        events_to_wire(generate_events(5, seed=44, v1_ratio=1.0), framing="confluent")
    )
    recs.append(WireRecord(b"k", None, "t", 0, 200, ts, 0))  # tombstone
    registry = InMemorySchemaRegistry({1: PRODUCT_V1_JSON})
    rows = [
        (r.key, r.value, r.topic, r.partition, r.offset, r.timestamp,
         r.timestampType)
        for r in recs
    ]
    batch = spark.createDataFrame(rows, WIRE_SCHEMA)
    raw = ParquetTable(f"{workdir}/ts_raw")
    quarantine = ParquetTable(f"{workdir}/ts_quarantine")

    with _pytest.raises(RuntimeError, match="wire-format"):
        demux_decode_batch(batch, registry, confluent_framing(), raw, batch_id=0)

    demux_decode_batch(
        batch, registry, confluent_framing(), raw, batch_id=0,
        quarantine=quarantine,
    )
    assert raw.read(spark).count() == 5
    q = quarantine.read(spark).collect()
    assert len(q) == 1 and q[0]["offset"] == 200
    assert q[0]["quarantineReason"] == "bad_framing"


def test_write_time_file_sizing_small_batch(spark, workdir):
    """The stats pass's per-id counts size each subset's decode and
    write: a small micro-batch lands as ONE parquet file per schema id,
    not one per upstream partition (the streaming small-file problem)."""
    import glob as _glob

    from databricks_end_to_end_streaming_spark.streaming.ingest import (
        demux_decode_batch,
    )

    events = generate_events(200, seed=42)
    batch = wire_df(spark, events).repartition(16)
    target = ParquetTable(f"{workdir}/raw_sized")
    demux_decode_batch(
        batch, CONFLUENT_REGISTRY, confluent_framing(), target, batch_id=0
    )
    for sid in (1, 2):
        files = _glob.glob(f"{workdir}/raw_sized/batchid=0/schemaid={sid}/*.parquet")
        assert len(files) == 1, files
    # rows all arrived despite the repartition
    assert target.read(spark).count() == 200


def _job_stages(store, lo: int, hi: int) -> set[int]:
    """Stage ids of the status store's jobs with lo < job id <= hi."""
    jobs = store.jobsList(None)  # newest first
    out: set[int] = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= lo:
            break
        if j.jobId() <= hi:
            s = j.stageIds()
            out |= {s.apply(k) for k in range(s.size())}
    return out


def test_demux_sizes_subsets_without_a_shuffle(spark, workdir, monkeypatch):
    """The decode coalesce is the demux's only sizing step: past the
    stats pass, decoding and writing a small two-id batch spread over 16
    partitions shuffles nothing, and a bad-framing quarantine subset of
    such a batch still lands as one file."""
    import glob as _glob
    from datetime import datetime, timezone

    from py4j.protocol import Py4JJavaError

    from databricks_end_to_end_streaming_spark.sources.files import WIRE_SCHEMA
    from databricks_end_to_end_streaming_spark.streaming import ingest

    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()

    def last_job_id() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    # the first decode plan is built after the stats pass has run: its
    # job-id mark separates the stats aggregation from decode + write
    marks: list[int] = []
    decode = ingest.decode_avro

    def marking_decode(*args, **kw):
        if not marks:
            marks.append(last_job_id())
        return decode(*args, **kw)

    monkeypatch.setattr(ingest, "decode_avro", marking_decode)
    batch = wire_df(spark, generate_events(200, seed=42)).repartition(16)
    start = last_job_id()
    ids = ingest.demux_decode_batch(
        batch, CONFLUENT_REGISTRY, confluent_framing(),
        ParquetTable(f"{workdir}/raw"), batch_id=0,
    )
    end = last_job_id()
    assert ids == [1, 2] and marks and start < marks[0] < end
    # stages that already ran before the mark (the input repartition,
    # the stats aggregation) show up again as skipped: exclude them
    fresh = _job_stages(store, marks[0], end) - _job_stages(store, start, marks[0])
    shuffled = 0
    for sid in fresh:
        try:
            shuffled += store.lastStageAttempt(sid).shuffleWriteBytes()
        except Py4JJavaError:  # a stage that never ran
            continue
    assert shuffled == 0

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        (b"k", b"\xde\xad-not-avro", "t", 0, 100 + i, ts, 0) for i in range(8)
    ]
    bad = spark.createDataFrame(rows, WIRE_SCHEMA)
    mixed = wire_df(spark, generate_events(40, seed=7)).union(bad).repartition(16)
    quarantine = ParquetTable(f"{workdir}/quarantine")
    ingest.demux_decode_batch(
        mixed, CONFLUENT_REGISTRY, confluent_framing(),
        ParquetTable(f"{workdir}/raw2"), batch_id=0, quarantine=quarantine,
    )
    files = _glob.glob(
        f"{workdir}/quarantine/batchid=0/reason=bad_framing/sid=any/*.parquet"
    )
    assert len(files) == 1, files
    assert quarantine.read(spark).count() == 8
