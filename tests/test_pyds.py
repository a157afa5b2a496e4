"""Custom Python data sources (sources/pyds.py): the kafkasim streaming
source drives real Structured Streaming offset semantics (S1/S2 without
a broker or connector jar)."""

from __future__ import annotations

import json
import os

import pytest

from databricks_end_to_end_streaming_spark.registry import InMemorySchemaRegistry
from databricks_end_to_end_streaming_spark.schemas import (
    PRODUCT_V1_JSON,
    PRODUCT_V2_JSON,
)
from databricks_end_to_end_streaming_spark.sources.generator import (
    generate_events,
    events_to_wire,
)
from databricks_end_to_end_streaming_spark.sources.pyds import (
    append_records,
    register_all,
)
from databricks_end_to_end_streaming_spark.streaming import ParquetTable
from databricks_end_to_end_streaming_spark.streaming.ingest import (
    ingest_avro_stream,
)


@pytest.fixture()
def sim(spark):
    register_all(spark)
    return spark


def _fill(broker: str, n: int = 20, seed: int = 42) -> int:
    recs = events_to_wire(
        generate_events(n, seed=seed), framing="confluent", topic="t"
    )
    append_records(broker, recs)
    return len(recs)


def _drain(spark, broker: str, out: str, ckpt: str, **opts) -> None:
    reader = spark.readStream.format("kafkasim").option("path", broker)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_drains_and_resumes_exactly_once(sim, workdir):
    broker = f"{workdir}/broker"
    out, ckpt = f"{workdir}/out", f"{workdir}/ckpt"
    n1 = _fill(broker, 20)
    _drain(sim, broker, out, ckpt)
    assert sim.read.parquet(out).count() == n1
    # second drain with NO new data appends nothing (offset log respected)
    _drain(sim, broker, out, ckpt)
    assert sim.read.parquet(out).count() == n1
    # new appends arrive incrementally, offsets stay unique per partition
    n2 = _fill(broker, 5, seed=9)
    _drain(sim, broker, out, ckpt)
    df = sim.read.parquet(out)
    assert df.count() == n1 + n2
    assert df.select("partition", "offset").distinct().count() == n1 + n2
    assert set(df.columns) == {
        "key", "value", "topic", "partition", "offset", "timestamp",
        "timestampType",
    }


def test_batch_read_sees_whole_topic(sim, workdir):
    broker = f"{workdir}/broker_b"
    n = _fill(broker, 15)
    df = sim.read.format("kafkasim").option("path", broker).load()
    assert df.count() == n
    # per-partition offsets are dense from 0
    for row in (
        df.groupBy("partition").count().collect()
    ):
        part = df.where(f"partition = {row['partition']}")
        offs = sorted(r["offset"] for r in part.select("offset").collect())
        assert offs == list(range(len(offs)))


def test_starting_offsets_latest_skips_backlog(sim, workdir):
    broker = f"{workdir}/broker_l"
    _fill(broker, 12)
    out, ckpt = f"{workdir}/out_l", f"{workdir}/ckpt_l"
    _drain(sim, broker, out, ckpt, startingOffsets="latest")
    assert not os.path.exists(out) or sim.read.parquet(out).count() == 0
    n2 = _fill(broker, 4, seed=5)
    _drain(sim, broker, out, ckpt, startingOffsets="latest")
    assert sim.read.parquet(out).count() == n2  # only post-start records


def test_starting_offsets_per_partition_json(sim, workdir):
    """The reference's S1 startingOffsets shape: {"topic": {"0": K}}
    (ingest_raw.scala:92-95) — partition 0 starts at K, others at 0."""
    broker = f"{workdir}/broker_j"
    _fill(broker, 20)
    batch = sim.read.format("kafkasim").option("path", broker).load()
    p0_total = batch.where("partition = 0").count()
    total = batch.count()
    spec = json.dumps({"t": {"0": 2}})
    out, ckpt = f"{workdir}/out_j", f"{workdir}/ckpt_j"
    _drain(sim, broker, out, ckpt, startingOffsets=spec, topic="t")
    df = sim.read.parquet(out)
    assert df.count() == total - 2
    assert df.where("partition = 0").count() == p0_total - 2
    assert df.where("partition = 0 and offset < 2").count() == 0


def test_kafkasim_feeds_the_ingest_demux(sim, workdir):
    """Full S1+K1 parity path through a REAL readStream source: kafkasim
    -> foreachBatch schema demux -> evolving raw table."""
    broker = f"{workdir}/broker_i"
    n = _fill(broker, 30)
    registry = InMemorySchemaRegistry({1: PRODUCT_V1_JSON, 2: PRODUCT_V2_JSON})
    raw = ParquetTable(f"{workdir}/raw")
    stream = sim.readStream.format("kafkasim").option("path", broker).load()
    ingest_avro_stream(stream, registry, raw, f"{workdir}/ckpt_i")
    got = raw.read(sim)
    assert got.count() == n
    flat = got.select("parsedValue.*")
    assert flat.where("productId is not null").count() == n
    # v1 rows read NULL for v2-only columns (evolution contract, T9)
    assert flat.where("size is null").count() > 0
    assert flat.where("size is not null").count() > 0


def test_kafkasim_drives_full_medallion_dag(sim, workdir):
    """The reference's whole 4-task job DAG (SURVEY §3.4) from a real
    readStream source: kafkasim -> ingest demux -> bronze -> silver ->
    gold, each stage availableNow. Gold equals the batch recompute of
    the same corpus."""
    from databricks_end_to_end_streaming_spark.streaming.medallion import (
        run_pipeline,
    )

    broker = f"{workdir}/broker_m"
    n = _fill(broker, 40)
    registry = InMemorySchemaRegistry({1: PRODUCT_V1_JSON, 2: PRODUCT_V2_JSON})
    raw = ParquetTable(f"{workdir}/raw_m")
    stream = sim.readStream.format("kafkasim").option("path", broker).load()
    ingest_avro_stream(stream, registry, raw, f"{workdir}/ckpt_m")

    tables = run_pipeline(sim, workdir, raw, cutoff="2024-01-01 00:00:00")
    silver = tables["silver"].read(sim)
    gold = tables["gold"].read(sim)
    # silver deduplicates on eventId; the generator made n unique events
    assert silver.count() == n
    # gold aggregates every (type, color, size) group present in silver
    assert gold.count() == silver.select("type", "color", "size").distinct().count()
    assert gold.agg({"count_type": "sum"}).collect()[0][0] == n


def test_batch_produce_then_read_back(sim, workdir):
    """K4 as a real Spark sink: df.write.format('kafkasim') stages on
    executors and commits on the driver; the broker then serves the
    records back with dense per-partition offsets."""
    from databricks_end_to_end_streaming_spark.schemas import PRODUCT_V1_JSON
    from databricks_end_to_end_streaming_spark.sources.spark_producer import (
        to_confluent_wire,
    )

    broker = f"{workdir}/broker_w"
    events = sim.createDataFrame(
        [(f"p{i}", f"e{i:04d}", "created", 1704067200 + i) for i in range(24)],
        "productId string, eventId string, type string, timestamp long",
    )
    wire = to_confluent_wire(events, 1, PRODUCT_V1_JSON, topic="t")
    wire.write.format("kafkasim").option("path", broker).mode("append").save()
    back = sim.read.format("kafkasim").option("path", broker).load()
    assert back.count() == 24
    for row in back.groupBy("partition").count().collect():
        offs = sorted(
            r["offset"]
            for r in back.where(f"partition = {row['partition']}").collect()
        )
        assert offs == list(range(len(offs)))


def test_stream_produce_is_exactly_once_across_drains(sim, workdir):
    """readStream from one broker -> writeStream.format('kafkasim') into
    another: records relay once per drain; a second drain with no new
    input produces nothing (streaming commit log + batch marker)."""
    src, dst = f"{workdir}/broker_src", f"{workdir}/broker_dst"
    ckpt = f"{workdir}/ckpt_relay"
    n1 = _fill(src, 18)

    def relay():
        q = (
            sim.readStream.format("kafkasim").option("path", src).load()
            .writeStream.format("kafkasim")
            .option("path", dst)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    relay()
    assert sim.read.format("kafkasim").option("path", dst).load().count() == n1
    relay()  # no new input -> no duplicates
    assert sim.read.format("kafkasim").option("path", dst).load().count() == n1
    n2 = _fill(src, 7, seed=3)
    relay()
    out = sim.read.format("kafkasim").option("path", dst).load()
    assert out.count() == n1 + n2
    # the relayed topic is fully ingestible (values survived bit-exact)
    registry = InMemorySchemaRegistry({1: PRODUCT_V1_JSON, 2: PRODUCT_V2_JSON})
    raw = ParquetTable(f"{workdir}/raw_relay")
    ingest_avro_stream(
        sim.readStream.format("kafkasim").option("path", dst).load(),
        registry,
        raw,
        f"{workdir}/ckpt_relay_ingest",
    )
    assert raw.read(sim).select("parsedValue.eventId").distinct().count() == n1 + n2


def test_produce_without_partition_uses_key_hash(sim, workdir):
    broker = f"{workdir}/broker_h"
    rows = sim.createDataFrame(
        [(f"k{i}".encode(), f"v{i}".encode()) for i in range(40)],
        "key binary, value binary",
    )
    rows.write.format("kafkasim").option("path", broker).option(
        "numPartitions", "3"
    ).mode("append").save()
    back = sim.read.format("kafkasim").option("path", broker).load()
    assert back.count() == 40
    parts = {r["partition"] for r in back.select("partition").distinct().collect()}
    assert parts <= {0, 1, 2} and len(parts) > 1
    # same key -> same partition (Kafka's contract)
    again = f"{workdir}/broker_h2"
    rows.write.format("kafkasim").option("path", again).option(
        "numPartitions", "3"
    ).mode("append").save()
    a = {r["key"]: r["partition"] for r in back.collect()}
    b = {
        r["key"]: r["partition"]
        for r in sim.read.format("kafkasim").option("path", again).load().collect()
    }
    assert {bytes(k): v for k, v in a.items()} == {bytes(k): v for k, v in b.items()}
