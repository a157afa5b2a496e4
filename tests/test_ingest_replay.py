"""An ingest replay stays exactly-once through bronze.

Bronze reads raw as a file stream, and raw has no ``_spark_metadata``
log: a replayed ingest batch that rewrote its raw token under new file
names would be read by bronze a second time. ``idempotent_append``
keeps a committed token's files, so the replay lands nothing new."""

from __future__ import annotations

import os

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
from databricks_end_to_end_streaming_spark.streaming import (
    ParquetTable,
    bronze_stage,
    ingest_avro_stream,
)

REGISTRY = InMemorySchemaRegistry({1: PRODUCT_V1_JSON, 2: PRODUCT_V2_JSON})


def _files(path: str) -> list[str]:
    return sorted(
        os.path.join(root, f) for root, _dirs, files in os.walk(path) for f in files
    )


def test_ingest_replay_does_not_double_bronze(spark, workdir):
    write_topic_files(
        spark, events_to_wire(generate_events(200, seed=5)), f"{workdir}/topic"
    )
    raw = ParquetTable(f"{workdir}/raw")
    bronze = ParquetTable(f"{workdir}/bronze")
    commit = os.path.join(workdir, "cp", "ingest", "commits", "0")

    def run() -> None:
        ingest_avro_stream(
            file_stream(spark, f"{workdir}/topic"),
            REGISTRY,
            raw,
            f"{workdir}/cp/ingest",
        )
        bronze_stage(spark, raw, bronze, f"{workdir}/cp/bronze")

    run()
    assert raw.read(spark).count() == bronze.read(spark).count() == 200
    raw_files = _files(raw.path)

    # crash after the raw write, before ingest's commit marker: the
    # restart re-runs batch 0 over the same offsets (the checkpoint is a
    # checksummed FS, so the .crc sidecar goes with the marker)
    os.remove(commit)
    crc = os.path.join(os.path.dirname(commit), ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert os.path.exists(commit)  # batch 0 ran again and committed
    assert raw.read(spark).count() == 200
    assert bronze.read(spark).count() == 200
    assert _files(raw.path) == raw_files
