"""Custom Python data sources (PySpark 4 public DataSource API).

One source that closes the container's missing-connector-jar gap with
a *driveable* implementation instead of a config-only builder:

* ``kafkasim`` — a Kafka-shaped STREAMING (and batch) source over a
  local "broker" directory: one append-only jsonl log per partition,
  record offsets = line numbers. It speaks the reference's option
  surface — ``startingOffsets`` as ``earliest`` / ``latest`` / the
  per-topic-per-partition JSON of ingest_raw.scala:92-95 — and plugs
  into Structured Streaming's real offset/commit log, so
  checkpoint-respecting restarts and replays exercise the exact
  semantics the Kafka connector provides (S1/S2) without a broker.
  The stream reader is a ``SimpleDataSourceStreamReader`` (driver-side
  reads): right for a test/simulation source; a real broker at 100 TB
  uses the JVM Kafka connector (sources/kafka.py builds those options)
  with executor-side partition planning.

It registers with ``spark.dataSource.register`` (register_all below).
Avro container files need no custom source: ``avro/ocf.py`` reads and
writes them through Spark's built-in Avro format.
"""

from __future__ import annotations

import base64
import glob
import json
import os
from collections.abc import Iterator, Sequence
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql import types as T

KAFKA_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


# ---------------------------------------------------------------- broker


def _partition_file(path: str, pid: int) -> str:
    return os.path.join(path, f"p{pid}.jsonl")


def _partition_ids(path: str) -> list[int]:
    return sorted(
        int(os.path.basename(f)[1:-6])
        for f in glob.glob(os.path.join(path, "p*.jsonl"))
    )


def append_records(path: str, records) -> None:
    """Producer side of the simulator: append WireRecords (or anything
    with key/value/topic/partition/timestamp/timestampType attrs) to the
    per-partition logs. Offsets are implicit line numbers, so appends
    are the only mutation — exactly a Kafka partition's contract."""
    os.makedirs(path, exist_ok=True)
    by_pid: dict[int, list[str]] = {}
    for r in records:
        line = json.dumps(
            {
                "key": base64.b64encode(r.key).decode() if r.key else None,
                "value": base64.b64encode(r.value).decode(),
                "topic": r.topic,
                "ts_us": int(r.timestamp.timestamp() * 1_000_000),
                "timestampType": r.timestampType,
            }
        )
        by_pid.setdefault(r.partition, []).append(line)
    for pid, lines in by_pid.items():
        with open(_partition_file(path, pid), "a") as f:
            f.write("\n".join(lines) + "\n")


def _read_lines(path: str, pid: int, start: int, end: int | None) -> list[str]:
    fp = _partition_file(path, pid)
    if not os.path.exists(fp):
        return []
    with open(fp) as f:
        lines = f.read().splitlines()
    return lines[start:end]


def _counts(path: str) -> dict[str, int]:
    out = {}
    for pid in _partition_ids(path):
        with open(_partition_file(path, pid)) as f:
            out[str(pid)] = sum(1 for _ in f)
    return out


def _row(line: str, topic_default: str, pid: int, offset: int):
    rec = json.loads(line)
    return (
        base64.b64decode(rec["key"]) if rec.get("key") else None,
        base64.b64decode(rec["value"]),
        rec.get("topic") or topic_default,
        pid,
        offset,
        datetime.fromtimestamp(rec["ts_us"] / 1_000_000, tz=timezone.utc),
        rec.get("timestampType", 1),
    )


# ------------------------------------------------------------- kafkasim


class _KafkaSimStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kafkasim needs .option('path', <broker dir>)")
        self.topic = options.get("topic", os.path.basename(self.path.rstrip("/")))
        self.starting = options.get("startingOffsets", "earliest")

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API)
        if self.starting == "latest":
            return _counts(self.path)
        if self.starting and self.starting not in ("earliest", "latest"):
            # the reference's per-topic-per-partition JSON:
            # {"topic": {"0": 25}} (ingest_raw.scala:92-95)
            spec = json.loads(self.starting)
            per_part = spec.get(self.topic, {})
            return {
                str(pid): int(per_part.get(str(pid), 0))
                for pid in _partition_ids(self.path)
            }
        return {str(pid): 0 for pid in _partition_ids(self.path)}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        end = _counts(self.path)
        # partitions can appear after the stream starts
        merged_start = {pid: int(start.get(pid, 0)) for pid in end}
        return iter(self._between(merged_start, end)), {**start, **end}

    def readBetweenOffsets(  # noqa: N802 (Spark API)
        self, start: dict, end: dict
    ) -> Iterator[tuple]:
        return iter(self._between(start, end))

    def _between(self, start: dict, end: dict) -> list[tuple]:
        # iter(list), not a generator: Spark's prefetch cache both
        # advances (next) and copy.copy()s the returned iterator for
        # replay — a list iterator supports both, a generator neither
        rows: list[tuple] = []
        for pid_s, hi in sorted(end.items(), key=lambda kv: int(kv[0])):
            pid = int(pid_s)
            lo = int(start.get(pid_s, 0))
            if hi <= lo:
                continue
            for i, line in enumerate(_read_lines(self.path, pid, lo, hi)):
                rows.append(_row(line, self.topic, pid, lo + i))
        return rows

    def commit(self, end: dict) -> None:
        pass  # progress lives in the streaming engine's offset log


class _KafkaSimBatchReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kafkasim needs .option('path', <broker dir>)")
        self.topic = options.get("topic", os.path.basename(self.path.rstrip("/")))

    def partitions(self) -> Sequence[InputPartition]:
        return [InputPartition(pid) for pid in _partition_ids(self.path)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        pid = partition.value
        for i, line in enumerate(_read_lines(self.path, pid, 0, None)):
            yield _row(line, self.topic, pid, i)


class _ProduceCommit(WriterCommitMessage):
    def __init__(self, staged_file: str, task_id: int):
        self.staged_file = staged_file
        self.task_id = task_id


class _KafkaSimWriter(DataSourceWriter, DataSourceStreamWriter):
    """Produce INTO the simulated broker — the Kafka-sink side of the
    reference's producers (K4), as a real two-phase Spark sink:
    executors stage their rows to uniquely-named files (``write``),
    the driver appends staged content to the per-partition logs in
    task order (``commit``) and records the batch id, so a replayed
    micro-batch commit is a no-op — exactly-once produce, the semantics
    Kafka itself only gets with transactions."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("kafkasim needs .option('path', <broker dir>)")
        self.topic = options.get("topic", os.path.basename(self.path.rstrip("/")))
        self.n_partitions = int(options.get("numPartitions", "4"))

    # -- executor side --------------------------------------------------
    def write(self, iterator) -> _ProduceCommit:
        import uuid as _uuid

        from pyspark import TaskContext

        tc = TaskContext.get()
        task_id = tc.partitionId() if tc else 0
        staged_dir = os.path.join(self.path, ".staged")
        os.makedirs(staged_dir, exist_ok=True)
        staged = os.path.join(staged_dir, f"task-{task_id}-{_uuid.uuid4().hex}")
        lines = []
        for row in iterator:
            rec = row.asDict() if hasattr(row, "asDict") else dict(row)
            value = rec.get("value")
            if value is None:
                raise ValueError("kafkasim produce needs a binary 'value'")
            key = rec.get("key")
            pid = rec.get("partition")
            if pid is None:
                # keyed partitioning like Kafka's default partitioner;
                # hash must be deterministic across processes -> md5
                import hashlib

                basis = key if key is not None else value
                pid = int(
                    hashlib.md5(bytes(basis)).hexdigest()[:8], 16
                ) % self.n_partitions
            ts = rec.get("timestamp")
            ts_us = (
                int(ts.timestamp() * 1_000_000)
                if ts is not None
                else 0
            )
            lines.append(
                json.dumps(
                    {
                        "pid": int(pid),
                        "key": base64.b64encode(bytes(key)).decode()
                        if key is not None
                        else None,
                        "value": base64.b64encode(bytes(value)).decode(),
                        "topic": rec.get("topic") or self.topic,
                        "ts_us": ts_us,
                        "timestampType": rec.get("timestampType", 1),
                    }
                )
            )
        with open(staged, "w") as f:
            f.write("\n".join(lines))
        return _ProduceCommit(staged, task_id)

    # -- driver side ----------------------------------------------------
    def _committed_marker(self) -> str:
        return os.path.join(self.path, "_committed_batches.json")

    def commit(self, messages, batchId: int = -1) -> None:  # noqa: N803
        committed: set[int] = set()
        if os.path.exists(self._committed_marker()):
            with open(self._committed_marker()) as f:
                committed = set(json.load(f))
        replay = batchId >= 0 and batchId in committed
        for msg in sorted(
            (m for m in messages if m is not None), key=lambda m: m.task_id
        ):
            if not replay:
                by_pid: dict[int, list[str]] = {}
                with open(msg.staged_file) as f:
                    for line in f.read().splitlines():
                        if not line:
                            continue
                        rec = json.loads(line)
                        pid = rec.pop("pid")
                        by_pid.setdefault(pid, []).append(json.dumps(rec))
                for pid, lines in sorted(by_pid.items()):
                    with open(_partition_file(self.path, pid), "a") as f:
                        f.write("\n".join(lines) + "\n")
            os.remove(msg.staged_file)
        if batchId >= 0 and not replay:
            committed.add(batchId)
            with open(self._committed_marker(), "w") as f:
                json.dump(sorted(committed), f)

    def abort(self, messages, batchId: int = -1) -> None:  # noqa: N803
        for msg in messages:
            if msg is not None and os.path.exists(msg.staged_file):
                os.remove(msg.staged_file)


class KafkaSimDataSource(DataSource):
    """``spark.readStream.format("kafkasim").option("path", dir)`` — see
    module docstring."""

    @classmethod
    def name(cls) -> str:
        return "kafkasim"

    def schema(self):
        return KAFKA_SCHEMA

    def simpleStreamReader(self, schema):  # noqa: N802 (Spark API)
        return _KafkaSimStreamReader(self.options)

    def reader(self, schema) -> DataSourceReader:
        return _KafkaSimBatchReader(self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _KafkaSimWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802 (Spark API)
        return _KafkaSimWriter(self.options)


def register_all(spark) -> None:
    """Idempotent registration of every custom source."""
    spark.dataSource.register(KafkaSimDataSource)
