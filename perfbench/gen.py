"""Seeded load generator for the medallion benchmark.

A component separate from the system under test: it builds wire records
with the engine's own ``sources.generator`` (pure Python, no Spark) and
lands them as topic parquet files with pyarrow. Every file is written
under a hidden name (the Spark file source skips names starting with
``.``) and renamed into place, so a reader never sees half a file.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from databricks_end_to_end_streaming_spark.sources.generator import (
    events_to_wire,
    generate_events,
)

# Same columns and types as sources/files.py::WIRE_SCHEMA.
WIRE_ARROW = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)

# Gold keeps events at or after this instant; the generator starts here.
CUTOFF = "2024-01-01 00:00:00"
CUTOFF_TS = 1704067200


def wire_table(events: list[dict], offset0: int, seed: int) -> pa.Table:
    """Avro-encode and Confluent-frame ``events`` into one Arrow table
    whose offsets continue from ``offset0``."""
    recs = events_to_wire(events, seed=seed)
    return pa.table(
        [
            pa.array([r.key for r in recs], pa.binary()),
            pa.array([r.value for r in recs], pa.binary()),
            pa.array([r.topic for r in recs], pa.string()),
            pa.array([r.partition for r in recs], pa.int32()),
            pa.array(range(offset0, offset0 + len(recs)), pa.int64()),
            pa.array([r.timestamp for r in recs], pa.timestamp("us", tz="UTC")),
            pa.array([r.timestampType for r in recs], pa.int32()),
        ],
        schema=WIRE_ARROW,
    )


def write_atomic(table: pa.Table, directory: str, name: str) -> int:
    """Write ``table`` as ``directory/name`` via a hidden temp file and a
    rename; returns the file size in bytes."""
    tmp = os.path.join(directory, "." + name + ".tmp")
    pq.write_table(table, tmp)
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return os.path.getsize(final)


def expected_gold(events: list[dict], cutoff_ts: int = CUTOFF_TS) -> dict:
    """Pure-Python gold: dedup by eventId (first copy wins; copies are
    exact), keep events at or after the cutoff, then per (type, color,
    size) the three non-null counts and the latest timestamp."""
    first: dict[str, dict] = {}
    for ev in events:
        first.setdefault(ev["eventId"], ev)
    out: dict = {}
    for ev in first.values():
        if ev["timestamp"] < cutoff_ts:
            continue
        key = (ev["type"], ev.get("color"), ev.get("size"))
        n, n_color, n_size, last = out.get(key, (0, 0, 0, 0))
        out[key] = (
            n + 1,
            n_color + (ev.get("color") is not None),
            n_size + (ev.get("size") is not None),
            max(last, ev["timestamp"]),
        )
    return out


@dataclass
class Backlog:
    """A drain input: topic files plus what the outputs must hold."""

    topic_dir: str
    events: int
    unique: int
    gold: dict
    payloads: list[bytes] = field(repr=False)


def _gold_to_json(gold: dict) -> list:
    return [[*k, *v] for k, v in sorted(gold.items(), key=str)]


def _gold_from_json(rows: list) -> dict:
    return {tuple(r[:3]): tuple(r[3:]) for r in rows}


def backlog(root: str, seed: int, n_unique: int, n_files: int = 4) -> Backlog:
    """The ``drain`` backlog for ``seed``: ``n_unique`` events, 30% schema
    v1, about 10% followed by an exact repeat of their eventId. Cached
    under ``root`` per (seed, size), so a seed is generated once."""
    cache = os.path.join(root, f"drain-{seed}-{n_unique}")
    topic = os.path.join(cache, "topic")
    meta = os.path.join(cache, "expect.json")
    if not os.path.exists(meta):
        os.makedirs(topic, exist_ok=True)
        for f in os.listdir(topic):
            os.remove(os.path.join(topic, f))
        events = generate_events(n_unique, seed=seed, v1_ratio=0.3, duplicate_ratio=0.1)
        table = wire_table(events, 0, seed)
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            write_atomic(table.slice(i * step, step), topic, f"part-{i:05d}.parquet")
        expect = {
            "events": len(events),
            "unique": len({e["eventId"] for e in events}),
            "gold": _gold_to_json(expected_gold(events)),
        }
        tmp = meta + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(expect, fh)
        os.rename(tmp, meta)
    with open(meta) as fh:
        expect = json.load(fh)
    first = sorted(os.listdir(topic))[0]
    payloads = pq.read_table(os.path.join(topic, first), columns=["value"])
    return Backlog(
        topic_dir=topic,
        events=expect["events"],
        unique=expect["unique"],
        gold=_gold_from_json(expect["gold"]),
        payloads=payloads.column("value").to_pylist(),
    )


@dataclass
class Wave:
    table: pa.Table
    events: list[dict]
    unique_cum: int  # distinct eventIds in waves 0..this one


def trickle_waves(seed: int, n_waves: int, per_wave: int, replay: float = 0.1) -> list[Wave]:
    """``n_waves`` consecutive topic files of ``per_wave`` new events each,
    plus about ``replay`` x ``per_wave`` exact copies of events from the
    previous wave (the at-least-once redelivery silver must drop)."""
    rng = random.Random(seed)
    waves: list[Wave] = []
    seen: set[str] = set()
    offset = 0
    prev: list[dict] = []
    for w in range(n_waves):
        fresh = generate_events(
            per_wave,
            seed=rng.getrandbits(32),
            v1_ratio=0.3,
            base_ts=CUTOFF_TS + w * per_wave * 60,
        )
        events = fresh + [dict(e) for e in prev if rng.random() < replay]
        seen.update(e["eventId"] for e in events)
        table = wire_table(events, offset, rng.getrandbits(32))
        offset += table.num_rows
        waves.append(Wave(table, events, len(seen)))
        prev = fresh
    return waves


class WaveWriter(threading.Thread):
    """Open-loop producer: wave ``k`` is due at ``start + k * interval``
    whatever the pipeline is doing. Files are named from
    ``first_index`` on. ``due`` holds each wave's due time (``time.time()``
    seconds) and ``late`` how far past due its file landed."""

    def __init__(self, waves: list[Wave], topic_dir: str, interval: float,
                 start: float, first_index: int = 0):
        super().__init__(name="wave-writer", daemon=True)
        self.waves, self.topic_dir = waves, topic_dir
        self.interval, self.start_at = interval, start
        self.first_index = first_index
        self.due: list[float] = []
        self.late: list[float] = []
        self.error: BaseException | None = None
        self._stop_evt = threading.Event()

    def run(self) -> None:
        try:
            for k, wave in enumerate(self.waves):
                due = self.start_at + k * self.interval
                if self._stop_evt.wait(max(0.0, due - time.time())):
                    return
                name = f"wave-{self.first_index + k:06d}.parquet"
                write_atomic(wave.table, self.topic_dir, name)
                self.due.append(due)
                self.late.append(time.time() - due)
        except BaseException as e:  # surfaced by the workload after join()
            self.error = e

    def stop(self) -> None:
        self._stop_evt.set()


# ------------------------------------------------------------ batch_events

EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]


def events_table(path: str, seed: int, n_rows: int, n_users: int = 2000) -> str:
    """An ``events.parquet`` in the test tables' schema (event_id, ts, user_id,
    event_type, value, props) for the registered event queries: January
    2024 timestamps at microsecond precision, about 2% repeated
    event_ids. Written atomically; returns the directory."""
    os.makedirs(path, exist_ok=True)
    rng = random.Random(seed)
    base = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()
    span_us = 31 * 86400 * 1_000_000
    ts_us = sorted(rng.randrange(span_us) for _ in range(n_rows))
    ids = list(range(n_rows))
    for i in range(1, n_rows):
        if rng.random() < 0.02:
            ids[i] = ids[rng.randrange(i)]
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(
                [int(base * 1_000_000) + t for t in ts_us], pa.timestamp("us")
            ),
            "user_id": pa.array([rng.randrange(n_users) for _ in ts_us], pa.int64()),
            "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in ts_us]),
            "value": pa.array([round(rng.uniform(0, 100), 2) for _ in ts_us]),
            "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in ts_us]),
        }
    )
    write_atomic(table, path, "events.parquet")
    return path
