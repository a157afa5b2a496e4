"""Kafka -> raw-table ingestion with schema-registry demultiplexing.

The reference's only genuinely custom logic (SURVEY §7 M2, K1): each
micro-batch may interleave payloads written with different Avro schema
versions; the batch is cached, the set of schema ids present is collected
to the driver, and each id's subset is decoded with its own schema and
appended to the raw table, which union-widens across versions
(ingest_raw.scala:119-156 for Confluent framing, ingest.scala:123-177
for Glue framing).

Deliberate improvements over the reference (documented deviations):
* cache released at end of batch (the reference leaks it — SURVEY T8);
* per-(batch, schema-id) idempotent writes instead of bare appends, so
  foreachBatch replays don't double-append (SURVEY T7);
* no driver->executor broadcast of schema strings — the schema JSON is a
  plan literal captured in the decode closure (SURVEY §4).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..avro.functions import decode_avro
from ..functions.binary import (
    GLUE_COMPRESSION_ZLIB,
    confluent_payload,
    confluent_schema_id,
    glue_compression,
    glue_payload,
    glue_schema_uuid,
)
from ..registry import SchemaRegistry
from .medallion import drain, foreach_writer, run_continuous_foreach
from .sinks import ParquetTable, swap_dir

# Columns persisted to the raw table: the Kafka metadata the reference
# keeps (ingest.scala:153-160) + demux id + decoded struct.
RAW_COLUMNS = [
    "key",
    "topic",
    "partition",
    "offset",
    "timestamp",
    "timestampType",
    "valueSchemaId",
    "parsedValue",
]


@dataclass
class Framing:
    """Wire-format codec: how to slice the demux id + Avro payload out of
    the Kafka value bytes. ``compression_col`` (framings that carry a
    compression marker) selects rows whose payload must be inflated
    before Avro decode."""

    name: str
    schema_id_col: F.Column
    payload_col: F.Column
    compression_col: F.Column | None = None
    valid_col: F.Column | None = None


def confluent_framing() -> Framing:
    return Framing(
        "confluent",
        schema_id_col=confluent_schema_id("value"),
        payload_col=confluent_payload("value"),
        # wire-format sanity: magic byte 0x00 + room for the 5-byte
        # header (ingest_raw.scala:70-74 documents the magic byte; the
        # reference never checks it, so one foreign record would demux
        # into a garbage schema id and kill the stream)
        valid_col=(
            (F.length("value") >= 6)
            & (F.expr("substring(value, 1, 1)") == F.lit(b"\x00"))
        ),
    )


def glue_framing() -> Framing:
    return Framing(
        "glue",
        schema_id_col=glue_schema_uuid("value"),
        payload_col=glue_payload("value"),
        compression_col=glue_compression("value"),
        # header version byte is 3 (ingest.scala:33-45) + room for the
        # 18-byte header
        valid_col=(
            (F.length("value") >= 19)
            & (F.expr("substring(value, 1, 1)") == F.lit(b"\x03"))
        ),
    )


def _inflate_compressed(df: DataFrame, compression_col: str) -> DataFrame:
    """zlib-inflate payloads whose compression marker says so (Glue
    compression byte 5) — a robustness EXTENSION over the reference,
    which slices the byte into its opaque header and would feed
    compressed bytes to from_avro (ingest.scala:33-45,62-63). Arrow-
    batched like the codec itself; rows without the marker pass through
    untouched. Callers gate on a cheap cached-batch probe so the common
    uncompressed case never pays this pass."""
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    schema = df.schema

    def inflate(p) -> bytes:
        # A truncated/garbled stream keeps its original bytes: the Avro
        # decode then fails on them, so corruption flows into the
        # PERMISSIVE/FAILFAST contract instead of crashing this stage.
        try:
            return zlib.decompress(bytes(p))
        except zlib.error:
            return bytes(p)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flags = pdf[compression_col] == GLUE_COMPRESSION_ZLIB
            if flags.any():
                pdf = pdf.copy()
                pdf.loc[flags, "payload"] = [
                    inflate(p) for p in pdf.loc[flags, "payload"]
                ]
            yield pdf

    return df.mapInPandas(mapper, schema)


def _quarantine(
    df: DataFrame,
    table: ParquetTable,
    reason: str,
    batch_id: int | None,
    sid: int | str | None = None,
    n_rows: int | None = None,
) -> None:
    """Land undecodable records raw: Kafka metadata, the ORIGINAL value
    bytes, the (stringified — framings differ in id type) schema id,
    and the reason. Idempotent per (batch, reason, id) token."""
    out = df.select(
        "key",
        "value",
        "topic",
        "partition",
        "offset",
        "timestamp",
        "timestampType",
        F.col("valueSchemaId").cast("string").alias("valueSchemaId"),
        F.lit(reason).alias("quarantineReason"),
    )
    if batch_id is not None:
        # uniform token depth: mixed-depth key=value dirs would conflict
        # in partition discovery on read
        token = f"batchid={batch_id}/reason={reason}/sid={sid if sid is not None else 'any'}"
        table.idempotent_append(out, token, n_rows=n_rows)
    else:
        table.append(out)


def _decode_sized(subset: DataFrame, n_rows: int | None) -> DataFrame:
    """Adapt decode parallelism to subset size. A Kafka micro-batch
    inherits the topic's partitioning, so a small per-id subset spread
    over 32 partitions pays ~32 Python-task launches (Arrow setup +
    worker round-trip each) to decode a few hundred rows apiece — the
    per-task fixed cost dominates the actual decode. When the stats
    pass's count says the subset is small, COALESCE (shuffle-free: each
    surviving task reads a few cached partitions locally) down to
    ceil(n / SPARK_GRAFT_DECODE_ROWS_PER_TASK) tasks so decode batches
    stay Arrow-efficient. Large subsets keep their full parallelism —
    at scale the coalesce never fires and no encoded bytes ever move."""
    if n_rows is None:
        return subset
    per_task = int(os.environ.get("SPARK_GRAFT_DECODE_ROWS_PER_TASK", "4096"))
    if per_task <= 0:
        return subset
    n_tasks = max(1, -(-int(n_rows) // per_task))
    if n_tasks >= subset.rdd.getNumPartitions():
        return subset
    return subset.coalesce(n_tasks)


def demux_decode_batch(
    batch_df: DataFrame,
    registry: SchemaRegistry,
    framing: Framing,
    target: ParquetTable,
    mode: str = "PERMISSIVE",
    batch_id: int | None = None,
    reader_schema_id: int | str | None = None,
    quarantine: ParquetTable | None = None,
) -> list[int | str]:
    """The foreachBatch body, callable on any batch DataFrame (so pytest
    can drive it without a streaming query). Returns schema ids seen.

    ``reader_schema_id`` switches evolution strategy: by default each
    subset lands in the writer's shape and the table union-widens with
    NULLs (the reference's mergeSchema behavior, SURVEY T9); with a
    reader id, every subset is schema-RESOLVED to that reader's shape,
    absent fields taking their Avro defaults — the compatibility-mode
    read Glue FULL implies (producer.scala:60-61). The raw table is then
    uniformly typed regardless of which writer versions appear.

    ``quarantine`` handles poison pills — records that fail the
    framing's wire-format check (wrong magic byte / too short) or whose
    schema id the registry doesn't know. With a quarantine table, such
    subsets land there RAW (Kafka metadata + id + undecoded payload,
    tagged with the reason) and the stream keeps running — the classic
    one-bad-record-kills-the-topic outage, which the reference is open
    to, becomes an operational table to inspect. Without one, they
    raise loudly; silently dropping data is never an option."""
    sliced = batch_df.withColumn("valueSchemaId", framing.schema_id_col).withColumn(
        "payload", framing.payload_col
    )
    if framing.compression_col is not None:
        sliced = sliced.withColumn("_compression", framing.compression_col)
    if framing.valid_col is not None:
        # validity evaluated ONCE into the cached batch (binary substring
        # comparisons): the stats pass and the per-id decode filters
        # below read the cached boolean instead of re-evaluating it.
        # coalesce(false): a NULL Kafka value (tombstone) makes the
        # length/substring predicate NULL — three-valued logic would
        # let it slip through BOTH the ~valid quarantine filter and the
        # bad count-vs-capture bookkeeping (counted bad, never written
        # anywhere — silent data loss, the exact thing this contract
        # forbids). Undecodable-by-construction records are bad framing.
        sliced = sliced.withColumn(
            "_valid", F.coalesce(framing.valid_col, F.lit(False))
        )
    cached = sliced  # unpersist target — `sliced` may be rewrapped below
    cached.persist()
    try:
        # ONE partial-agg'd pass computes everything the driver needs to
        # plan the demux: the distinct schema ids present (U2), whether
        # any record fails the wire-format check, and whether any payload
        # carries the Glue zlib marker. (r4 ran the latter two as
        # separate limit(1).count() probe jobs before the distinct-id
        # job — three cached-batch passes per trigger, which showed up
        # as the avro_demux_events_per_sec slip in BENCH_r04.)
        valid = (
            F.col("_valid") if framing.valid_col is not None else F.lit(True)
        )
        zlib_agg = (
            [
                F.sum(
                    (F.col("_compression") == GLUE_COMPRESSION_ZLIB).cast("long")
                ).alias("_n_zlib")
            ]
            if framing.compression_col is not None
            else []
        )
        stats = (
            cached.groupBy(valid.alias("_valid"), "valueSchemaId")
            .agg(F.count("*").alias("_n"), *zlib_agg)
            .collect()
        )
        if framing.compression_col is not None and any(
            r["_n_zlib"] for r in stats
        ):
            sliced = _inflate_compressed(cached, "_compression")
        n_bad = sum(r["_n"] for r in stats if not r["_valid"])
        if framing.valid_col is not None:
            if n_bad:
                if quarantine is None:
                    raise RuntimeError(
                        f"{n_bad} record(s) fail the {framing.name} "
                        "wire-format check (magic byte / length); pass a "
                        "quarantine table to capture them instead"
                    )
                _quarantine(
                    sliced.where(~F.col("_valid")),
                    quarantine,
                    "bad_framing",
                    batch_id,
                    n_rows=n_bad,
                )
                sliced = sliced.where(F.col("_valid"))
            # the stats pass already proved every row valid on the
            # common path — no filter to evaluate per decode pass
            sliced = sliced.drop("_valid")
        # Driver-side demux: distinct ids -> one decode+write pass per id
        # (ingest.scala:139-142). At scale this is N cheap passes over a
        # cached batch, each pruned by the id filter. Already sorted —
        # the loop below iterates in this deterministic order.
        ids = sorted(
            {r["valueSchemaId"] for r in stats if r["_valid"]}, key=str
        )
        # per-id row counts, already paid for by the stats pass — they
        # feed the sink's write-time file sizing (small-file control)
        n_by_id: dict = {}
        for r in stats:
            if r["_valid"]:
                n_by_id[r["valueSchemaId"]] = (
                    n_by_id.get(r["valueSchemaId"], 0) + r["_n"]
                )
        reader_json = (
            registry.get_schema_json(reader_schema_id)
            if reader_schema_id is not None
            else None
        )
        # Build one independent write job per schema id (every plan is
        # fully constructed driver-side first; registry lookups stay
        # sequential — they're the retry/backoff-guarded network calls).
        jobs: list = []
        for sid in ids:
            try:
                schema_json = registry.get_schema_json(sid)  # driver-side (U2)
            except Exception:
                # valid framing, unknown id: a producer ahead of the
                # registry mirror, or a foreign topic — quarantine the
                # subset rather than killing every other schema's data
                subset = sliced.filter(F.col("valueSchemaId") == F.lit(sid))
                if quarantine is None:
                    raise
                jobs.append(
                    lambda subset=subset, sid=sid: _quarantine(
                        subset,
                        quarantine,
                        "unknown_schema_id",
                        batch_id,
                        sid=sid,
                        n_rows=n_by_id.get(sid),
                    )
                )
                continue
            subset = _decode_sized(
                sliced.filter(F.col("valueSchemaId") == F.lit(sid)),
                n_by_id.get(sid),
            )
            decoded = decode_avro(
                subset,
                "payload",
                schema_json,
                mode=mode,
                reader_schema_json=reader_json,
            )
            out = decoded.select(*RAW_COLUMNS)
            if batch_id is not None:
                jobs.append(
                    lambda out=out, sid=sid: target.idempotent_append(
                        out,
                        token=f"batchid={batch_id}/schemaid={sid}",
                        n_rows=n_by_id.get(sid),
                    )
                )
            else:
                jobs.append(
                    lambda out=out, sid=sid: target.append(
                        out, n_rows=n_by_id.get(sid)
                    )
                )
        # The per-id jobs touch disjoint outputs (distinct replay-token
        # dirs / quarantine reasons), so they can run CONCURRENTLY:
        # Spark's scheduler interleaves their stages and the fixed
        # per-job latency (scheduling + commit) overlaps instead of
        # serializing — on a real cluster N schema subsets stream to the
        # sink together. Delta mode stays sequential: concurrent
        # append txns to ONE Delta log can conflict, and the log's
        # txnAppId dedup is the idempotence story there.
        spark = batch_df.sparkSession
        workers = int(os.environ.get("SPARK_GRAFT_DEMUX_PARALLELISM", "4"))
        sequential = (
            len(jobs) < 2
            or workers < 2
            # batch_id=None appends go to the SAME table directory and
            # parquet jobs to one path share <path>/_temporary staging —
            # the first commit deletes it and silently drops other jobs'
            # task output. Only the token'd per-(batch,schema) dirs of
            # the idempotent path are truly disjoint.
            or batch_id is None
            or target._delta(spark)
            or (quarantine is not None and quarantine._delta(spark))
        )
        if sequential:
            for fn in jobs:
                fn()
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(workers, len(jobs))) as pool:
                for f in [pool.submit(fn) for fn in jobs]:
                    f.result()
    finally:
        cached.unpersist()
    return ids


def ingest_avro_stream(
    source_df: DataFrame,
    registry: SchemaRegistry,
    target: ParquetTable,
    checkpoint: str,
    framing: Framing | None = None,
    mode: str = "PERMISSIVE",
    query_name: str = "ingest_raw",
    reader_schema_id: int | str | None = None,
    quarantine: ParquetTable | None = None,
):
    """Wire a Kafka-shaped streaming DataFrame through the demux into the
    raw table; drains available data and stops (Trigger-Once semantics,
    SURVEY T1). ``quarantine`` captures poison pills (bad framing /
    unknown schema id) instead of failing the stream — see
    ``demux_decode_batch``."""
    body = _demux_body(registry, target, framing, mode, reader_schema_id, quarantine)
    return drain(foreach_writer(source_df, body, checkpoint, query_name))


def _demux_body(
    registry: SchemaRegistry,
    target: ParquetTable,
    framing: Framing | None,
    mode: str,
    reader_schema_id: int | str | None,
    quarantine: ParquetTable | None,
):
    """The one demux foreachBatch body both trigger modes share, so the
    decode path can't drift between the availableNow drain and the
    always-on mode."""
    framing = framing or confluent_framing()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        demux_decode_batch(
            batch_df,
            registry,
            framing,
            target,
            mode=mode,
            batch_id=batch_id,
            reader_schema_id=reader_schema_id,
            quarantine=quarantine,
        )

    return process


def ingest_avro_stream_continuous(
    source_df: DataFrame,
    registry: SchemaRegistry,
    target: ParquetTable,
    checkpoint: str,
    framing: Framing | None = None,
    mode: str = "PERMISSIVE",
    query_name: str = "ingest_raw_continuous",
    reader_schema_id: int | str | None = None,
    quarantine: ParquetTable | None = None,
    processing_time: str = "500 milliseconds",
):
    """The ALWAYS-ON form of :func:`ingest_avro_stream`: same demux body,
    same checkpoint discipline, but a processing-time trigger and the
    live ``StreamingQuery`` handle returned for the caller to stop —
    completing the always-on chain next to
    ``medallion.run_pipeline_continuous``. Each timed trigger passes its
    real ``batch_id`` to the demux, so replay idempotence and the
    per-(batch, schema) token'd append directories work exactly as in
    the drain mode."""
    body = _demux_body(registry, target, framing, mode, reader_schema_id, quarantine)
    return run_continuous_foreach(
        source_df, body, checkpoint, query_name, processing_time
    )


def replay_quarantined(
    spark,
    quarantine: ParquetTable,
    registry: SchemaRegistry,
    target: ParquetTable,
    framing: Framing | None = None,
    mode: str = "PERMISSIVE",
    reader_schema_id: int | str | None = None,
    replay_batch_id: int = 1_000_000,
) -> dict:
    """Drain the dead-letter table back through the demux — the recovery
    half of the quarantine story: a schema id that was unknown at ingest
    time (a producer deployed ahead of the registry mirror) becomes
    decodable once the registry catches up, so the captured raw records
    re-enter the SAME decode path and land in the target; records that
    still fail (bad framing, still-unknown ids) stay quarantined.

    Protocol: rows replay under ``replay_batch_id`` replay tokens, so
    re-running a replay overwrites itself instead of double-appending
    (give each distinct replay wave its own id). The residual is staged
    beside the quarantine and swapped in with the same aside protocol as
    upsert/compact — a crash leaves either the old or the new dead-letter
    set, never half. Returns {"attempted", "still_quarantined",
    "replayed"} counts for the operator's runbook."""
    import shutil

    framing = framing or confluent_framing()
    if not quarantine.exists():
        return {"attempted": 0, "replayed": 0, "still_quarantined": 0}
    wire = quarantine.read(spark).select(
        "key",
        "value",
        "topic",
        "partition",
        "offset",
        "timestamp",
        "timestampType",
    )
    attempted = wire.count()
    staging_path = quarantine.path.rstrip("/") + "._staging"
    if os.path.isdir(staging_path):
        shutil.rmtree(staging_path)
    residual = ParquetTable(staging_path)
    demux_decode_batch(
        wire,
        registry,
        framing,
        target,
        mode=mode,
        batch_id=replay_batch_id,
        reader_schema_id=reader_schema_id,
        quarantine=residual,
    )
    still = residual.read(spark).count() if residual.exists() else 0
    if residual.exists():
        swap_dir(quarantine.path, staging_path)
    else:
        shutil.rmtree(staging_path, ignore_errors=True)
        swap_dir(quarantine.path, None)
    return {
        "attempted": attempted,
        "replayed": attempted - still,
        "still_quarantined": still,
    }
