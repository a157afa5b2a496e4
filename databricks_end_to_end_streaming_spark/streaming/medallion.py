"""The medallion pipeline: raw -> bronze -> silver -> gold as Structured
Streaming stages (SURVEY §3.2-3.4).

Stage semantics (with the reference sites they reproduce):
* bronze: flatten the decoded struct to top-level columns
  (`parsedValue.*`, bronze.py:18), append partitioned by `type`
  (bronze.py:20-27).
* silver: drop duplicate eventIds — keyed streaming state
  (silver.py:23) — and normalize the unix-seconds long to a proper
  TimestampType (the reference formats to a "dd-MM-yyyy H:mm:ss" STRING,
  silver.py:24-27; we deviate per SURVEY Q2 and keep a typed column,
  plus the formatted string for surface parity).
* gold: "today onward" filter + groupBy(type,color,size) with the
  triple count and latest-timestamp (gold.py:24-33; count columns named
  exactly count_type/count_color/count_size/last like the reference's
  withColumnRenamed, with max() standing in for the nondeterministic
  last() — SURVEY Q3), complete-output rewrite each trigger (K3).

Every stage runs with trigger(availableNow=True): one call drains what's
available and returns — the job-DAG execution model of the reference
(jobs/confluent.json:18-79), so run_pipeline() IS the DAG.

Scale levers: silver's dedup state is unbounded in parity mode (exactly
the reference's behavior, T2); pass a `watermark` to bound it with
dropDuplicatesWithinWatermark. The RocksDB state store (session.py) keeps
either mode off-heap.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .sinks import ParquetTable

TIMESTAMP_FMT = "dd-MM-yyyy H:mm:ss"  # silver.py:26


def bronze_transform(df: DataFrame) -> DataFrame:
    """raw struct -> flat event columns (P1)."""
    return df.select("parsedValue.*")


def silver_transform(df: DataFrame, watermark: str | None = None) -> DataFrame:
    """Dedup by eventId + typed event time (A2 + X8, Q2 fixed)."""
    df = df.withColumn("event_time", F.timestamp_seconds("timestamp")).withColumn(
        "timestamp_fmt", F.date_format(F.timestamp_seconds("timestamp"), TIMESTAMP_FMT)
    )
    if watermark:
        return df.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
            ["eventId"]
        )
    return df.dropDuplicates(["eventId"])


def gold_transform(df: DataFrame, cutoff) -> DataFrame:
    """Filtered streaming aggregation (F3 + A1 + P4)."""
    return (
        df.where(F.col("event_time") >= F.lit(cutoff).cast("timestamp"))
        .groupBy("type", "color", "size")
        .agg(
            F.count("type").alias("count_type"),
            F.count("color").alias("count_color"),
            F.count("size").alias("count_size"),
            F.max("event_time").alias("last"),
        )
    )


def foreach_writer(
    source: DataFrame,
    body,
    checkpoint: str,
    query_name: str,
    output_mode: str = "append",
):
    """The one foreachBatch writer every stage builds, in both trigger
    modes — sink options and checkpoint discipline can't drift between
    the availableNow drain and the always-on mode. ``body(batch_df,
    batch_id)`` is the stage's foreachBatch function; replay safety is
    the body's (``ParquetTable.append_batch``). Caller picks the trigger
    (``drain`` or a processing-time trigger) and starts."""
    return (
        source.writeStream.foreachBatch(body)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )


def drain(writer):
    """Run ``writer`` (a ``DataStreamWriter``) as one availableNow drain:
    process everything available, wait for termination and return the
    terminated query. A failed micro-batch re-raises here (Trigger-Once
    semantics, SURVEY T1)."""
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    return query


def _append_writer(
    df: DataFrame, target: ParquetTable, checkpoint: str, query_name: str
):
    """The one parquet-append writer both trigger modes share — sink
    options can't drift between the availableNow drain and the
    continuous mode. Caller picks the trigger and starts."""
    w = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", target.path)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    if target.partition_by:
        w = w.partitionBy(*target.partition_by)
    return w


def _run_append(
    df: DataFrame,
    target: ParquetTable,
    checkpoint: str,
    query_name: str,
    observe_rules: dict | None = None,
) -> list[dict] | None:
    """``observe_rules`` ({rule_name: Column condition}) attaches
    Observation-API expectation counters to the MOVING stream — no
    second scan — and returns one metrics dict per micro-batch
    (streaming/observe.py). None when not observing."""
    if observe_rules is not None:
        from .observe import observe_stream

        df = observe_stream(df, query_name, observe_rules)
    q = drain(_append_writer(df, target, checkpoint, query_name))
    if observe_rules is not None:
        from .observe import progress_metrics

        return progress_metrics(q, query_name)
    return None


def run_continuous(
    df: DataFrame,
    target: ParquetTable,
    checkpoint: str,
    query_name: str,
    processing_time: str = "500 milliseconds",
):
    """Start ``df`` as a LONG-RUNNING processing-time-trigger append
    query and return the live ``StreamingQuery`` handle (caller stops
    it). The reference only ever runs ``Trigger.Once`` (bronze.py:25 —
    its jobs DAG re-launches the drain), but its design implies the
    always-on mode: this is that mode, same transform, same sink, same
    checkpoint discipline, only the trigger differs. Pair with
    ``await_batches`` to soak N timed triggers in tests."""
    return (
        _append_writer(df, target, checkpoint, query_name)
        .trigger(processingTime=processing_time)
        .start()
    )


def run_continuous_foreach(
    source: DataFrame,
    stage,
    checkpoint: str,
    query_name: str,
    processing_time: str = "500 milliseconds",
):
    """Always-on counterpart of the availableNow foreachBatch drains:
    start ``stage`` (a foreachBatch body following the replay-token
    protocol — dictscan_stage, vocab_stage, bloom/ppjoin/... all
    qualify) under a processing-time trigger and return the live
    ``StreamingQuery`` handle (caller stops it). The replay-token
    protocol is trigger-agnostic by design: a timed trigger that
    re-runs after a crash replays the same batch id, and the stage's
    ``append_batch`` overwrites its own token — soaked end-to-end in
    tests/test_soak_timed_stages.py by deleting the newest checkpoint
    commit marker and restarting."""
    return (
        foreach_writer(source, stage, checkpoint, query_name)
        .trigger(processingTime=processing_time)
        .start()
    )


def await_batches(
    query,
    min_batches: int,
    min_rows: int = 0,
    timeout_sec: float = 60.0,
) -> tuple[int, int]:
    """Block until ``query`` has COMMITTED at least ``min_batches``
    micro-batches carrying at least ``min_rows`` total input rows
    (both thresholds must hold), then return ``(batches, rows)``
    observed. Progress is read from ``recentProgress`` — the committed
    ledger — not from the filesystem, so partially-written parquet of
    an in-flight trigger can't satisfy the wait. Raises TimeoutError
    with the progress seen so far on expiry."""
    import time as _time

    deadline = _time.monotonic() + timeout_sec
    batches = rows = 0
    while _time.monotonic() < deadline:
        seen = {}
        for p in query.recentProgress:
            seen[p["batchId"]] = p.get("numInputRows", 0)
        batches, rows = len(seen), sum(seen.values())
        if batches >= min_batches and rows >= min_rows:
            return batches, rows
        if query.exception() is not None:
            raise query.exception()
        _time.sleep(0.1)
    raise TimeoutError(
        f"{query.name}: saw {batches} committed batches / {rows} rows "
        f"in {timeout_sec}s (wanted >= {min_batches} / {min_rows})"
    )


def bronze_stage(
    spark: SparkSession,
    raw: ParquetTable,
    bronze: ParquetTable,
    checkpoint: str,
    observe_rules: dict | None = None,
) -> list[dict] | None:
    return _run_append(
        bronze_transform(raw.stream(spark)),
        bronze,
        checkpoint,
        "bronze_layer",
        observe_rules=observe_rules,
    )


def silver_stage(
    spark: SparkSession,
    bronze: ParquetTable,
    silver: ParquetTable,
    checkpoint: str,
    watermark: str | None = None,
    observe_rules: dict | None = None,
) -> list[dict] | None:
    return _run_append(
        silver_transform(bronze.stream(spark), watermark=watermark),
        silver,
        checkpoint,
        "silver_layer",
        observe_rules=observe_rules,
    )


def _gold_writer(
    spark: SparkSession,
    silver: ParquetTable,
    gold: ParquetTable,
    checkpoint: str,
    cutoff,
    query_name: str,
):
    """The one complete-mode gold writer both trigger modes share (the
    parquet stand-in for Delta's complete toTable) — sink behavior
    can't drift between the drain and the continuous mode. Each trigger
    rewrites gold through the ATOMIC staged swap
    (``ParquetTable.overwrite_atomic``): in continuous mode readers hit
    gold WHILE triggers fire, and a plain overwrite would expose a
    deleted-but-not-rewritten window every 500 ms. Caller picks the
    trigger and starts."""
    agg = gold_transform(silver.stream(spark), cutoff)

    def overwrite(batch_df: DataFrame, _batch_id: int) -> None:
        gold.overwrite_atomic(batch_df)

    return foreach_writer(agg, overwrite, checkpoint, query_name, "complete")


def gold_stage(
    spark: SparkSession,
    silver: ParquetTable,
    gold: ParquetTable,
    checkpoint: str,
    cutoff,
) -> None:
    """Complete-mode aggregation drain (K3): one availableNow pass over
    what silver holds."""
    drain(_gold_writer(spark, silver, gold, checkpoint, cutoff, "gold_layer"))


def upsert_stage(
    source: DataFrame,
    target: ParquetTable,
    keys: list[str],
    checkpoint: str,
    order_by: str | None = None,
    query_name: str = "upsert_layer",
) -> None:
    """foreachBatch SCD1 merge sink: each micro-batch is collapsed to
    last-write-wins per key (max_by on ``order_by`` when given, so a
    batch carrying several versions of one key lands its latest), then
    merged into the target with ParquetTable.upsert. This is the CDC
    apply-changes pattern the reference's append-only medallion lacks —
    replayed batches re-merge the same rows, so the sink is idempotent
    without a txn token."""

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        updates = batch_df
        if order_by is not None:
            value_cols = [c for c in batch_df.columns if c not in keys]
            updates = batch_df.groupBy(*keys).agg(
                *[
                    F.max_by(c, order_by).alias(c)
                    for c in value_cols
                ]
            )
        else:
            updates = batch_df.dropDuplicates(keys)
        target.upsert(batch_df.sparkSession, updates, keys)

    drain(foreach_writer(source, merge, checkpoint, query_name, "update"))


def enrich_transform(df: DataFrame, dim: DataFrame, on: str = "productId") -> DataFrame:
    """Stream-static enrichment: join the event stream against a static
    dimension table (broadcast — no stream state, re-resolved per
    micro-batch so dimension updates are picked up). The standard
    pattern for attaching catalog attributes between silver and gold."""
    return df.join(F.broadcast(dim), on, "left")


def gold_windowed_transform(df: DataFrame, watermark: str = "1 day") -> DataFrame:
    """The correct-at-scale rewrite of gold's "today" filter (SURVEY T3):
    a tumbling 1-day event-time window with a watermark, so gold becomes
    an append-mode stream of closed daily aggregates instead of a
    complete-mode rewrite filtered to one day. Late rows beyond the
    watermark are dropped instead of silently resurrected/lost (T4)."""
    return (
        df.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "1 day").alias("day"), "type", "color", "size")
        .agg(
            F.count("type").alias("count_type"),
            F.count("color").alias("count_color"),
            F.count("size").alias("count_size"),
            F.max("event_time").alias("last"),
        )
        .select(
            F.col("day.start").alias("day_start"),
            "type",
            "color",
            "size",
            "count_type",
            "count_color",
            "count_size",
            "last",
        )
    )


def gold_windowed_stage(
    spark: SparkSession,
    silver: ParquetTable,
    gold: ParquetTable,
    checkpoint: str,
    watermark: str = "1 day",
) -> None:
    """Append-mode windowed gold: emits each day's aggregate once its
    watermark passes; state is bounded by the watermark horizon."""
    _run_append(
        gold_windowed_transform(silver.stream(spark), watermark),
        gold,
        checkpoint,
        "gold_windowed_layer",
    )


def session_window_transform(
    df: DataFrame,
    key_col: str = "type",
    ts_col: str = "event_time",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization: dynamic-gap event-time windows
    (F.session_window) per key, append mode — the streaming twin of the
    batch gaps-and-islands query (queries/analytics.py sessionize_events).
    A session closes and emits once the watermark passes its end + gap;
    state is bounded by sessions still open within the watermark horizon."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("session"), key_col)
        .agg(
            F.count("*").alias("n_events"),
            F.max(ts_col).alias("last_event"),
        )
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            key_col,
            "n_events",
            "last_event",
        )
    )


def session_window_stage(
    spark: SparkSession,
    silver: ParquetTable,
    sessions: ParquetTable,
    checkpoint: str,
    key_col: str = "type",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> None:
    """Append-mode session aggregates over the silver stream: each closed
    session lands exactly once."""
    _run_append(
        session_window_transform(
            silver.stream(spark), key_col=key_col, gap=gap, watermark=watermark
        ),
        sessions,
        checkpoint,
        "session_window_layer",
    )


def dq_split_stage(
    source: DataFrame,
    good: ParquetTable,
    quarantine: ParquetTable,
    predicate,
    checkpoint: str,
    query_name: str = "dq_split",
) -> None:
    """Data-quality quarantine split: rows passing ``predicate`` (a
    Column) append to the good table, the rest — tagged with the reason
    and batch id — append to a quarantine table for replay after fixes.
    Same multi-sink foreachBatch shape as the ingest demux (SURVEY K1):
    cache the micro-batch once, write both subsets, release (T8). Both
    writes are idempotent under replay via the (batch_id, side) token,
    so at-least-once foreachBatch still yields exactly-once tables."""

    def split(batch_df: DataFrame, batch_id: int) -> None:
        # NULL predicate results (e.g. a range check on a NULL column)
        # must quarantine, not vanish: where(p) and where(~p) both drop
        # NULL rows, so fold NULL -> False first.
        ok = F.coalesce(predicate, F.lit(False))
        batch_df.persist()
        try:
            good.idempotent_append(
                batch_df.where(ok), f"batchid={batch_id}/side=good"
            )
            quarantine.idempotent_append(
                batch_df.where(~ok).withColumn(
                    "_dq_batch_id", F.lit(batch_id)
                ),
                f"batchid={batch_id}/side=quarantine",
            )
        finally:
            batch_df.unpersist()

    drain(foreach_writer(source, split, checkpoint, query_name))


def gold_incremental_stage(
    spark: SparkSession,
    silver: ParquetTable,
    gold: ParquetTable,
    checkpoint: str,
    watermark: str = "1 day",
) -> None:
    """Update-mode windowed gold merged into the target by key: each
    trigger the state store emits the *changed* groups' running totals,
    and the upsert replaces just those rows (SCD1 on the grouping key).

    This is the third gold execution mode, and the one that scales:
    complete mode (gold_stage) rewrites every group every trigger —
    O(all groups) per batch, a non-starter at 100 TB; append mode
    (gold_windowed_stage) is O(closed windows) but can't serve the
    current day until the watermark closes it. Update+merge is
    O(groups touched this batch) per trigger AND the target always
    holds the freshest running totals. On a Delta cluster the upsert
    collapses to MERGE — this is the standard Delta incremental-agg
    pattern."""
    agg = gold_windowed_transform(silver.stream(spark), watermark)

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        gold.upsert(
            batch_df.sparkSession, batch_df, ["day_start", "type", "color", "size"]
        )

    drain(foreach_writer(agg, merge, checkpoint, "gold_incremental_layer", "update"))


def run_pipeline_continuous(
    spark: SparkSession,
    workdir: str,
    raw: ParquetTable,
    cutoff="2024-01-01 00:00:00",
    watermark: str | None = None,
    processing_time: str = "500 milliseconds",
    progress_log: bool = False,
) -> dict:
    """The ALWAYS-ON medallion: bronze, silver, and gold each as a
    long-running processing-time-trigger query, cascading concurrently
    (raw wave -> bronze trigger -> silver trigger -> gold rewrite) —
    the operating mode the reference's Trigger.Once job DAG implies but
    never runs. Each downstream stage starts only after its upstream
    committed one non-empty batch, because ``ParquetTable.stream`` pins
    its schema from a batch read of an EXISTING table. The cascade is
    exactly-once end to end: every file source reads its upstream's
    ``_spark_metadata`` commit log, so uncommitted files of an in-flight
    trigger are invisible downstream.

    Returns ``{"tables": {...}, "queries": {...}}`` (plus
    ``"listener"``/``"spark"`` when ``progress_log=True``); stop with
    ``stop_pipeline(result)`` — the FULL result, which also detaches
    the listener (the bare-queries form cannot). Same transforms,
    sinks, and
    checkpoints as :func:`run_pipeline` — only the triggers differ
    (gold's rewrite goes through the shared ``_gold_writer``, whose
    atomic staged swap is what lets readers hit gold while triggers
    fire).

    Schema evolution caveat (all of Structured Streaming, not this
    wrapper): each stage pins its input schema when ITS query starts
    (``ParquetTable.stream`` reads the upstream table once), so a
    column that first appears in data arriving AFTER start is absent
    downstream until the pipeline restarts — the standard
    stop-and-restart-on-schema-change operating procedure (what Delta's
    streaming source enforces by failing the query). The restart path
    re-pins from the widened upstream and mergeSchema reads surface the
    old rows with NULLs, exactly like the drain
    (tests/test_continuous_trigger.py covers restart pickup)."""
    bronze = ParquetTable(f"{workdir}/bronze", partition_by=["type"])
    silver = ParquetTable(f"{workdir}/silver", partition_by=["type"])
    gold = ParquetTable(f"{workdir}/gold")
    listener = None
    if progress_log:
        # query-health sidecar (streaming/listener.py): per-batch rows/s,
        # durations, state size across all three stages; returned under
        # "listener" and detached by stop_pipeline
        from .listener import attach_progress_log

        listener = attach_progress_log(spark)
    started: list = []

    def _source_ready(q, table) -> None:
        """A downstream stage can start once its upstream TABLE exists
        (schema pinning is the only dependency). On a restart it
        already does — no fresh data is required, so an idle pipeline
        start doesn't fail; on first boot, wait for the upstream's
        first non-empty commit."""
        if table.exists():
            return
        await_batches(q, 1, min_rows=1)

    try:
        qb = run_continuous(
            bronze_transform(raw.stream(spark)),
            bronze,
            f"{workdir}/cp/bronze",
            "bronze_continuous",
            processing_time,
        )
        started.append(qb)
        _source_ready(qb, bronze)
        qs = run_continuous(
            silver_transform(bronze.stream(spark), watermark=watermark),
            silver,
            f"{workdir}/cp/silver",
            "silver_continuous",
            processing_time,
        )
        started.append(qs)
        _source_ready(qs, silver)
        qg = (
            _gold_writer(
                spark,
                silver,
                gold,
                f"{workdir}/cp/gold",
                cutoff,
                "gold_continuous",
            )
            .trigger(processingTime=processing_time)
            .start()
        )
        started.append(qg)
    except BaseException:
        # never leak running queries the caller has no handle to
        for q in started:
            try:
                q.stop()
                q.awaitTermination()
            except Exception:
                pass
        if listener is not None:
            spark.streams.removeListener(listener)
        raise
    out = {
        "tables": {"bronze": bronze, "silver": silver, "gold": gold},
        "queries": {"bronze": qb, "silver": qs, "gold": qg},
    }
    if listener is not None:
        out["listener"] = listener
        out["spark"] = spark
    return out


def stop_pipeline(pipeline_or_queries: dict) -> None:
    """Stop every stage of a continuous pipeline and wait for clean
    termination (reverse order: downstream first, so no stage is left
    reading a stopped upstream's half-committed trigger). Accepts
    either the full ``run_pipeline_continuous`` result (also detaches
    its progress listener) or the bare ``queries`` dict."""
    queries = pipeline_or_queries.get("queries", pipeline_or_queries)
    for name in ("gold", "silver", "bronze"):
        q = queries.get(name)
        if q is not None:
            q.stop()
            q.awaitTermination()
    listener = pipeline_or_queries.get("listener")
    spark = pipeline_or_queries.get("spark")
    if listener is not None and spark is not None:
        spark.streams.removeListener(listener)


def run_pipeline(
    spark: SparkSession,
    workdir: str,
    raw: ParquetTable,
    cutoff="2024-01-01 00:00:00",
    watermark: str | None = None,
) -> dict[str, ParquetTable]:
    """The 4-task DAG (ingest happens upstream of `raw`): bronze ->
    silver -> gold, sequential availableNow stages exactly like the
    reference's job DAG (SURVEY §3.4)."""
    bronze = ParquetTable(f"{workdir}/bronze", partition_by=["type"])
    silver = ParquetTable(f"{workdir}/silver", partition_by=["type"])
    gold = ParquetTable(f"{workdir}/gold")
    bronze_stage(spark, raw, bronze, f"{workdir}/cp/bronze")
    silver_stage(spark, bronze, silver, f"{workdir}/cp/silver", watermark=watermark)
    gold_stage(spark, silver, gold, f"{workdir}/cp/gold", cutoff)
    return {"bronze": bronze, "silver": silver, "gold": gold}
