"""The workloads of the medallion benchmark.

Each workload takes a ``Ctx`` and returns a ``Result``. Set-up (inputs,
warm-up) is timed into ``ctx.setup``; the timed window then runs
operations until ``ctx.seconds`` have passed, and every operation's
output is checked outside the timed code. With ``ctx.trace`` the
workload also fills ``Result.layers`` with the per-layer figures named
in BENCHMARK.json (a layer the workload does not run stays absent and
reads 0).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import checks
import gen
from ledger import (
    MemPeak,
    ProcessTree,
    ProgressLog,
    SparkLedger,
    Tracer,
    progress_end,
    progress_start,
    trigger_summary,
)

from databricks_end_to_end_streaming_spark.avro.codec import decoder_for
from databricks_end_to_end_streaming_spark.queries import all_queries
from databricks_end_to_end_streaming_spark.registry import InMemorySchemaRegistry
from databricks_end_to_end_streaming_spark.schemas import PRODUCT_V1_JSON, PRODUCT_V2_JSON
from databricks_end_to_end_streaming_spark.sources import file_stream
from databricks_end_to_end_streaming_spark.streaming import (
    ParquetTable,
    ingest_avro_stream,
    run_pipeline,
)
from databricks_end_to_end_streaming_spark.streaming.ingest import (
    ingest_avro_stream_continuous,
)
from databricks_end_to_end_streaming_spark.streaming.medallion import (
    run_pipeline_continuous,
    stop_pipeline,
)

REGISTRY = InMemorySchemaRegistry({1: PRODUCT_V1_JSON, 2: PRODUCT_V2_JSON})
STAGES = ("ingest", "bronze", "silver", "gold")
# the table each stage writes
OUTPUT = {"ingest": "raw", "bronze": "bronze", "silver": "silver", "gold": "gold"}
# the stage each of the engine's queries belongs to (availableNow and
# always-on names)
QUERY_STAGE = {
    "ingest_raw": "ingest", "ingest_raw_continuous": "ingest",
    "bronze_layer": "bronze", "bronze_continuous": "bronze",
    "silver_layer": "silver", "silver_continuous": "silver",
    "gold_layer": "gold", "gold_continuous": "gold",
}

# drain: unique events per backlog (about 10% more events in total),
# and the sizes of the untimed warm-up drains: a small one pays the cold
# JVM and Python workers, a quarter of the backlog warms the JIT.
DRAIN_UNIQUE = 200_000
WARM_ROWS = (5_000, 55_000)
# trickle: an open-loop wave every WAVE_S seconds of WAVE_EVENTS new
# events, after TRICKLE_WARM_S seconds of untimed waves.
WAVE_S = 0.5
WAVE_EVENTS = 500
TRICKLE_WARM_S = 6.0
# query layer (measured in drain's traced run): rows of the generated
# events table, and the registered queries that read only that table:
# the three of the 14-query headline first, then the medallion stage
# queries and one operators/ sketch.
EVENTS_ROWS = 50_000
BATCH_QUERIES = [
    "medallion_end_to_end",
    "sessionize_events",
    "session_window_events",
    "medallion_bronze_flatten",
    "medallion_silver_dedup",
    "gold_daily_windows",
    "kmv_distinct_users_per_type",
]


@dataclass
class Ctx:
    spark: object
    tree: ProcessTree
    seed: int
    seconds: float
    trace: bool
    work: str
    cache: str
    new_session: Callable  # cores -> SparkSession
    heap_used: Callable  # () -> bytes of the Java heap in use
    setup: dict = field(default_factory=dict)


@dataclass
class Result:
    """What a workload measured. ``latencies_ms`` are per operation;
    ``cpu_s`` is JVM plus Python-worker CPU over ``cpu_events`` input
    events; ``peak_mem`` is ``MemPeak``'s figure and ``record`` holds
    extra figures for the run's host-noise record; ``ok`` is False if
    any output check failed."""

    ok: bool
    attempted: int
    failed: int
    latencies_ms: list[float]
    throughput_eps: float
    cpu_s: float
    cpu_events: float
    peak_mem: int
    layers: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)


def _timed(ctx: Ctx, key: str, fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    ctx.setup[key] = time.perf_counter() - t
    return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else _median(xs)


def table_stats(path: str, since: float = 0.0, until: float = float("inf")) -> tuple[int, int, int]:
    """(parquet files, bytes, rows) under ``path`` last written in
    [since, until] (epoch s), from the file footers, without Spark.
    Checkpoints, sink logs and hidden files are skipped."""
    import pyarrow.parquet as pq

    files = size = rows = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                p = os.path.join(root, n)
                if not since <= os.path.getmtime(p) <= until:
                    continue
                files += 1
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return files, size, rows


def decode_us_per_rec(payloads: list[bytes], n: int = 4000) -> float:
    """The codec's own decoder on the workload's Confluent payloads
    (5-byte header stripped, schema picked by the framed id)."""
    decoders = {1: decoder_for(PRODUCT_V1_JSON), 2: decoder_for(PRODUCT_V2_JSON)}
    sample = [(decoders[int.from_bytes(p[1:5], "big")], p[5:]) for p in payloads[:n]]
    t = time.perf_counter()
    for dec, body in sample:
        dec(body)
    return (time.perf_counter() - t) / len(sample) * 1e6


def _stage_layer(stage: str, acc: dict, trig: dict, out: tuple, n: float) -> dict:
    """One medallion stage's figures, each divided by ``n``, except the
    median trigger time."""
    files, size, rows = out
    vals = {
        "busy_ms": acc["busy_ms"],
        "calls": acc["calls"],
        "rows_in": trig["rows_in"],
        "rows_out": rows,
        "jobs": acc["jobs"],
        "tasks": acc["tasks"],
        "exec_cpu_ms": acc["exec_cpu_ms"],
        "shuffle_bytes": acc["shuffle_bytes"],
        "spill_bytes": acc["spill_bytes"],
        "files_out": files,
        "bytes_out": size,
        "plan_ms": trig["plan_ms"],
        "commit_ms": trig["commit_ms"],
    }
    flat = {f"{stage}.{k}": v / n for k, v in vals.items()}
    flat[f"{stage}.trigger_p50_ms"] = trig["trigger_p50_ms"]
    return flat


def _spark_layer(tot: dict, n: float) -> dict:
    keys = ("jobs", "tasks", "exec_cpu_ms", "jvm_cpu_ms", "py_cpu_ms",
            "shuffle_bytes", "spill_bytes", "gc_ms")
    return {f"spark.{k}": tot.get(k, 0.0) / n for k in keys}


@dataclass
class Window:
    """What the ledger saw over one stretch of pipeline work: the jobs
    submitted, the queries' progress events, JVM and Python-worker CPU
    at both ends, JVM garbage collection, and per stage the (files,
    bytes, rows) it wrote."""

    jobs: list
    progress: list[dict]
    procs: tuple
    gc_ms: float
    outputs: dict


def _pipeline_layers(ledger: SparkLedger, windows: list[Window]) -> dict:
    """Per-stage and engine figures, summed over ``windows`` and divided
    by their number (the median trigger time is over all triggers).
    Jobs go to a stage by ``_job_stages``."""
    n = len(windows)
    progress = [p for w in windows for p in w.progress]
    stage_of = _job_stages([j for w in windows for j in w.jobs], progress)
    layers, tot = {}, {}
    for s in STAGES:
        mine = [j for w in windows for j in w.jobs if stage_of[j.job_id] == s]
        trig = trigger_summary([p for p in progress if QUERY_STAGE[p["name"]] == s])
        acc = {"busy_ms": trig["trigger_ms"], "calls": trig["triggers"], "jobs": len(mine),
               **ledger.stage_totals(mine)}
        out = tuple(sum(w.outputs[s][i] for w in windows) for i in range(3))
        layers.update(_stage_layer(s, acc, trig, out, n))
        if s == "silver":
            layers["silver.state_rows"] = trig["state_rows"]
            layers["silver.state_bytes"] = trig["state_bytes"]
        for k, v in acc.items():
            tot[k] = tot.get(k, 0.0) + v
    jvm = sum(w.procs[1].jvm_cpu_s - w.procs[0].jvm_cpu_s for w in windows) * 1e3
    py = sum(w.procs[1].py_cpu_s - w.procs[0].py_cpu_s for w in windows) * 1e3
    tot.update(jvm_cpu_ms=jvm, py_cpu_ms=py, gc_ms=sum(w.gc_ms for w in windows))
    layers.update(_spark_layer(tot, n))
    # only the ingest demux runs Python workers
    layers["ingest.py_cpu_ms"] = py / n
    return layers


def _job_stages(jobs: list, progress: list[dict]) -> dict[int, str]:
    """The stage of each job. Spark tags every micro-batch's jobs with
    its query's runId as job group, and the progress events map runIds
    to query names. Jobs without a query's group are of two kinds: the
    ingest demux's per-schema writes, on pool threads that carry no
    group, which run inside an ingest trigger; and the schema read a
    stage makes on the driver before its query starts. So such a job
    is ingest's if an ingest trigger was running when it was submitted,
    else that of the next query to start, else ingest's."""
    by_run = {p["runId"]: QUERY_STAGE[p["name"]] for p in progress}
    ingest = [(progress_start(p), progress_end(p)) for p in progress
              if by_run[p["runId"]] == "ingest"]
    first = {}
    for p in progress:
        first[p["runId"]] = min(first.get(p["runId"], float("inf")), progress_start(p))
    starts = sorted((t, by_run[r]) for r, t in first.items())
    out = {}
    for j in jobs:
        if j.group in by_run:
            out[j.job_id] = by_run[j.group]
        elif any(a <= j.submitted <= b for a, b in ingest):
            out[j.job_id] = "ingest"
        else:
            out[j.job_id] = next((s for t, s in starts if t >= j.submitted), "ingest")
    return out


def _cpu_s(p0, p1) -> float:
    return (p1.jvm_cpu_s - p0.jvm_cpu_s) + (p1.py_cpu_s - p0.py_cpu_s)


# ------------------------------------------------------------------ drain


def _drain_once(spark, topic: str, d: str) -> None:
    """One availableNow ingest pass plus one pipeline pass into ``d``."""
    raw = ParquetTable(f"{d}/raw")
    ingest_avro_stream(file_stream(spark, topic), REGISTRY, raw, checkpoint=f"{d}/cp/ingest")
    run_pipeline(spark, d, raw, cutoff=gen.CUTOFF)


def _traced_drain(ctx: Ctx, topic: str, d: str, ledger: SparkLedger) -> tuple[float, Window]:
    """A drain under a progress listener, bracketed by ledger marks;
    returns its time (ms, with the listener's cost) and what it did."""
    spark = ctx.spark
    log = ProgressLog()
    floor, gc0, p0 = ledger.last_job_id(), ledger.gc_ms(), ctx.tree.sample()
    t0 = time.perf_counter()
    spark.streams.addListener(log)
    _drain_once(spark, topic, d)
    dt = time.perf_counter() - t0
    p1, gc1, ceiling = ctx.tree.sample(), ledger.gc_ms(), ledger.last_job_id()
    log.wait_terminated(4)  # ingest, bronze, silver, gold
    spark.streams.removeListener(log)
    jobs = [j for j in ledger.jobs_after(floor) if j.job_id <= ceiling]
    outputs = {s: table_stats(os.path.join(d, OUTPUT[s])) for s in STAGES}
    return dt * 1e3, Window(jobs, log.progress, (p0, p1), gc1 - gc0, outputs)


def drain(ctx: Ctx) -> Result:
    """Backlog drains into fresh workdirs until ``ctx.seconds`` of drain
    time have passed. Traced, every second drain is traced and the
    others stay plain, so the trace's cost shows."""
    spark = ctx.spark
    bl = _timed(ctx, "inputs_s", gen.backlog, ctx.cache, ctx.seed, DRAIN_UNIQUE)
    t = time.perf_counter()
    warm_ms = []
    for n in WARM_ROWS:
        t0 = time.perf_counter()
        _drain_once(spark, _head_topic(bl, n, ctx.work), os.path.join(ctx.work, f"warm-{n}"))
        warm_ms.append((time.perf_counter() - t0) * 1e3)
    ctx.setup["warmup_s"] = time.perf_counter() - t

    ledger = SparkLedger(spark)
    plain_ms, traced_ms, windows = [], [], []
    cpu_s, failed, k = 0.0, 0, 0
    mem = MemPeak(ctx.tree, ctx.heap_used)
    mem.start()
    while sum(plain_ms) + sum(traced_ms) < ctx.seconds * 1e3 or (ctx.trace and not traced_ms):
        d = os.path.join(ctx.work, f"pass{k}")
        if ctx.trace and k % 2 == 1:
            dt, w = _traced_drain(ctx, bl.topic_dir, d, ledger)
            traced_ms.append(dt)
            windows.append(w)
        else:
            p0 = ctx.tree.sample()
            t0 = time.perf_counter()
            _drain_once(spark, bl.topic_dir, d)
            plain_ms.append((time.perf_counter() - t0) * 1e3)
            cpu_s += _cpu_s(p0, ctx.tree.sample())
        failed += not checks.drain_ok(spark, d, bl)
        shutil.rmtree(d)
        k += 1
    mem.stop()
    res = Result(
        ok=failed == 0,
        attempted=k,
        failed=failed,
        latencies_ms=plain_ms,
        throughput_eps=bl.events / (_median(plain_ms) / 1e3),
        cpu_s=cpu_s,
        cpu_events=bl.events * len(plain_ms),
        peak_mem=mem.peak,
        record={"peak_pss_mb": mem.peak_pss / 2**20, "warm_ms": warm_ms, "traced_ms": traced_ms},
    )
    if ctx.trace:
        res.layers = _pipeline_layers(ledger, windows)
        res.layers.update({
            "avro.decode_us_per_rec": decode_us_per_rec(bl.payloads),
            "gen.events": float(bl.events),
            "gen.setup_ms": ctx.setup["inputs_s"] * 1e3,
            "trace.op_ms": _median(traced_ms),
            "trace.op_p90_ms": _p90(traced_ms),
            "trace.overhead_pct": 100 * (_median(traced_ms) / _median(plain_ms) - 1),
        })
        q_layers, bad = _queries_layer(ctx)
        res.layers.update(q_layers)
        res.attempted += len(BATCH_QUERIES)
        res.failed += len(bad)
        res.ok = res.ok and not bad
        res.layers["spark.local1_eps"] = _local1_drain(ctx, bl)
    return res


def _head_topic(bl, rows: int, work: str) -> str:
    """A topic directory holding the first ``rows`` events of the
    backlog (for warm-up drains)."""
    import pyarrow.parquet as pq

    topic = os.path.join(work, f"head-{rows}")
    if not os.path.isdir(topic):
        os.makedirs(topic)
        first = sorted(os.listdir(bl.topic_dir))[0]
        table = pq.read_table(os.path.join(bl.topic_dir, first)).slice(0, rows)
        gen.write_atomic(table, topic, "part-00000.parquet")
    return topic


def _local1_drain(ctx: Ctx, bl) -> float:
    """Single-thread baseline: the backlog drained once on a fresh
    ``local[1]`` context (in the JVM the run has warmed) after a small
    drain that starts its Python workers. Reported, not gated. Leaves
    ``ctx.spark`` on the new context."""
    ctx.spark.stop()
    ctx.spark = ctx.new_session(1)
    _drain_once(ctx.spark, _head_topic(bl, WARM_ROWS[0], ctx.work),
                os.path.join(ctx.work, "local1-warm"))
    d = os.path.join(ctx.work, "local1")
    t = time.perf_counter()
    _drain_once(ctx.spark, bl.topic_dir, d)
    eps = bl.events / (time.perf_counter() - t)
    if not checks.drain_ok(ctx.spark, d, bl):
        raise RuntimeError("local[1] drain produced wrong outputs")
    return eps


# ---------------------------------------------------------------- trickle


def trickle(ctx: Ctx) -> Result:
    """The always-on pipeline under an open-loop wave generator. A wave's
    freshness runs from its due time to the end of the first gold
    trigger whose cumulative input covers the wave's distinct events.
    The window itself does the same work traced or not; the per-layer
    figures are read afterwards from the status store, the queries'
    progress and the files' modification times."""
    spark = ctx.spark
    n_warm = round(TRICKLE_WARM_S / WAVE_S)
    n_timed = round(ctx.seconds / WAVE_S)
    waves = _timed(ctx, "inputs_s", gen.trickle_waves, ctx.seed, 1 + n_warm + n_timed, WAVE_EVENTS)
    topic = os.path.join(ctx.work, "topic")
    os.makedirs(topic)
    raw = ParquetTable(os.path.join(ctx.work, "raw"))
    cp = os.path.join(ctx.work, "cp", "ingest")

    t = time.perf_counter()
    gen.write_atomic(waves[0].table, topic, "wave-000000.parquet")
    ingest_avro_stream(file_stream(spark, topic), REGISTRY, raw, checkpoint=cp)
    qi = ingest_avro_stream_continuous(file_stream(spark, topic), REGISTRY, raw, cp)
    pipe = run_pipeline_continuous(spark, ctx.work, raw, cutoff=gen.CUTOFF)
    qs = {"ingest": qi, **pipe["queries"]}
    writer = gen.WaveWriter(waves[1:], topic, WAVE_S, time.time() + 0.05, first_index=1)
    writer.start()
    w_start = writer.start_at + n_warm * WAVE_S
    w_end = w_start + n_timed * WAVE_S
    time.sleep(max(0.0, w_start - time.time()))
    ctx.setup["warmup_s"] = time.perf_counter() - t

    ledger = SparkLedger(spark)
    p0, gc0 = ctx.tree.sample(), ledger.gc_ms()
    mem = MemPeak(ctx.tree, ctx.heap_used)
    mem.start()
    time.sleep(max(0.0, w_end - time.time()))
    p1, gc1 = ctx.tree.sample(), ledger.gc_ms()
    mem.stop()
    writer.join()
    if writer.error is not None:
        raise writer.error

    gold_q = qs["gold"]
    _await_gold(gold_q, waves[-1].unique_cum, timeout=30)
    stop_pipeline(pipe)
    qi.stop()
    qi.awaitTermination()

    gold_p = _progress(gold_q)
    timed = range(n_warm, n_warm + n_timed)  # indexes into writer.due
    fresh, reached = [], []
    for i in timed:
        end = _cover_end(gold_p, waves[1 + i].unique_cum)
        if end is not None:
            fresh.append((end - writer.due[i]) * 1e3)
            reached.append(end)
    offered = sum(waves[1 + i].table.num_rows for i in timed)
    span_s = (max(reached) - writer.due[timed[0]]) if reached else ctx.seconds
    ok = checks.trickle_ok(spark, ctx.work, raw, pipe["tables"], waves)
    res = Result(
        ok=ok,
        attempted=n_timed,
        failed=n_timed - len(fresh),
        latencies_ms=fresh,
        throughput_eps=offered / span_s,
        cpu_s=_cpu_s(p0, p1),
        cpu_events=offered,
        peak_mem=mem.peak,
        record={"peak_pss_mb": mem.peak_pss / 2**20},
    )
    if ctx.trace:
        in_window = [p for q in qs.values() for p in _progress(q)
                     if w_start <= progress_start(p) <= w_end]
        outputs = {s: table_stats(os.path.join(ctx.work, OUTPUT[s]), w_start, w_end)
                   for s in ("ingest", "bronze", "silver")}
        # gold is rewritten by every trigger: count each rewrite
        gold_triggers = sum(QUERY_STAGE[p["name"]] == "gold" for p in in_window)
        outputs["gold"] = tuple(v * gold_triggers for v in table_stats(os.path.join(ctx.work, "gold")))
        window = Window(ledger.jobs_submitted(w_start, w_end), in_window, (p0, p1), gc1 - gc0, outputs)
        timed_waves = waves[1 + n_warm:]
        payloads = [v for w in timed_waves for v in w.table.column("value").to_pylist()]
        res.layers = _pipeline_layers(ledger, [window])
        res.layers.update({
            "avro.decode_us_per_rec": decode_us_per_rec(payloads),
            "gen.events": float(sum(w.table.num_rows for w in timed_waves)),
            "gen.late_ms": max(writer.late[n_warm:]) * 1e3,
            "gen.setup_ms": ctx.setup["inputs_s"] * 1e3,
            "trace.op_ms": _median(fresh),
            "trace.op_p90_ms": _p90(fresh),
            # nothing is traced inside the window
            "trace.overhead_pct": 0.0,
        })
    return res


def _progress(q) -> list[dict]:
    return sorted((json.loads(p.json) for p in q.recentProgress), key=lambda p: p["batchId"])


def _await_gold(q, rows: int, timeout: float) -> None:
    """Wait until gold's triggers have read ``rows`` rows in all, or
    ``timeout`` seconds; waves still uncovered then count as failed."""
    deadline = time.monotonic() + timeout
    while sum(p.get("numInputRows", 0) for p in _progress(q)) < rows:
        if q.exception() is not None:
            raise q.exception()
        if time.monotonic() > deadline:
            return
        time.sleep(0.1)


def _cover_end(gold_progress: list[dict], need: int) -> float | None:
    """End (epoch s) of the first gold trigger whose cumulative input
    reaches ``need`` rows, or None."""
    cum = 0
    for p in gold_progress:
        cum += p.get("numInputRows", 0)
        if cum >= need:
            return progress_end(p)
    return None


# ---------------------------------------------------------------- queries


def _run_query(spark, fn, sf: str) -> tuple[float, float]:
    """(build s, action s) for one query through the noop sink."""
    t0 = time.perf_counter()
    df = fn(spark, sf)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def _queries_layer(ctx: Ctx) -> tuple[dict, list[str]]:
    """The query layer, measured in drain's traced run: the registered
    event queries over a generated events table, one untimed pass, then
    one traced pass with a span per query; then each output against its
    DuckDB oracle. Returns the layer figures and the failing queries."""
    spark = ctx.spark
    sf = gen.events_table(os.path.join(ctx.work, "sf"), ctx.seed, EVENTS_ROWS)
    registry = all_queries()
    fns = {n: registry[n] for n in BATCH_QUERIES}
    for fn in fns.values():
        _run_query(spark, fn, sf)
    tracer = Tracer(spark, ctx.tree)
    layers, build, action = {}, 0.0, 0.0
    for name, fn in fns.items():
        with tracer.span(name):
            b, a = _run_query(spark, fn, sf)
        build, action = build + b, action + a
        layers[f"q.{name}.ms"] = (b + a) * 1e3
        layers[f"q.{name}.jobs"] = tracer.layers[name]["jobs"]
    layers.update({
        "queries.build_ms": build * 1e3,
        "queries.exec_ms": action * 1e3,
        "queries.jobs": tracer.total(fns)["jobs"],
    })
    return layers, checks.query_failures(spark, sf, fns)


WORKLOADS = {"drain": drain, "trickle": trickle}
