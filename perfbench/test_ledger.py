"""Tests of the benchmark's ledger and generator on tiny inputs.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timezone

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.dirname(os.path.abspath(__file__))]

import gen  # noqa: E402
from ledger import (  # noqa: E402
    MemPeak,
    ProcessTree,
    ProgressLog,
    SparkLedger,
    Tracer,
    heap_range,
    progress_end,
    progress_start,
    trigger_summary,
)


@pytest.fixture(scope="module")
def heap_log(tmp_path_factory):
    return str(tmp_path_factory.mktemp("jvm") / "heap.log")


@pytest.fixture(scope="module")
def spark(tmp_path_factory, heap_log):
    from databricks_end_to_end_streaming_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join([REPO, os.path.dirname(__file__)])
    s = get_spark(
        "perfbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh")),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xlog:gc+heap+coops=debug:file={heap_log}",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tree(spark, heap_log):
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return ProcessTree(pid, heap_range(heap_log))


def _double(batches):
    for pdf in batches:
        pdf["id"] = pdf["id"] * 2
        yield pdf


def test_job_group_jobs_and_stage_metrics(spark):
    ledger = SparkLedger(spark)
    floor = ledger.last_job_id()
    spark.sparkContext.setJobGroup("ledger-test", "shuffle")
    df = spark.range(0, 1000, 1, 3).selectExpr("id % 5 AS k").groupBy("k").count()
    assert sorted(r["count"] for r in df.collect()) == [200] * 5
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    jobs = ledger.jobs_after(floor)
    assert jobs and all(j.group == "ledger-test" for j in jobs)
    assert [j.job_id for j in jobs] == sorted(j.job_id for j in jobs)
    tot = ledger.stage_totals(jobs)
    assert tot["tasks"] >= 3  # the three map tasks at least
    assert tot["shuffle_bytes"] > 0
    assert tot["exec_cpu_ms"] > 0
    assert ledger.jobs_after(ledger.last_job_id()) == []
    first, last = jobs[0].submitted, jobs[-1].submitted
    assert [j.job_id for j in ledger.jobs_submitted(first, last)] == [j.job_id for j in jobs]
    assert ledger.jobs_submitted(last + 3600, last + 7200) == []


def test_process_tree_splits_jvm_and_python_workers(spark, tree):
    p0 = tree.sample()
    df = spark.range(0, 20_000, 1, 2).mapInPandas(_double, "id long")
    assert df.agg({"id": "sum"}).collect()[0][0] == 20_000 * 19_999
    p1 = tree.sample()
    assert p1.py_cpu_s > p0.py_cpu_s
    assert p1.jvm_cpu_s > p0.jvm_cpu_s


def test_memory_counts_the_heap_as_used(spark, tree):
    lo, hi = tree.heap
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 0 < hi - lo and abs((hi - lo) - max_heap) <= 0.1 * (hi - lo)
    m = tree.memory()
    assert m.pss > 100 * 2**20  # a JVM is never this small
    assert 0 < m.heap_rss < m.pss
    heap = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    peak = MemPeak(tree, lambda: heap.getHeapMemoryUsage().getUsed(), interval=0.05)
    peak.start()
    spark.range(0, 200_000, 1, 2).selectExpr("sum(id)").collect()
    assert peak.stop() > 0
    assert peak.peak_pss >= m.pss // 2
    assert peak.peak < peak.peak_pss + (hi - lo)


def test_heap_range_reads_the_jvm_log(tmp_path):
    log = tmp_path / "heap.log"
    log.write_text(
        "[0.004s][debug][gc,heap,coops] Heap address: 0x00000000c0000000, "
        "size: 1024 MB, Compressed Oops mode: 32-bit\n"
    )
    assert heap_range(str(log)) == (0xC0000000, 0x100000000)
    log.write_text("nothing here\n")
    with pytest.raises(ValueError):
        heap_range(str(log))


def test_progress_log_and_runid_job_group(spark, tmp_path):
    src = tmp_path / "src"
    spark.range(0, 50).selectExpr("id % 10 AS k").write.parquet(str(src))
    log = ProgressLog()
    spark.streams.addListener(log)
    ledger = SparkLedger(spark)
    floor = ledger.last_job_id()
    try:
        q = (
            spark.readStream.schema("k long").parquet(str(src))
            .dropDuplicates(["k"])
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        log.wait_terminated(1)
    finally:
        spark.streams.removeListener(log)
    events = [p for p in log.progress if p["runId"] == str(q.runId)]
    s = trigger_summary(events)
    assert s["triggers"] == len(events) >= 1
    assert s["rows_in"] == 50
    assert s["state_rows"] == 10
    assert all(progress_start(p) <= progress_end(p) for p in events)
    # Spark tags a micro-batch's jobs with the query's runId
    groups = {j.group for j in ledger.jobs_after(floor)}
    assert str(q.runId) in groups


def test_tracer_span_adds_up(spark, tree):
    tracer = Tracer(spark, tree)
    for _ in range(2):
        with tracer.span("layer"):
            spark.range(0, 100, 1, 2).count()
    acc = tracer.layers["layer"]
    assert acc["calls"] == 2
    assert acc["jobs"] >= 2
    assert acc["busy_ms"] > 0
    assert tracer.total(["layer"])["jobs"] == acc["jobs"]


def test_waves_replay_the_previous_wave(tmp_path):
    waves = gen.trickle_waves(seed=3, n_waves=4, per_wave=50, replay=0.2)
    assert waves[0].table.num_rows == 50
    assert waves[0].unique_cum == 50
    for w, prev in zip(waves[1:], waves):
        assert w.unique_cum == prev.unique_cum + 50
        assert w.table.num_rows > 50  # replays on top of 50 new events
    again = gen.trickle_waves(seed=3, n_waves=4, per_wave=50, replay=0.2)
    assert [w.table for w in again] == [w.table for w in waves]
    gen.write_atomic(waves[0].table, str(tmp_path), "w.parquet")
    assert os.listdir(tmp_path) == ["w.parquet"]


def test_expected_gold_dedups_and_cuts():
    base = gen.CUTOFF_TS
    events = [
        {"eventId": "a", "type": "shirt", "timestamp": base + 5, "color": "red", "size": "m"},
        {"eventId": "a", "type": "shirt", "timestamp": base + 5, "color": "red", "size": "m"},
        {"eventId": "b", "type": "shirt", "timestamp": base + 9},
        {"eventId": "c", "type": "shirt", "timestamp": base - 1, "color": "red", "size": "m"},
    ]
    assert gen.expected_gold(events) == {
        ("shirt", "red", "m"): (1, 1, 1, base + 5),
        ("shirt", None, None): (1, 0, 0, base + 9),
    }


def test_job_stages_split_jobs_by_query_and_time():
    from ledger import Job
    from workloads import _job_stages

    def prog(run, name, start_s, ms):
        ts = datetime.fromtimestamp(start_s, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
        return {"runId": run, "name": name, "timestamp": ts, "durationMs": {"triggerExecution": ms}}

    t = 1_700_000_000.0
    progress = [prog("r-in", "ingest_raw", t, 2000), prog("r-br", "bronze_layer", t + 3, 500)]
    jobs = [
        Job(1, "r-in", [], t + 0.1),  # the ingest query's own job
        Job(2, None, [], t + 1.0),  # a demux pool-thread write, inside the ingest trigger
        Job(3, None, [], t + 2.5),  # bronze's schema read, before its query starts
        Job(4, "r-br", [], t + 3.1),
        Job(5, None, [], t + 9.0),  # after every query: ingest's
    ]
    assert _job_stages(jobs, progress) == {1: "ingest", 2: "ingest", 3: "bronze", 4: "bronze", 5: "ingest"}
