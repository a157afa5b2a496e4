"""Benchmark of the streaming medallion, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload drain --seed 1 --seconds 10 --trace 0

Workloads: ``drain`` and ``trickle`` (see METRICS.md).
With ``--trace 0`` the last line of standard output is one JSON object
with the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` it
carries the per-layer metrics instead. The line before it is a record of
the host and the set-up (CPU sentinel, load average, versions, every
``SPARK_GRAFT_*`` setting), also written under ``.bench_work/records``.
Everything the run writes stays under ``.bench_work`` in the current
directory, which must hold the engine's source.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "databricks_end_to_end_streaming_spark"
# the engine's settings this benchmark pins; recorded with every run.
# A 1 GiB heap (also its initial size, -Xms), not the engine's default
# share of the host's RAM, so the figures do not depend on how much
# memory the host has or on the JVM's heap-growth policy.
GRAFT_ENV = {"SPARK_GRAFT_DRIVER_MEM": "1g"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, cores: int):
    """A ``local[cores]`` session from the engine's own factory, with its
    scratch space, warehouse and JVM temp files under ``work``, and the
    status store kept for every job of the run. The JVM logs where its
    heap lies to ``work/tmp/heap.log`` (see ``ledger.heap_range``)."""
    from databricks_end_to_end_streaming_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    heap_log = f"-Xlog:gc+heap+coops=debug:file={tmp}/heap.log"
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g {heap_log}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def sentinel_s(spark, cores: int) -> float:
    """A fixed CPU-bound Spark job (codegen sum over a literal range, no
    I/O, no shuffle): its time tracks host contention, not the engine."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 60_000_000, 1, cores).selectExpr("sum(id % 7)").collect()
        best = min(best, time.perf_counter() - t)
    return best


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def cpu_steal_ticks() -> int:
    """Host-wide CPU steal so far (``/proc/stat``): time the hypervisor
    gave this machine's vCPUs to someone else."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def e2e_metrics(res, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "latency_ms": statistics.median(res.latencies_ms),
        "throughput_eps": res.throughput_eps,
        "cpu_us_per_event": res.cpu_s / res.cpu_events * 1e6,
        "peak_mem_mb": res.peak_mem / 2**20,
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"run from a checkout holding BENCHMARK.json and {PACKAGE}/", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    bench = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # before pyspark or the engine is imported: temp files, worker
    # imports and the engine's module-level settings read these
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.update(GRAFT_ENV)
    sys.path[:0] = [ROOT, HERE]

    import pyspark
    from ledger import ProcessTree, heap_range
    from workloads import WORKLOADS, Ctx

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "loadavg_before": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "spark_graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
    }
    steal0 = cpu_steal_ticks()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t
        jvm = spark.sparkContext._jvm
        tree = ProcessTree(jvm.java.lang.ProcessHandle.current().pid(),
                           heap_range(os.path.join(work, "tmp", "heap.log")))
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        record["sentinel_before_s"] = sentinel_s(spark, cores)
        ctx = Ctx(spark, tree, args.seed, args.seconds, bool(args.trace), work,
                  os.path.join(bench, "cache"), lambda n: start_session(work, n),
                  lambda: heap.getHeapMemoryUsage().getUsed())
        ctx.setup["session_s"] = session_s
        res = WORKLOADS[args.workload](ctx)
        spark = ctx.spark
        record["sentinel_after_s"] = sentinel_s(spark, cores)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["loadavg_after"] = os.getloadavg()
    record["steal_s"] = (cpu_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    record["setup"] = ctx.setup
    record["latencies_ms"] = res.latencies_ms
    record.update(res.record)

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        unknown = set(res.layers) - set(names)
        if unknown:
            raise KeyError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        values = {n: float(res.layers.get(n, 0.0)) for n in names}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = e2e_metrics(res, sum(ctx.setup.values()))
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    record["metrics"] = values
    os.makedirs(os.path.join(bench, "records"), exist_ok=True)
    name = f"{args.workload}-{args.seed}-t{args.trace}-{int(time.time())}.json"
    with open(os.path.join(bench, "records", name), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"perfbench_record": record}))
    print(json.dumps({
        "correct": res.ok,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
