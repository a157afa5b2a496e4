"""Outside-in ledger for the medallion benchmark.

Everything here watches the engine from outside, through Spark's public
status APIs and ``/proc``:

* ``ProcessTree``: CPU seconds of the Spark JVM, split from the Python
  workers forked under it, and the memory of the whole tree;
* ``heap_range``: where the JVM put its Java heap, from the JVM's log;
* ``MemPeak``: a sampler thread that keeps the peak of the memory the
  program uses (the tree's memory with the Java heap counted as used,
  not as resident);
* ``SparkLedger``: jobs, job groups and per-stage task metrics from
  ``sc._jsc.sc().statusStore()`` (works with the UI off);
* ``ProgressLog``: a query listener that keeps every progress event;
* ``Tracer``: one span per call into a layer, adding up what the above
  saw between its start and its end.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, own CPU ticks, reaped-children CPU ticks)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:  # the process ended between listdir and open
        return None
    f = s[s.rindex(")") + 2 :].split()
    return int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


@dataclass
class ProcSample:
    jvm_cpu_s: float
    py_cpu_s: float


def heap_range(log_path: str) -> tuple[int, int]:
    """[start, end) address of the Java heap, from the line the JVM logs
    with ``-Xlog:gc+heap+coops=debug:file=<log_path>``:
    ``Heap address: 0x00000000c0000000, size: 1024 MB, ...``."""
    with open(log_path) as fh:
        m = re.search(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB", fh.read())
    if m is None:
        raise ValueError(f"no heap address in {log_path}")
    start = int(m[1], 16)
    return start, start + int(m[2]) * 2**20


@dataclass
class MemSample:
    pss: int  # proportional set size of the whole tree
    heap_rss: int  # resident bytes of the JVM's Java heap


class ProcessTree:
    """The Spark JVM and every process below it: the ``pyspark.daemon``
    and the workers it forks. A worker that exits is reaped by its
    parent, so its CPU moves into the parent's children-time and the
    tree's total never drops. ``heap`` is the Java heap's address range
    (``heap_range``), so its resident pages can be told apart."""

    def __init__(self, jvm_pid: int, heap: tuple[int, int] = (0, 0)):
        self.jvm_pid = jvm_pid
        self.heap = heap

    def _stats(self) -> tuple[tuple, dict[int, tuple]]:
        """The JVM's stat and those of all its descendants."""
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _read_stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        jvm = stats.get(self.jvm_pid)
        if jvm is None:
            raise RuntimeError(f"Spark JVM (pid {self.jvm_pid}) is gone")
        children = defaultdict(list)
        for pid, st in stats.items():
            children[st[0]].append(pid)
        below, stack = {}, list(children[self.jvm_pid])
        while stack:
            pid = stack.pop()
            below[pid] = stats[pid]
            stack.extend(children[pid])
        return jvm, below

    def sample(self) -> ProcSample:
        jvm, below = self._stats()
        py_ticks = jvm[2] + sum(own + reaped for _p, own, reaped in below.values())
        return ProcSample(jvm[1] / CLK_TCK, py_ticks / CLK_TCK)

    def memory(self) -> MemSample:
        """Proportional set size of the tree (pages shared between the
        worker daemon and the workers it forked count once, not once per
        process as in a sum of RSS), and the JVM's resident heap pages
        (the mappings inside ``heap``, from ``/proc/<jvm>/smaps``)."""
        _jvm, below = self._stats()
        pss = heap_rss = 0
        in_heap = False
        with open(f"/proc/{self.jvm_pid}/smaps") as fh:
            for line in fh:
                if not line[0].isupper():  # a mapping's header: "lo-hi perms ..."
                    lo, hi = (int(a, 16) for a in line.split(None, 1)[0].split("-"))
                    in_heap = self.heap[0] <= lo and hi <= self.heap[1]
                elif line.startswith("Pss:"):
                    pss += int(line.split()[1]) * 1024
                elif in_heap and line.startswith("Rss:"):
                    heap_rss += int(line.split()[1]) * 1024
        for pid in below:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            pss += int(line.split()[1]) * 1024
                            break
            except OSError:  # a worker that just exited
                pass
        return MemSample(pss, heap_rss)


class MemPeak(threading.Thread):
    """Samples, every ``interval`` seconds until ``stop()``, the memory
    the program uses: the tree's PSS with the Java heap's resident pages
    replaced by the heap's used bytes (``heap_used``, from JMX). A heap
    the JVM committed and touched but holds nothing in does not count;
    everything off the heap (metaspace, code, threads, direct buffers,
    the RocksDB state store, Arrow buffers, Python workers) does.
    ``peak`` is the largest such sample, ``peak_pss`` the largest PSS.
    One sample reads the JVM's whole page map (tens of ms on 4 vCPUs),
    so sampling faster than 1 Hz costs the measured run a visible share
    of a core."""

    def __init__(self, tree: ProcessTree, heap_used: Callable[[], int], interval: float = 1.0):
        super().__init__(name="mem-peak", daemon=True)
        self.tree, self.heap_used, self.interval = tree, heap_used, interval
        self.peak = self.peak_pss = 0
        self._done = threading.Event()

    def _sample(self) -> None:
        m = self.tree.memory()
        self.peak = max(self.peak, m.pss - m.heap_rss + self.heap_used())
        self.peak_pss = max(self.peak_pss, m.pss)

    def run(self) -> None:
        while True:
            self._sample()
            if self._done.wait(self.interval):
                return

    def stop(self) -> int:
        self._done.set()
        self.join()
        self._sample()
        return self.peak


@dataclass
class Job:
    job_id: int
    group: str | None
    stage_ids: list[int]
    submitted: float  # epoch seconds


STAGE_FIELDS = ("tasks", "exec_cpu_ms", "shuffle_bytes", "spill_bytes")


class SparkLedger:
    """Jobs and stage task metrics from the application status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_after(self, floor: int) -> list[Job]:
        """Every job whose id is above ``floor``, oldest first."""
        return self._jobs(lambda j: j.jobId() > floor)

    def jobs_submitted(self, start: float, end: float) -> list[Job]:
        """Every job submitted in [start, end] (epoch s), oldest first."""
        return self._jobs(lambda j: _submitted(j) >= start, lambda j: _submitted(j) <= end)

    def _jobs(self, newer, keep=lambda j: True) -> list[Job]:
        """Jobs from the newest back to the first that is not ``newer``,
        those that ``keep`` accepts, oldest first."""
        jobs = self.store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if not newer(j):
                break
            if not keep(j):
                continue
            g = j.jobGroup()
            s = j.stageIds()
            out.append(
                Job(
                    j.jobId(),
                    g.get() if g.isDefined() else None,
                    [s.apply(k) for k in range(s.size())],
                    _submitted(j),
                )
            )
        return out[::-1]

    def stage_totals(self, jobs: list[Job]) -> dict[str, float]:
        """Task metrics summed over the distinct stages of ``jobs``.
        Shuffle bytes count what was written (each shuffled byte once);
        spill counts memory and disk spill."""
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sid in sorted({s for j in jobs for s in j.stage_ids}):
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never ran
                continue
            tot["tasks"] += st.numCompleteTasks()
            tot["exec_cpu_ms"] += st.executorCpuTime() / 1e6
            tot["shuffle_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    def gc_ms(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


def _submitted(job) -> float:
    t = job.submissionTime()
    return t.get().getTime() / 1e3 if t.isDefined() else 0.0


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event as a plain dict, and the run ids of
    queries that terminated, for the benchmark to read afterwards."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Block until the listener bus has delivered ``n`` query ends
        (a query's progress events are delivered before its end)."""
        deadline = time.monotonic() + timeout
        while len(self.terminated) < n:
            if time.monotonic() > deadline:
                raise TimeoutError(f"{len(self.terminated)} of {n} query ends seen")
            time.sleep(0.02)


def progress_start(p: dict) -> float:
    """Trigger start of a progress event, as epoch seconds."""
    t = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=timezone.utc).timestamp()


def progress_end(p: dict) -> float:
    return progress_start(p) + p["durationMs"].get("triggerExecution", 0) / 1e3


def trigger_summary(progress: list[dict]) -> dict[str, float]:
    """Per-query trigger figures from its progress events: count, total
    and median trigger time, planning and commit time (WAL write plus
    offset commit), rows in, and the last state-store size."""
    trig = sorted(p["durationMs"].get("triggerExecution", 0) for p in progress)
    dur = [p["durationMs"] for p in progress]
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        "triggers": len(progress),
        "trigger_ms": float(sum(trig)),
        "trigger_p50_ms": float(trig[len(trig) // 2]) if trig else 0.0,
        "plan_ms": float(sum(d.get("queryPlanning", 0) for d in dur)),
        "commit_ms": float(
            sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur)
        ),
        "rows_in": float(sum(p.get("numInputRows", 0) for p in progress)),
        "state_rows": float(state[-1]["numRowsTotal"]) if state else 0.0,
        "state_bytes": float(state[-1]["memoryUsedBytes"]) if state else 0.0,
    }


class Tracer:
    """Spans around calls into layers. A span sets a job group named
    after its layer, then adds to that layer: wall time, calls, the
    jobs submitted while it ran and their stage metrics, JVM garbage
    collection, and the CPU the JVM and the Python workers used. Spans
    must not overlap: the job window and the CPU deltas belong to one
    layer at a time."""

    def __init__(self, spark, tree: ProcessTree):
        self.sc = spark.sparkContext
        self.ledger = SparkLedger(spark)
        self.tree = tree
        self.layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    @contextmanager
    def span(self, layer: str):
        self.sc.setJobGroup(f"perfbench.{layer}", layer)
        floor = self.ledger.last_job_id()
        gc0 = self.ledger.gc_ms()
        p0 = self.tree.sample()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            p1 = self.tree.sample()
            gc1 = self.ledger.gc_ms()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = self.ledger.jobs_after(floor)
            acc = self.layers[layer]
            acc["busy_ms"] += (t1 - t0) * 1e3
            acc["calls"] += 1
            acc["jobs"] += len(jobs)
            acc["gc_ms"] += gc1 - gc0
            acc["jvm_cpu_ms"] += (p1.jvm_cpu_s - p0.jvm_cpu_s) * 1e3
            acc["py_cpu_ms"] += (p1.py_cpu_s - p0.py_cpu_s) * 1e3
            for k, v in self.ledger.stage_totals(jobs).items():
                acc[k] += v

    def total(self, layers) -> dict[str, float]:
        """Sums over ``layers`` of every figure the spans keep."""
        out: dict[str, float] = defaultdict(float)
        for name in layers:
            for k, v in self.layers[name].items():
                out[k] += v
        return out
