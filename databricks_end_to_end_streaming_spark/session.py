"""SparkSession factory for the engine.

The reference pipeline inherits its session from the Databricks runtime
(see /root/reference/notebooks/medallion/bronze.py:14 — `spark` is ambient).
Here we own session construction, tuned for both local testing and a large
cluster:

* AQE on (runtime shuffle-partition coalescing + skew-join splitting) —
  essential at 100 TB where static partition counts are always wrong.
* RocksDB state store for streaming state (dedup / agg state at scale;
  the reference's unbounded `dropDuplicates` state would OOM the default
  HDFS-backed in-memory store).
* Checkpoint and sink-log writes through the Hadoop ``FileSystem`` API
  (``FileSystemBasedCheckpointFileManager``) instead of Spark's default
  ``FileContext`` manager. Every streaming query's offset and commit
  logs, every file sink's ``_spark_metadata`` log and the RocksDB
  state-store checkpoint files go through this manager, so its rename is
  a fixed cost on every trigger of every medallion stage.
  ``FileContext.rename`` checks each path for a symlink, and Hadoop's
  ``RawLocalFileSystem`` answers that check by spawning a ``readlink``
  process when libhadoop is not loaded — hundreds of process starts per
  second for the always-on cascade. The swap keeps the log's
  guarantees: a write still goes temp file -> rename, ``rename(2)`` is
  atomic on POSIX and on HDFS, and the manager still refuses to replace
  an existing batch file, so Spark's "Concurrent update to the log"
  guard holds. ``FileContext``'s own no-overwrite rename on the local
  filesystem is check-then-rename too, so no guarantee is lost. The
  precondition is the one the log always had: one writer per checkpoint
  and a filesystem with atomic rename. Object stores lack the latter;
  there the Delta log (which keeps its own log store) replaces it.
* The JVM Avro decoder (``avro/AvroWireDecode.java``) on ``spark.jars``.
  The engine ships the Java source, not a jar: ``_decoder_jar`` compiles
  it with the installed ``javac`` against Spark's own jars ONCE per cache
  entry, named by the source's sha256 and the pyspark version, under the
  per-user cache directory (``$XDG_CACHE_HOME`` or ``~/.cache``, never
  ``TMPDIR``, which a caller may point at a per-run work dir). The
  compile costs seconds of CPU; once the jar exists, every later session
  pays one ``stat``. Without ``javac``, or when the compile fails, no jar
  is added and ``decode_avro`` keeps its Python codec path.
* UTC session timezone so TIMESTAMP semantics match the DuckDB oracle.
* `nanosAsLong` because the driver's `events.parquet` carries
  TIMESTAMP(NANOS), which Spark has no native type for; `tables.py`
  re-types the column to TIMESTAMP_NTZ at microsecond precision.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path

import pyspark
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """Driver-heap default sized from the machine instead of a flat 24g:
    min(12g, ~70% of physical RAM, floor 2g). Two reasons for the cap:
    a 24g heap on a 16 GiB laptop fails to launch or swaps, and the r4
    bench regression root-cause (README bench history) showed G1 with a
    very large heap taxes the scan-agg hot path ~25-30% (tpch_q1 1.43 s
    at 4-8g vs 1.8-2.2 s at 24g, monotonic in heap size) — more heap is
    strictly worse once the workload fits. SPARK_GRAFT_DRIVER_MEM
    overrides; bench.py pins its own measured sweet spot."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page_size = os.sysconf("SC_PAGE_SIZE")
        total_gib = pages * page_size / (1 << 30)
        return f"{max(2, min(12, int(total_gib * 0.7)))}g"
    except (ValueError, OSError, AttributeError):
        return "4g"


_DECODER_SOURCE = Path(__file__).parent / "avro" / "AvroWireDecode.java"


@functools.cache
def _decoder_key() -> str:
    source = _DECODER_SOURCE.read_bytes()
    return hashlib.sha256(source + pyspark.__version__.encode()).hexdigest()[:16]


def _decoder_jar() -> str | None:
    """Path of the compiled JVM Avro decoder, building it on the first
    call per cache entry; None when it cannot be built (module
    docstring). The jar is written under a temporary name and renamed
    into place, so concurrent first sessions never see a partial jar."""
    cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
    jar = cache / "spark-graft" / f"avro-wire-decode-{_decoder_key()}.jar"
    if jar.exists():
        return str(jar)
    javac = shutil.which("javac")
    if javac is None:
        return None
    from pyspark.find_spark_home import _find_spark_home

    classpath = os.path.join(_find_spark_home(), "jars", "*")
    try:
        with tempfile.TemporaryDirectory() as out:
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", classpath,
                 "-d", out, str(_DECODER_SOURCE)],
                check=True,
                capture_output=True,
            )
            jar.parent.mkdir(parents=True, exist_ok=True)
            part = jar.with_name(f"{jar.name}.{os.getpid()}.part")
            with zipfile.ZipFile(part, "w") as zf:
                for cls in Path(out).rglob("*.class"):
                    zf.write(cls, cls.relative_to(out).as_posix())
            os.replace(part, jar)
    except (OSError, subprocess.CalledProcessError):
        return None
    return str(jar)


def session_conf(
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The Spark settings ``get_spark`` applies: the engine's defaults,
    each overridable by ``extra_conf``."""
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    conf = {
        # Local mode launches the driver JVM with Spark's 1g default
        # heap unless told otherwise — far too small for a 32-thread
        # "cluster" whose executors, shuffle blocks, broadcast vars and
        # localCheckpoint storage all share it (observed: heap OOM in a
        # long bench session). Honored only at JVM launch; a session
        # that already exists keeps its heap. Sized from physical RAM
        # (min(12g, 70%)) so small hosts still launch and G1 stays out
        # of the scan-agg hot path (see _default_driver_mem).
        "spark.driver.memory": _default_driver_mem(),
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.session.timeZone": "UTC",
        # AQE: coalesce post-shuffle partitions, split skewed joins.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Streaming state at scale: RocksDB spills to local disk instead of
        # holding all keyed state on-heap.
        # (Runtime bloom-filter join pruning is already ON by default in
        # Spark 4 — spark.sql.optimizer.runtime.bloomFilter.enabled —
        # verified, so it is not re-set here.)
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        # Offset/commit logs, sink metadata logs and state checkpoints:
        # FileSystem.rename, not FileContext.rename (module docstring).
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
        # Arrow for pandas-UDF boundaries (the only place rows leave the JVM).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Driver testdata ships TIMESTAMP(NANOS) parquet (events.ts).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Local runs: don't spin up the UI.
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
    }
    jar = _decoder_jar()
    if jar is not None:
        conf["spark.jars"] = jar
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    app_name: str = "databricks-end-to-end-streaming-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in session_conf(shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
