"""The session factory's checkpoint-manager default.

Every streaming query's offset/commit log, every file sink's
``_spark_metadata`` log and the RocksDB state checkpoints are written
through the manager named by ``spark.sql.streaming.checkpointFileManagerClass``.
The engine sets the ``FileSystem``-based manager; these tests pin that
default, the multi-writer guard the offset log relies on, and that an
explicit ``extra_conf`` still overrides it.
"""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from databricks_end_to_end_streaming_spark.session import session_conf

KEY = "spark.sql.streaming.checkpointFileManagerClass"
PKG = "org.apache.spark.sql.execution.streaming.checkpointing"


def _manager(spark, path: str):
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    factory = getattr(spark._jvm, PKG).CheckpointFileManager
    return factory.create(spark._jvm.org.apache.hadoop.fs.Path(path), hadoop_conf)


def _write_atomic(spark, manager, path: str, data: bytes) -> None:
    out = manager.createAtomic(spark._jvm.org.apache.hadoop.fs.Path(path), False)
    out.write(bytearray(data))
    out.close()


def test_session_uses_filesystem_checkpoint_manager(spark, workdir):
    m = _manager(spark, workdir)
    assert m.getClass().getName() == f"{PKG}.FileSystemBasedCheckpointFileManager"


def test_atomic_create_refuses_to_replace_existing_log_file(spark, workdir):
    """The "Concurrent update to the log" guard: a second writer of the
    same batch file fails at close instead of replacing it."""
    m = _manager(spark, workdir)
    target = os.path.join(workdir, "0")
    _write_atomic(spark, m, target, b"first")
    with pytest.raises(Py4JJavaError) as err:
        _write_atomic(spark, m, target, b"second")
    # Spark raises its SparkFileAlreadyExistsException subclass
    expected = spark._jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert expected.isInstance(err.value.java_exception)
    with open(target, "rb") as f:
        assert f.read() == b"first"


def test_extra_conf_overrides_checkpoint_manager_default():
    assert session_conf()[KEY] == f"{PKG}.FileSystemBasedCheckpointFileManager"
    mine = f"{PKG}.FileContextBasedCheckpointFileManager"
    assert session_conf(extra_conf={KEY: mine})[KEY] == mine
