"""The session's streaming checkpoint writer: which manager
``get_spark`` wires in, that it still refuses to overwrite a committed
log entry (the fencing two writers of one batch rely on), and the
probe that prints its per-batch cost."""

from __future__ import annotations

from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

#: not Spark's default, the FileContext-based manager, which forks
#: ``readlink`` and ``ls`` for its status checks on a local filesystem
#: without the native Hadoop library (``dolphinbeat_spark.session``)
FILESYSTEM_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _manager(spark, path):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return cfm.create(jvm.org.apache.hadoop.fs.Path(str(path)), conf)


def _write(manager, spark, path, payload: bytes):
    out = manager.createAtomic(spark._jvm.org.apache.hadoop.fs.Path(str(path)), False)
    for b in payload:
        out.write(b)
    out.close()


def test_streaming_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    manager = _manager(spark, tmp_path)
    assert manager.getClass().getName() == FILESYSTEM_MANAGER
    assert spark.conf.get(
        "spark.sql.streaming.checkpointFileManagerClass") == FILESYSTEM_MANAGER


def test_checkpoint_entry_is_never_overwritten(spark, tmp_path):
    manager = _manager(spark, tmp_path)
    entry = tmp_path / "0"
    _write(manager, spark, entry, b"first")
    with pytest.raises(Py4JJavaError, match="FileAlreadyExists|FAILED_RENAME_PATH"):
        _write(manager, spark, entry, b"second")
    assert entry.read_bytes() == b"first"


def test_stream_probe_reports_per_batch_costs(spark, monkeypatch):
    """``tools/worker_overhead.py``'s stream probe runs on a session
    and reports the per-batch log-write medians and process count."""
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "tools"))
    from worker_overhead import STREAM_BATCHES, run_stream

    got = run_stream(spark)
    assert got["batches"] >= STREAM_BATCHES
    assert set(got) == {"batches", "wal_commit_ms", "commit_offsets_ms", "trigger_ms",
                        "machine_process_creations_per_batch"}
    assert got["machine_process_creations_per_batch"] >= 0
