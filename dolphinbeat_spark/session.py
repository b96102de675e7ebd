"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the conf is written so the same
code scales to a multi-executor cluster: AQE on (runtime coalesce +
skew-join handling), shuffle partitions sized by env, Arrow enabled for
the few Pandas-UDF paths, UTC session timezone so timestamp semantics
match the DuckDB oracle.

Python workers fork from the engine's daemon,
``dolphinbeat_spark.worker_daemon`` (``spark.python.daemon.module``),
which removes three fixed costs of every Python task: the
``importlib.invalidate_caches()`` every task starts with skips zip
archives that did not change on disk (about 200 ms a task on CPython
< 3.12); each task sets ``TCP_QUICKACK`` on its socket, so its input
is not held 40 ms behind a delayed ACK (Linux); and the modules every
task imports are imported and ``gc.freeze()``-d before the workers
fork, so the full collection after each task no longer scans pyarrow,
pandas and pyspark (about 35 ms of CPU a task). Executors import
``dolphinbeat_spark`` for it, as they already do for the engine's UDFs.

Streaming checkpoints (offset, commit and metadata logs, state-store
deltas and snapshots) are written by Spark's
``FileSystemBasedCheckpointFileManager``
(``spark.sql.streaming.checkpointFileManagerClass``). Spark's default,
the FileContext-based manager, checks the status of every temp file
and rename target through Hadoop's ``AbstractFileSystem``; without the
native Hadoop library the local filesystem answers each check by
forking ``readlink`` or ``ls``, about 40 processes per micro-batch.
Both managers write a temp file and rename it into place, refusing an
existing destination, so the guarantees are unchanged: they rest on an
atomic ``rename`` (a local disk or HDFS, not an object store) and one
writer per checkpoint directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: the streaming checkpoint writer (module docstring)
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "dolphinbeat_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes: nothing here is local-mode-only. On a real cluster the
    same settings apply; ``spark.sql.shuffle.partitions`` should be
    raised to ~2-3x total cores (AQE coalesces the excess), and
    ``maxPartitionBytes`` keeps scan tasks ~128MB so a 100 TB input
    splits into ~800k well-sized tasks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 default, pinned explicitly (r17, ADVICE): the
        # long-cents/limb money aggregation's soundness net is
        # raise-on-int64-overflow; a cluster profile that disables ANSI
        # would otherwise silently wrap money sums past the documented
        # headroom instead of failing loudly.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects;
        # read as long, catalog.load converts to micros TimestampType
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # shuffle/spill codec, env-parameterised for A/B (r17, guide
        # §2.3): default stays Spark's lz4; the sf100-replica A/B is
        # recorded in OPTIMIZATION_r17.md — on a network-bound cluster
        # set SPARK_GRAFT_IO_CODEC=zstd and re-measure there.
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "dolphinbeat_spark.worker_daemon")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        # 24g measured AGAINST 64g at r16: steady-state q1 sf100
        # walls were 23-27 s at 24g vs 56-60 s at 64g on clean
        # steal-stamped windows (BASELINE §r16 A/B) — the bigger
        # heap ran the same plans ~2x slower (young-gen/L3
        # locality), so the spill margin 64g buys is a bad trade on
        # this host. On a real cluster this is per-executor memory
        # sizing; re-measure, don't assume bigger is better.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    # shuffle/spill IO goes to tmpfs when available (the local-mode
    # analog of cluster NVMe local dirs): the r16 probe columns
    # showed spill volume varying 2.9 MB -> 895 MB run-to-run on the
    # variable-throughput cloud boot disk; tmpfs removes that device
    # from the variance equation (it did NOT remove the variance —
    # see BASELINE §r16 — but it is strictly faster and makes the
    # remaining walls attributable to compute, not the disk)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark_graft_local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
