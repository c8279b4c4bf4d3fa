"""SparkSession factory.

Local test default is ``local[$SPARK_GRAFT_CPUS]`` (driver-only JVM); the
same configs are what we would set on a 1000-executor cluster, with the
exception of shuffle partitions which scale with cluster cores / input size.

Python workers run ``worker_daemon`` instead of the stock ``pyspark.daemon``.
Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar ahead of
``PYTHONPATH`` on every worker's ``sys.path``, and each task's runner calls
``importlib.invalidate_caches()``, which on CPython 3.11 re-reads every
archive's central directory: 0.17-0.5 s per runner, about two runners per
stateful micro-batch. The daemon drops the archives before pyspark is
imported, so its workers load the installed pyspark the driver uses and the
call costs well under a millisecond. Two fallbacks keep the stock
behaviour:

- The daemon keeps Spark's path when ``pyspark`` or ``py4j`` does not
  resolve without the archives, or when the pyspark that does resolve has
  a different ``__version__`` from the archive's copy.
- ``get_spark`` selects the daemon only when the workers can import this
  package, that is when the package root is the JVM's working directory or
  on its ``PYTHONPATH``. Otherwise the stock daemon stays, so pandas UDFs
  still start and ``registry._ensure_worker_imports`` can ship the package
  with ``addPyFile``.

Streaming checkpoints are written through
``FileSystemBasedCheckpointFileManager`` instead of Spark's default
``FileContextBasedCheckpointFileManager``. Every checkpoint write (the
``offsets/`` and ``commits/`` logs, the file source and sink
``_spark_metadata`` logs, the RocksDB zip and sst uploads) is a
``createAtomic``: write a temp file, then rename it. The FileContext rename
of a ``file:`` path goes through ``AbstractFileSystem.renameInternal``,
which calls ``getFileLinkStatus`` on source and destination, for the data
file and again for its ``.crc``; each call ends in
``RawLocalFileSystem.getFileLinkStatusInternal`` -> ``FileUtil.readLink``
-> ``Shell.execCommand(readlink ...)``, so without the native Hadoop
library every rename forks several processes (6-8 ms each). The
FileSystem manager renames with ``FileSystem.rename``, which is
``File.renameTo`` on the local file system and forks nothing. The commit
semantics on ``file:`` are the same: both managers write a temp file and
rename it, both implement "fail if the destination exists" as a check
followed by a rename (FileContext in ``renameInternal``, the FileSystem
manager in ``renameTempFile``), and ``ChecksumFileSystem`` still writes and
verifies the ``.crc`` files. The choice is for this local-mode session,
whose checkpoints are local files; on HDFS the FileContext manager's
rename is atomic and no-overwrite, and a deployment that checkpoints to
HDFS should keep Spark's default (README, "Deployment-scoped edges").
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

WORKER_DAEMON = f"{__package__}.worker_daemon"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def workers_import_package(cwd: str, pythonpath: str) -> bool:
    """Whether Python workers started in ``cwd`` with ``PYTHONPATH`` set to
    ``pythonpath`` can import this package."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    entries = [cwd, *pythonpath.split(os.pathsep)]
    return any(e and os.path.realpath(e) == root for e in entries)


def _worker_cwd_and_pythonpath() -> tuple[str, str]:
    """The running JVM's working directory and ``PYTHONPATH``, or this
    process's, which the JVM that ``get_spark`` launches inherits."""
    jvm = SparkContext._jvm
    if jvm is None:
        return os.getcwd(), os.environ.get("PYTHONPATH", "")
    system = jvm.java.lang.System
    return system.getProperty("user.dir"), system.getenv("PYTHONPATH") or ""


def scale_input_partitions(spark: "SparkSession") -> int:
    """Root-scan partition count for synthetic in-gate scale sections,
    sized so map-side shuffle memory fits a default-1g vanilla session:
    each map task writing an S-partition (bypass-sort) shuffle holds ~S
    open compressed stream buffers (~128 KiB each), so
    concurrent_tasks x S x 128KiB must stay well under the heap. With
    the package session's cores-wide shuffle config this returns full
    parallelism; with a vanilla 200-partition session it throttles the
    section's map concurrency instead of OOMing. Downstream exchanges
    are AQE-coalesced, so only root scans need explicit sizing."""
    try:
        shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        shuf = 200
    budget_tasks = max(2, (256 << 20) // (shuf * (128 << 10)))
    return max(2, min(spark.sparkContext.defaultParallelism, budget_tasks))


# the default driver heap stays at or below 16g however large the host
MAX_DEFAULT_DRIVER_MEM_MB = 16 << 10


def default_driver_memory(phys_bytes: int) -> str:
    """Driver heap for a host with ``phys_bytes`` of physical memory when
    ``SPARK_GRAFT_DRIVER_MEM`` is unset: three quarters of it, never above
    16g. The driver is the whole local-mode cluster, but a heap ceiling
    past physical memory lets the JVM grow into swap or the OOM killer
    before it collects."""
    return f"{min(MAX_DEFAULT_DRIVER_MEM_MB, phys_bytes * 3 // 4 >> 20)}m"


def get_spark(
    app_name: str = "twilio_event_streams_reporting_example_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Scale notes (100 TB target):
      - AQE on: runtime coalescing of small shuffle partitions, skew-join
        splitting, and dynamic broadcast conversion are the single biggest
        free win on a big cluster.
      - UTC session timezone: required for oracle comparability and for any
        cross-region cluster (never depend on executor-local TZ).
      - Arrow on: all Pandas-UDF paths batch-transfer via Arrow.
      - shuffle partitions: locally = #cores; on a real cluster this should
        be sized so each task reads 100-200 MB of shuffle data (AQE coalesce
        makes the exact number less critical as long as it's not too low).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    )

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-separated fragments to the merged
        # output stream; a fragment glued onto the front of a machine-read
        # stdout line (the bench JSON contract) makes it unparseable.
        .config("spark.ui.showConsoleProgress", "false")
        # The driver's events table carries TIMESTAMP(NANOS) parquet, which
        # Spark has no native type for: read as long and convert in the
        # loader (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Map merge semantics used by the custom-data merge operator (P9):
        # the reference's `{...task_custom, ...worker_attrs}` spread is
        # last-wins (routes/events.js:353-356 in the reference).
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Checkpoint renames without a readlink fork per call (module
        # docstring).
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    if workers_import_package(*_worker_cwd_and_pythonpath()):
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
