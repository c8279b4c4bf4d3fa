"""SparkSession factory.

Local test default is ``local[$SPARK_GRAFT_CPUS]`` (driver-only JVM); the
same configs are what we would set on a 1000-executor cluster, with the
exception of shuffle partitions which scale with cluster cores / input size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
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
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
