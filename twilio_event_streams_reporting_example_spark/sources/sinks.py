"""Materialization sinks (S4/S5): the durable storage story.

The reference keeps everything in a volatile in-memory store (LokiJS
without an adapter, app.js:13 — data lost on restart, README.md:13).
The engine materializes three tables as parquet:

  event log  (S4) — append-only source of truth, partitioned by event
               date: a recompute or a point investigation prunes to the
               days it needs (reference caches every taskrouter event,
               events.js:488-500, but cannot survive a restart).
  segments   (S5) — the conversations fact, partitioned by segment date
               (the natural report filter).
  agents     — the small current-state dimension, single partition
               (broadcast-side at query time).

At 100 TB the event log is the big table; date partitioning plus
parquet min-max on the sid columns replaces the reference's LokiJS
indices (SURVEY §4). The full recompute writes with dynamic partition
overwrite. The incremental merge (``sources.incremental``) does not: it
stages the touched fact partitions outside the table root and swaps each
one in by rename, because dynamic overwrite only replaces dates that
still have output rows — a date whose last affected row moved elsewhere
would keep its stale row. ``sources.incremental.initialize_taskrouter``
is the one materialization pass over all three tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_event_log(parsed: DataFrame, path: str) -> None:
    """S4: append-only raw event log, date-partitioned."""
    (
        parsed.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
    )


def write_segments(segments: DataFrame, path: str) -> None:
    """S5: conversations fact, partitioned by segment date.

    The row id (P12, reference events.js:217 ``uuid()``) is minted at
    write time — the queryable views stay deterministic (oracle-
    hashable); only durable rows carry the synthetic key."""
    (
        segments.withColumn("uuid", F.expr("uuid()"))
        .withColumn("segment_date", F.to_date("date"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("segment_date")
        .parquet(path)
    )


def write_agents(agents: DataFrame, path: str) -> None:
    """Current-state dimension: small, one file, broadcast at read time."""
    agents.coalesce(1).write.mode("overwrite").parquet(path)

