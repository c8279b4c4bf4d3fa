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
               (broadcast-side at query time). :func:`write_agents` is
               its one writer: the first materialization, the batch merge
               and the streaming upsert all replace the table through it,
               the last two with the rows of :func:`merge_agents`.

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

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..taskrouter.schema import AGENT_COLUMNS


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
    """Current-state dimension: small, one file, broadcast at read time.

    The rows are written beside the table, then swapped in by rename: the
    live table moves aside, the staged one moves in, and only then is the
    old one deleted. ``agents`` may read ``path`` itself (a merge), since
    the staged write finishes before the swap. A failure at any step
    leaves a complete dimension on disk: the old one, at ``path`` or
    aside, until the new one is in place."""
    staged, old = f"{path}__staging", f"{path}__old.{uuid.uuid4().hex}"
    agents.coalesce(1).write.mode("overwrite").parquet(staged)
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(staged, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def merge_agents(existing: DataFrame | None, batch_dim: DataFrame) -> DataFrame:
    """Latest-wins merge of a batch's agent rows into the current dim:
    newest ``last_ts`` supplies the whole attribute row + state/date_left
    (each reference upsert fully overwrites, events.js:240-246);
    date_joined keeps the global minimum. On a table format with MERGE
    INTO (Delta/Iceberg) this plan becomes the MERGE source."""
    merged = batch_dim if existing is None else existing.unionByName(batch_dim)
    attr_cols = [c for c, _ in AGENT_COLUMNS if c not in ("agent_uuid", "date_joined")]
    packed = merged.select(
        "agent_uuid",
        "date_joined",
        "last_ts",
        F.struct(*attr_cols).alias("row"),
    )
    agg = packed.groupBy("agent_uuid").agg(
        F.max_by("row", "last_ts").alias("row"),
        F.min("date_joined").alias("date_joined"),
        F.max("last_ts").alias("last_ts"),
    )
    return agg.select(
        "agent_uuid",
        *[F.col(f"row.{c}").alias(c) for c in attr_cols],
        "date_joined",
        "last_ts",
    ).select(*[c for c, _ in AGENT_COLUMNS], "last_ts")

