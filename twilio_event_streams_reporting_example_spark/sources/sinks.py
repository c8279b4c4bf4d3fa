"""Materialization sinks (S4/S5): the durable storage story.

The reference keeps everything in a volatile in-memory store (LokiJS
without an adapter, app.js:13 — data lost on restart, README.md:13).
The engine materializes three tables as parquet:

  event log  (S4) — append-only source of truth keyed on event id,
               partitioned by event date: a recompute or a point
               investigation prunes to the days it needs (reference
               caches every taskrouter event, events.js:488-500, but
               cannot survive a restart).
  segments   (S5) — the conversations fact, partitioned by segment date
               (the natural report filter).
  agents     — the small current-state dimension, single partition
               (broadcast-side at query time).

This module is the one writer of each table, for the first
materialization and the incremental merge alike (``sources.incremental``
decides which rows and dates to write); the streaming agents upsert
writes through :func:`write_agents` too. The fact has one row format,
:func:`fact_rows`, which the streaming fact sink
(``streaming.taskrouter_stream.write_segments_stream``) applies as well:
every durable fact row carries a ``uuid``, batch or streamed.

At 100 TB the event log is the big table; date partitioning plus
parquet min-max on the sid columns replaces the reference's LokiJS
indices (SURVEY §4). No table is written with dynamic partition
overwrite: it would keep a date whose last row moved elsewhere, and drop
a log date's earlier events. The log is appended to, skipping the ids it
holds; the fact and the dimension are staged in ``<path>__staging`` and
committed by :func:`_swap`, per date for the fact, whole for the agents.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..taskrouter.schema import AGENT_COLUMNS


def _swap(staged: str, live: str, aside: str) -> None:
    """Commit ``staged`` at ``live`` by two renames: the live directory,
    if any, moves to ``aside``, then the staged one, if any, moves in."""
    if os.path.exists(live):
        os.makedirs(os.path.dirname(aside), exist_ok=True)
        os.replace(live, aside)
    if os.path.exists(staged):
        os.replace(staged, live)


def write_event_log(events: DataFrame, path: str) -> None:
    """S4: append the id-distinct ``events`` whose ``event_id`` the log
    does not hold yet (checked against the whole log: a redelivered
    workspace-level event has no task or worker key to scope by)."""
    if os.path.exists(path):
        held = events.sparkSession.read.parquet(path).select("event_id")
        events = events.join(held, "event_id", "left_anti")
    (
        events.withColumn("event_date", F.to_date("ts"))
        .write.mode("append")
        .partitionBy("event_date")
        .parquet(path)
    )


def fact_rows(segments: DataFrame) -> DataFrame:
    """The fact's row format, the same for the batch and the streaming
    writer: the row id (P12, reference events.js:217 ``uuid()``) is
    minted at write time — the queryable views stay deterministic
    (oracle-hashable); only durable rows carry the synthetic key — and
    ``segment_date`` is the partition column."""
    return segments.withColumn("uuid", F.expr("uuid()")).withColumn(
        "segment_date", F.to_date("date")
    )


def write_segments(
    segments: DataFrame,
    path: str,
    keep: DataFrame | None = None,
    dates: Iterable = (),
) -> None:
    """S5: conversations fact in :func:`fact_rows` format, partitioned
    by segment date. ``keep`` holds stored rows, written again with
    their own ids; it may read ``path``, since the staged write finishes
    before the first swap. Every staged date and every date in ``dates``
    is swapped in: a date in ``dates`` with no rows loses its directory,
    other dates are not touched."""
    rows = fact_rows(segments)
    if keep is not None:
        rows = rows.unionByName(keep)
    staged, old = f"{path}__staging", f"{path}__old.{uuid.uuid4().hex}"
    rows.write.mode("overwrite").partitionBy("segment_date").parquet(staged)
    names = {f"segment_date={d}" for d in dates}
    names |= {n for n in os.listdir(staged) if n.startswith("segment_date=")}
    os.makedirs(path, exist_ok=True)
    for name in sorted(names):
        _swap(os.path.join(staged, name), os.path.join(path, name), os.path.join(old, name))
    shutil.rmtree(staged)
    if os.path.exists(old):
        shutil.rmtree(old)


def write_agents(agents: DataFrame, path: str) -> None:
    """Current-state dimension: small, one file, broadcast at read time.

    The rows are written beside the table, then swapped in whole
    (:func:`_swap`), and only then is the old table deleted. ``agents``
    may read ``path`` itself (a merge), since the staged write finishes
    before the swap. A failure at any step leaves a complete dimension on
    disk: the old one, at ``path`` or aside, until the new one is in
    place."""
    staged, old = f"{path}__staging", f"{path}__old.{uuid.uuid4().hex}"
    agents.coalesce(1).write.mode("overwrite").parquet(staged)
    _swap(staged, path, old)
    if os.path.exists(old):
        shutil.rmtree(old)


def merge_agents(existing: DataFrame | None, batch_dim: DataFrame) -> DataFrame:
    """Latest-wins merge of a batch's agent rows into the current dim:
    newest ``last_ts`` supplies the whole attribute row + state/date_left
    (each reference upsert fully overwrites, events.js:240-246), and on a
    ``last_ts`` tie the batch row wins, as the later arrival does in
    ``agents_from_parsed``: batch events arrive after the stored ones.
    date_joined keeps the global minimum. On a table format with MERGE
    INTO (Delta/Iceberg) this plan becomes the MERGE source."""
    merged = batch_dim.withColumn("from_batch", F.lit(True))
    if existing is not None:
        merged = existing.withColumn("from_batch", F.lit(False)).unionByName(merged)
    attr_cols = [c for c, _ in AGENT_COLUMNS if c not in ("agent_uuid", "date_joined")]
    packed = merged.select(
        "agent_uuid",
        "date_joined",
        "last_ts",
        "from_batch",
        F.struct(*attr_cols).alias("row"),
    )
    agg = packed.groupBy("agent_uuid").agg(
        F.max_by("row", F.struct("last_ts", "from_batch")).alias("row"),
        F.min("date_joined").alias("date_joined"),
        F.max("last_ts").alias("last_ts"),
    )
    return agg.select(
        "agent_uuid",
        *[F.col(f"row.{c}").alias(c) for c in attr_cols],
        "date_joined",
        "last_ts",
    ).select(*[c for c, _ in AGENT_COLUMNS], "last_ts")

