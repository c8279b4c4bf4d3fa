"""Incremental fact maintenance (S6 at scale): merge a new event batch
into the durable tables by recomputing ONLY what the batch touches.

The reference updates segments in place per event (events.js:298-334);
the batch engine recomputes the world. At 100 TB neither extreme works:
a day's events touch a sliver of all conversations, so the right unit
of work is *affected conversations*, and the right storage primitive is
*partition-level replace* (the hand-rolled parquet form of a Delta/
Iceberg MERGE — swap the write below for MERGE INTO on a table format
and nothing else changes).

Per update batch:
  1. affected keys   = task_sids in the batch (conversations) and
                       worker_sids of worker.* events (agent sessions +
                       dimension) — two tiny broadcast sets. The batch is
                       parsed once and materialized (a few hundred rows);
                       the key sets, the log append and the agents merge
                       all read that one parse.
  2. scoped history  = durable event log joined to the affected keys
                       (:func:`scoped_history`: one pass over the log
                       through two broadcast hash joins, no shuffle of
                       the log).
  3. recompute       = the SAME segments_from_parsed plan over
                       (scoped history ∪ new batch, id-deduplicated) —
                       no parallel incremental semantics to drift —
                       materialized once with ``localCheckpoint``.
  4. merge           = the touched dates are the recomputed rows' dates
                       plus the ``segment_date`` of the stale affected
                       fact rows, read in one small job over the
                       materialized recompute. ``sinks.write_segments``
                       writes the recomputed rows and every unaffected
                       row of those dates (anti-join on
                       segment_external_id) to a staging directory
                       beside the table root, then swaps each touched
                       partition in by rename; a touched date left
                       without rows loses its directory. Untouched dates
                       are not read, not written. The old partitions are
                       read only by the staging write, so nothing is
                       checkpointed first.
  5. log append      = ``sinks.write_event_log`` appends only the events
                       whose ids the FULL log does not hold
                       (CloudEvent-id redelivery across batches lands
                       exactly once).
  6. agents          = latest-wins merge of the batch dimension
                       (``agents_from_parsed`` over the one parse) into
                       the durable one: ``sinks.merge_agents``, written
                       by ``sinks.write_agents`` (staged, then swapped in
                       by rename) — the same two functions the streaming
                       foreachBatch upsert calls.

This module decides which rows and dates to write; ``sources.sinks`` is
the one writer of all three tables, for the first materialization and
the merge alike.

The first materialization (:func:`initialize_taskrouter`) parses the raw
input once as well: the fact plan is built first, which registers the
parse's cache, so the log write, the fact write and the agents write all
read that one cached parse, and the raw input is scanned once.

The merge's own checkpoint blocks (the parsed batch and the recompute)
are dropped by RDD id when it returns — no ``DataFrame.unpersist``, which
makes the CacheManager re-plan every dependent cached plan. The caches
``segments_from_parsed`` tracks go to the caller's release, as for any
query (``registry.scoped_releases``).

A crash before the swap leaves the fact as it was: staged partitions
sit in ``segments__staging`` beside the table root, which readers of the
table never list. A crash inside the swap can leave a touched date
missing (its old directory in ``segments__old.<run>``); recovering from
that is the job of a merge manifest, which this module does not keep
yet.

``arrival_idx`` must be a globally monotone ingest sequence across
batches (a Kafka-offset analog): first-arrival dedup and same-timestamp
tie-breaks then replay identically to a one-shot batch recompute, which
is what the parity test asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import checkpoint_rdd_id, unpersist_rdd_ids
from ..taskrouter import schema as S
from .sinks import merge_agents, write_agents, write_event_log, write_segments


def initialize_taskrouter(spark: SparkSession, raw: DataFrame, base_dir: str) -> dict:
    """First materialization: event log + fact + agents dimension, all
    from one parse of ``raw``. The dimension keeps ``last_ts`` so later
    batches can merge."""
    from ..plans.taskrouter import agents_from_parsed, ingest_taskrouter, segments_from_parsed

    paths = _paths(base_dir)
    parsed = ingest_taskrouter(raw)
    # built before the log write: its plan caches the parse, so all three
    # writes read one materialization of it
    segments = segments_from_parsed(spark, parsed)
    write_event_log(parsed, paths["event_log"])
    write_segments(segments, paths["segments"])
    write_agents(agents_from_parsed(parsed, with_ordering=True), paths["agents"])
    return paths


def _paths(base_dir: str) -> dict:
    return {
        "event_log": f"{base_dir}/event_log",
        "segments": f"{base_dir}/segments",
        "agents": f"{base_dir}/agents",
    }


def affected_keys(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The batch's affected keys, each set distinct: the task_sids of its
    events (conversations) and the worker_sids of its worker.* events
    (agent sessions and the dimension)."""
    aff_tasks = batch.select("task_sid").filter(F.col("task_sid").isNotNull()).distinct()
    aff_workers = (
        batch.filter(F.col("eventtype").isin(*S.WORKER_EVENT_TYPES))
        .select("worker_sid")
        .filter(F.col("worker_sid").isNotNull())
        .distinct()
    )
    return aff_tasks, aff_workers


def scoped_history(
    events: DataFrame, aff_tasks: DataFrame, aff_workers: DataFrame
) -> DataFrame:
    """The events of the affected conversations and workers: every event
    whose ``task_sid`` is in ``aff_tasks``, plus every worker.* event
    whose ``worker_sid`` is in ``aff_workers`` (both key sets distinct).

    One pass over ``events`` through two broadcast outer joins against
    the tiny key sets, then a filter: no exchange sits over the log scan,
    and an event matched by both keys is kept once, so no dedup shuffle
    is needed either."""
    tasks = aff_tasks.select("task_sid", F.lit(True).alias("_by_task"))
    workers = aff_workers.select("worker_sid", F.lit(True).alias("_by_worker"))
    hit = F.col("_by_task").isNotNull() | (
        F.col("eventtype").isin(*S.WORKER_EVENT_TYPES) & F.col("_by_worker").isNotNull()
    )
    return (
        events.join(F.broadcast(tasks), "task_sid", "left")
        .join(F.broadcast(workers), "worker_sid", "left")
        .filter(hit)
        .select(*events.columns)
    )


def incremental_taskrouter_update(
    spark: SparkSession, new_raw: DataFrame, base_dir: str
) -> dict:
    """Merge one new batch of raw CloudEvents into the durable tables.
    Returns the paths plus the list of rewritten fact dates."""
    from ..plans.taskrouter import (
        agents_from_parsed,
        dedup_first_arrival,
        ingest_taskrouter,
        segments_from_parsed,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    paths = _paths(base_dir)
    blocks: set[int] = set()

    def materialize(df: DataFrame) -> DataFrame:
        df = df.localCheckpoint(eager=True)
        blocks.add(checkpoint_rdd_id(df))
        return df

    try:
        new_parsed = materialize(ingest_taskrouter(new_raw))

        # 1. affected keys (tiny → broadcast)
        aff_tasks, aff_workers = affected_keys(new_parsed)

        # 2-3. scoped history ∪ scoped batch, recomputed with the one true
        # batch plan and materialized once
        log = spark.read.parquet(paths["event_log"]).drop("event_date")
        scoped_log = scoped_history(log, aff_tasks, aff_workers)
        scoped_new = scoped_history(new_parsed, aff_tasks, aff_workers)
        scoped_all = dedup_first_arrival(
            scoped_log.unionByName(scoped_new.select(*scoped_log.columns))
        )
        recomputed = materialize(segments_from_parsed(spark, scoped_all))

        # 4. partition-level merge into the fact: the touched dates' rows
        aff_ext = aff_tasks.select(F.col("task_sid").alias("segment_external_id")).unionByName(
            aff_workers.select(F.col("worker_sid").alias("segment_external_id"))
        )
        fact = spark.read.parquet(paths["segments"])
        stale = fact.join(F.broadcast(aff_ext), "segment_external_id", "left_semi")
        touched = sorted(
            r["d"]
            for r in recomputed.select(F.to_date("date").alias("d"))
            .unionByName(stale.select(F.col("segment_date").alias("d")))
            .distinct()
            .collect()
            if r["d"] is not None
        )
        if touched:
            keep = fact.filter(F.col("segment_date").isin(touched)).join(
                F.broadcast(aff_ext), "segment_external_id", "left_anti"
            )
            write_segments(recomputed, paths["segments"], keep, touched)

        # 5. append only genuinely-new events to the log
        write_event_log(new_parsed, paths["event_log"])

        # 6. latest-wins merge of the agents dimension
        batch_dim = agents_from_parsed(new_parsed, with_ordering=True)
        write_agents(
            merge_agents(spark.read.parquet(paths["agents"]), batch_dim), paths["agents"]
        )
    finally:
        unpersist_rdd_ids(spark.sparkContext, blocks)
    return {**paths, "touched_dates": [str(d) for d in touched]}
