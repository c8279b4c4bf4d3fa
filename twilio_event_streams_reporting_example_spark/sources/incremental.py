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
                       materialized recompute. The touched partitions —
                       every unaffected row (anti-join on
                       segment_external_id) plus the recomputed rows —
                       are written to a staging directory outside the
                       table root, then each touched partition is swapped
                       in by rename (:func:`_swap_partitions`); a touched
                       date left without rows loses its directory.
                       Untouched dates are not read, not written. The old
                       partitions are read only by the staging write, so
                       nothing is checkpointed first.
  5. log append      = append only events whose ids the FULL log does not
                       hold (CloudEvent-id redelivery across batches
                       lands exactly once).
  6. agents          = latest-wins merge of the batch dimension
                       (``agents_from_parsed`` over the one parse) into
                       the durable one (same plan as the streaming
                       foreachBatch upsert).

The merge's own checkpoint blocks (the parsed batch and the recompute)
are dropped by RDD id when it returns — no ``DataFrame.unpersist``, which
makes the CacheManager re-plan every dependent cached plan. The caches
``segments_from_parsed`` tracks go to the caller's release, as for any
query (``registry.scoped_releases``).

A crash before the swap leaves the fact as it was: staged partitions
sit under ``<base_dir>/_merge/``, which readers of the table never list.
A crash inside the swap can leave a touched date missing (its old
directory in the run's ``trash``); recovering from that is the job of a
merge manifest, which this module does not keep yet.

``arrival_idx`` must be a globally monotone ingest sequence across
batches (a Kafka-offset analog): first-arrival dedup and same-timestamp
tie-breaks then replay identically to a one-shot batch recompute, which
is what the parity test asserts.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import checkpoint_rdd_id, unpersist_rdd_ids
from ..taskrouter import schema as S

_WORKER_EVENTS = [
    "worker.created",
    "worker.deleted",
    "worker.activity.update",
    "worker.attributes.update",
]


def _dedup_first_arrival(parsed: DataFrame) -> DataFrame:
    w = W.partitionBy("event_id").orderBy("arrival_idx")
    return (
        parsed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def initialize_taskrouter(spark: SparkSession, raw: DataFrame, base_dir: str) -> dict:
    """First materialization: event log + fact + agents dimension.
    The dimension keeps ``last_ts`` so later batches can merge."""
    from ..plans.taskrouter import (
        ingest_taskrouter,
        taskrouter_agents_df,
        taskrouter_segments_df,
    )
    from .sinks import write_agents, write_event_log, write_segments

    paths = _paths(base_dir)
    write_event_log(ingest_taskrouter(raw), paths["event_log"])
    write_segments(taskrouter_segments_df(spark, raw), paths["segments"])
    write_agents(taskrouter_agents_df(spark, raw, with_ordering=True), paths["agents"])
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
        batch.filter(F.col("eventtype").isin(_WORKER_EVENTS))
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
        F.col("eventtype").isin(_WORKER_EVENTS) & F.col("_by_worker").isNotNull()
    )
    return (
        events.join(F.broadcast(tasks), "task_sid", "left")
        .join(F.broadcast(workers), "worker_sid", "left")
        .filter(hit)
        .select(*events.columns)
    )


def _swap_partitions(staged: str, table: str, names: set[str], trash: str) -> None:
    """Replace the partition directories ``names`` of ``table`` by their
    staged versions, one rename pair each: the live directory moves to
    ``trash``, the staged one (if the write produced it) moves into
    place. A name with no staged directory is a date whose rows all
    left it."""
    os.makedirs(trash)
    for name in sorted(names):
        live = os.path.join(table, name)
        if os.path.exists(live):
            os.replace(live, os.path.join(trash, name))
        new = os.path.join(staged, name)
        if os.path.exists(new):
            os.replace(new, live)


def incremental_taskrouter_update(
    spark: SparkSession, new_raw: DataFrame, base_dir: str
) -> dict:
    """Merge one new batch of raw CloudEvents into the durable tables.
    Returns the paths plus the list of rewritten fact dates."""
    from ..plans.taskrouter import (
        agents_from_parsed,
        ingest_taskrouter,
        segments_from_parsed,
    )
    from ..streaming.taskrouter_stream import _merge_agents

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
        scoped_all = _dedup_first_arrival(
            scoped_log.unionByName(scoped_new.select(*scoped_log.columns))
        )
        recomputed = materialize(segments_from_parsed(spark, scoped_all))

        # 4. partition-level merge into the fact, staged then swapped
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
            cols = [c for c, _ in S.SEGMENT_COLUMNS]
            merged = keep.select(*cols, "uuid", "segment_date").unionByName(
                recomputed.select(*cols)
                .withColumn("uuid", F.expr("uuid()"))
                .withColumn("segment_date", F.to_date("date"))
            )
            run_dir = f"{base_dir}/_merge/{uuid.uuid4().hex}"
            staged = f"{run_dir}/segments"
            merged.write.partitionBy("segment_date").parquet(staged)
            names = {f"segment_date={d}" for d in touched}
            names |= {n for n in os.listdir(staged) if n.startswith("segment_date=")}
            _swap_partitions(staged, paths["segments"], names, f"{run_dir}/trash")
            shutil.rmtree(run_dir)

        # 5. append only genuinely-new events to the log. Dedup against the
        # FULL log's event_ids, not the affected-key-scoped slice: a
        # redelivered workspace/queue-level event (null task_sid, not a
        # worker event) falls outside the scope and would otherwise be
        # appended twice. The anti-join probes a single pruned column
        # (event_id); at scale, restrict the log scan to the batch's
        # event_date range for partition pruning.
        to_append = new_parsed.join(log.select("event_id"), "event_id", "left_anti")
        (
            to_append.withColumn("event_date", F.to_date("ts"))
            .write.mode("append")
            .partitionBy("event_date")
            .parquet(paths["event_log"])
        )

        # 6. latest-wins merge of the agents dimension
        batch_dim = agents_from_parsed(new_parsed, with_ordering=True)
        existing = spark.read.parquet(paths["agents"])
        merged_dim = _merge_agents(existing, batch_dim)
        staging = f"{paths['agents']}__staging"
        merged_dim.coalesce(1).write.mode("overwrite").parquet(staging)
        if os.path.exists(paths["agents"]):
            shutil.rmtree(paths["agents"])
        os.replace(staging, paths["agents"])
    finally:
        unpersist_rdd_ids(spark.sparkContext, blocks)
    return {**paths, "touched_dates": [str(d) for d in touched]}
