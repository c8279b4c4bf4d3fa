"""Structured Streaming TaskRouter pipeline (SURVEY.md Phase 2).

Design (idiomatic Spark streaming, fixing the reference's disclaimed
hazards — README.md:13 out-of-order, events.js:488 duplicate delivery):

  readStream (CloudEvent JSON lines)
    → envelope from_json + type filter              (S1, S3, F1)
    → withWatermark(ts)
    → applyInPandasWithState keyed by shard         (§2.5 state machine)
        drops redelivered CloudEvent ids in the task's own state;
        emits QUEUE / CONVERSATION / terminal segments as reservations
        resolve; event-time timeout emits CORRUPTED CONVERSATION —
        giving meaning to the reference's declared-but-never-produced
        kind (events.js:30)
    → append sink

One stateful operator, one shuffle per micro-batch: the lifecycle
state doubles as the duplicate-delivery filter (``_unapplied_events``),
so no separate ``dropDuplicatesWithinWatermark`` stage commits its own
state stores. Consumers without per-task state (the agent-status
lifecycle, the hourly counts) deduplicate for themselves.

The state machine runs per **task_sid** (not reservation_sid): every
event of one conversation — queue entries, task aborts, and all
reservation.* events — carries it, so one task state sees the whole
lifecycle and the transfer re-queue case stays within one partition.
Task state is O(events per task), kept until the task's deadline.

The stateful operator emits NARROW rows: a branch tag, the segment
kind, the computed override measures, and the raw CloudEvent that
"carries" the segment (the accepted event for QUEUE/CONVERSATION, the
failed reservation event for terminal ring rows, the task event for
abandon rows). The full ~65-column wide projection is then a STATELESS
step (``plans.taskrouter.wide_project_stream``) that re-parses the
carrier with the same ``payload_event_cols`` and expands it with the
same ``_wide_project`` the batch engine uses — streaming and batch
share the projection code, so wide parity is structural, not tested-in.
The core 11-column view is a projection of the wide stream.

This is the documented Pandas-UDF path (custom operator tier (b)):
the per-key sequential state machine is genuinely order-dependent
imperative logic that built-in operators can't express.

One state function, two groupings: ``_lifecycle_fn`` keeps one state
document per group — ``{"t": {task_sid: task state}}`` — and
``segment_emissions_stream`` groups on a ``shard`` column that is the
task itself (``buckets=None``: Spark's own per-key timeouts, the
reference every parity test compares against) or a hash bucket of tasks
(``buckets=N``: the throughput path a deployment runs).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..taskrouter import schema as S

WATERMARK_DELAY = "10 minutes"
# open conversation with no terminal event for this long → CORRUPTED
CONVERSATION_TIMEOUT = dt.timedelta(minutes=10)

# what the stateful operator emits: branch tag + kind + carrier event +
# override measures; the wide projection is stateless and shared with
# the batch engine (plans.taskrouter._wide_project)
EMIT_SCHEMA = T.StructType(
    [
        T.StructField("branch", T.StringType()),
        T.StructField("segment_kind", T.StringType()),
        T.StructField("carrier_raw", T.StringType()),
        T.StructField("ov_queue_time", T.LongType()),
        T.StructField("ov_ring_time", T.LongType()),
        T.StructField("ov_talk_time", T.LongType()),
        T.StructField("ov_wrapup_time", T.LongType()),
        T.StructField("ov_abandon_time", T.LongType()),
        T.StructField("ov_activity_time", T.LongType()),
        T.StructField("ov_date", T.TimestampType()),
        T.StructField("ov_segment_link", T.StringType()),
        T.StructField("ov_segment_link_set", T.BooleanType()),
    ]
)

# the measure/id view of the wide stream (the original streaming surface)
CORE_COLUMNS = [
    "segment_kind",
    "conversation_id",
    "reservation_sid",
    "agent_uuid",
    "date",
    "queue_time",
    "ring_time",
    "talk_time",
    "wrapup_time",
    "abandoned",
    "abandon_time",
]

# State: one JSON document per group. The conversation lifecycle keeps
# ``{"t": {task_sid: task state}}``, a task state holding the entry
# anchor, the per-reservation correlation anchors and the CloudEvent ids
# already applied. JSON keeps the schema evolvable; the payload is small
# (a handful of timestamps per open reservation, one id per event).
STATE_SCHEMA = T.StructType([T.StructField("state_json", T.StringType())])


def _emit_row(
    branch: str,
    kind: str,
    carrier_raw: str,
    date: dt.datetime | None = None,
    link: str | None = None,
    link_set: bool = False,
    **measures: int | None,
) -> dict:
    """One ``EMIT_SCHEMA`` row. The carrier event supplies every base
    column downstream; only the branch-computed overrides travel as
    explicit values (``measures`` named without their ``ov_`` prefix)."""
    return {
        "branch": branch,
        "segment_kind": kind,
        "carrier_raw": carrier_raw,
        "ov_queue_time": measures.get("queue_time"),
        "ov_ring_time": measures.get("ring_time"),
        "ov_talk_time": measures.get("talk_time"),
        "ov_wrapup_time": measures.get("wrapup_time"),
        "ov_abandon_time": measures.get("abandon_time"),
        "ov_activity_time": measures.get("activity_time"),
        "ov_date": date,
        "ov_segment_link": link,
        "ov_segment_link_set": link_set,
    }


def _emit_frame(rows: list[dict]) -> pd.DataFrame:
    """A state function's output batch: ``_emit_row`` rows as a frame."""
    return pd.DataFrame(rows, columns=EMIT_SCHEMA.fieldNames())


def _epoch_ms(t: dt.datetime) -> int:
    """Epoch ms of a UTC-naive event time. The tz is pinned first: naive
    .timestamp() reads the HOST timezone and would shift every timeout
    by the UTC offset on non-UTC hosts."""
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def _arm_timeout(state: GroupState, deadline_ms: int) -> None:
    """Arm the group's event-time timeout at ``deadline_ms``, clamped to
    watermark+1. A late event (admitted by the watermark policy but with
    ts far behind the current watermark) can leave the deadline at or
    behind the watermark, and Spark rejects a timeout behind it; the
    group then times out next micro-batch — the semantics of Spark's own
    per-key timeouts (a timeout set in batch N fires in batch N+1 at the
    earliest). Found by the cross-batch disorder fuzz."""
    state.setTimeoutTimestamp(max(deadline_ms, state.getCurrentWatermarkMs() + 1))


def _dt(iso_us: str) -> dt.datetime:
    return dt.datetime.fromisoformat(iso_us)


def _trunc_s(iso_us: str) -> dt.datetime:
    return dt.datetime.fromisoformat(iso_us).replace(microsecond=0)


def _secs(end_iso: str, start_iso: str) -> int:
    return int((_trunc_s(end_iso) - _trunc_s(start_iso)).total_seconds())


def _segment_rows_for_task(
    events: list[dict], st: dict, timed_out: bool
) -> tuple[list[dict], dict]:
    """Advance one task's state machine over new (ts-ordered) events.

    Returns (emitted rows, new state). Pure function — unit-testable
    without a streaming query."""
    out: list[dict] = []
    res: dict[str, Any] = st.setdefault("res", {})  # reservation_sid → anchors

    def emit(branch, kind, ev, date_iso=None, **overrides):
        out.append(
            _emit_row(
                branch, kind, ev.get("raw") or "",
                _trunc_s(date_iso) if date_iso else None, **overrides,
            )
        )

    for ev in events:
        et = ev["eventtype"]
        ts = ev["ts"]
        # the latest time of ANY applied event, skipped branches and late
        # arrivals included: the deadline must cover every id the state
        # holds (see _unapplied_events)
        if "last_ts" not in st or _dt(st["last_ts"]) < _dt(ts):
            st["last_ts"] = ts
        rsid = ev.get("reservation_sid")
        if et in (S.ET_TASK_QUEUE_ENTERED, S.ET_TASK_TRANSFER_INITIATED):
            st["entry_ts"] = ts
        elif et == S.ET_RESERVATION_CREATED:
            res.setdefault(rsid, {})["created_ts"] = ts
        elif et == S.ET_RESERVATION_ACCEPTED:
            r = res.setdefault(rsid, {})
            if "accepted_ts" in r:
                continue  # first accepted wins (reference F3)
            r["accepted_ts"] = ts
            r["accepted_ev"] = ev
            # NON-consuming entry lookup with a strict-< ts comparison —
            # the batch as-of is a running last() that is never cleared,
            # so a second reservation accepting off the same queue entry
            # (dual_accept fuzz case) pairs with it too; a same-ts entry
            # is invisible (the reference compares raw ms with <,
            # events.js:80).
            entry = st.get("entry_ts")
            if entry is not None and not (_dt(entry) < _dt(ts)):
                entry = None
            r["queue_time"] = _secs(ts, entry) if entry else None
            r["ring_time"] = _secs(ts, r["created_ts"]) if "created_ts" in r else None
            if entry:
                emit(
                    "queue_acc", S.QUEUE_SEGMENT, ev,
                    date_iso=entry, queue_time=r["queue_time"],
                )
        elif et == S.ET_RESERVATION_WRAPUP:
            res.setdefault(rsid, {})["wrapup_ts"] = ts
        elif et == S.ET_RESERVATION_COMPLETED:
            r = res.pop(rsid, None)
            if r and "created_ts" in r:
                # the created anchor stays visible to later same-rsid
                # lookups (the batch as-of is non-consuming); the state
                # is still bounded — the event-time timeout reaps it
                res[rsid] = {"created_ts": r["created_ts"]}
            if not r or "accepted_ts" not in r:
                continue  # no IN PROGRESS to finalize (events.js:308-310)
            wrap_ts = r.get("wrapup_ts")
            emit(
                "convo",
                S.CONVO_SEG,
                r["accepted_ev"],
                queue_time=r["queue_time"],
                ring_time=r["ring_time"],
                talk_time=_secs(wrap_ts or ts, r["accepted_ts"]),
                wrapup_time=_secs(ts, wrap_ts) if wrap_ts else 0,
                # the completed event's spread overwrites segment_link
                # even when its custom value is null (events.js:578-583)
                link=ev.get("custom_segment_link"),
                link_set=True,
            )
        elif et in S.FAILED_RESERVATION_EVENTS:
            kind = {
                S.ET_RESERVATION_REJECTED: S.CONVO_REJECTED,
                S.ET_RESERVATION_TIMEOUT: S.CONVO_MISSED,
                S.ET_RESERVATION_CANCELED: S.CONVO_MISSED,
                S.ET_RESERVATION_RESCINDED: S.CONVO_REVOKED,
            }[et]
            # non-consuming created lookup, mirroring the batch as-of; a
            # failed reservation is terminal for CORRUPTED purposes, so
            # only the created anchor survives in state
            r = res.pop(rsid, None) or {}
            ring = _secs(ts, r["created_ts"]) if "created_ts" in r else None
            if "created_ts" in r:
                res[rsid] = {"created_ts": r["created_ts"]}
            emit("failed", kind, ev, ring_time=ring)
        elif et in (S.ET_TASK_CANCELED, S.ET_TASK_TRANSFER_FAILED):
            # same non-consuming strict-< entry lookup as accepted
            entry = st.get("entry_ts")
            if entry is not None and not (_dt(entry) < _dt(ts)):
                entry = None
            q = _secs(ts, entry) if entry else None
            if entry:
                emit(
                    "queue_ab", S.QUEUE_SEGMENT, ev,
                    date_iso=entry, queue_time=q, abandon_time=q,
                )
            emit("convo_ab", S.CONVO_SEG, ev, queue_time=q, abandon_time=q)

    if timed_out:
        # watermark passed the conversation timeout: every still-open
        # accepted reservation is abandoned state → CORRUPTED CONVERSATION
        for rsid, r in list(res.items()):
            if "accepted_ts" in r:
                # branch 'convo' with link_set=False: talk/wrapup and
                # segment_link keep the carrier's custom values, exactly
                # like a CONVERSATION IN PROGRESS row (which this is —
                # relabeled by the timeout)
                emit(
                    "convo",
                    S.CONVO_CORRUPTED,
                    r["accepted_ev"],
                    queue_time=r.get("queue_time"),
                    ring_time=r.get("ring_time"),
                )
                res.pop(rsid)

    return out, st


def _events_from_pdfs(pdf_iter: Iterator[pd.DataFrame]) -> list[dict]:
    """Arrow batches → ts-ordered event dicts for the state machine.

    Event-time order with a deterministic tiebreak: arrival index when
    the source carries one (test harnesses, replayed logs), else the
    CloudEvent id — intrinsic to the data, so a replayed micro-batch
    after failure re-sorts identically (ts-only sorting made same-ts
    entered/created vs exit pairs order-dependent)."""
    events: list[dict] = []
    for pdf in pdf_iter:
        # column-wise numpy extraction: ~14x cheaper per group than
        # to_dict("records") (measured 41us vs 568us on a 5-row batch),
        # and this runs once per task group — the per-group overhead IS
        # the streaming lifecycle's throughput ceiling.
        has_arrival = "arrival_idx" in pdf.columns
        cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        n = len(pdf)
        et_c = cols["eventtype"]
        # Series iteration (not to_numpy): yields pd.Timestamp with a
        # microsecond isoformat; numpy datetime64[ns] would stringify
        # with 9 fractional digits, which fromisoformat rejects.
        ts_c = list(pdf["ts"])
        task_c = cols["task_sid"]
        res_c = cols["reservation_sid"]
        wrk_c = cols["worker_sid"]
        link_c = cols.get("custom_segment_link")
        wtip_c = cols.get("wtip")
        val_c = cols.get("value")
        arr_c = cols.get("arrival_idx") if has_arrival else None
        eid_c = cols.get("event_id")
        for i in range(n):
            ts = ts_c[i]
            events.append(
                {
                    "eventtype": et_c[i],
                    "ts": ts.isoformat() if hasattr(ts, "isoformat") else str(ts),
                    "task_sid": task_c[i],
                    "reservation_sid": res_c[i],
                    "worker_sid": wrk_c[i],
                    "custom_segment_link": (
                        link_c[i] if link_c is not None else None
                    ),
                    # nullable long arrives as float64 NaN through Arrow
                    "wtip": (
                        None
                        if wtip_c is None or pd.isna(wtip_c[i])
                        else int(wtip_c[i])
                    ),
                    "raw": (val_c[i] if val_c is not None else "") or "",
                    "arrival_idx": arr_c[i] if arr_c is not None else None,
                    "event_id": (eid_c[i] if eid_c is not None else "") or "",
                }
            )
    events.sort(
        key=lambda e: (
            _dt(e["ts"]),
            e["arrival_idx"] if e["arrival_idx"] is not None else -1,
            e["event_id"],
        )
    )
    return events


def _unapplied_events(events: list[dict], st: dict) -> list[dict]:
    """Drop redelivered CloudEvents: skip every event whose id the task's
    state ``st`` has already applied, and record the ids of the rest in
    it. ``events`` is ts-ordered (``_events_from_pdfs``), so of two
    copies in one micro-batch the first arrival is kept whenever the
    source carries ``arrival_idx`` — the batch engine's "first arrival
    wins".

    Why forgetting the ids at the task's deadline is safe: the lifecycle
    keeps a task's state until the watermark passes ``last_ts`` +
    ``CONVERSATION_TIMEOUT``, and ``last_ts`` is the latest event time
    the task applied, so the timeout fires only once the watermark is
    past every id the state holds. The watermark never moves back, so
    any later copy of those events is older than it, and
    ``applyInPandasWithState`` under ``EventTimeTimeout`` drops such rows
    before the state function sees them
    (``FlatMapGroupsWithStateExecBase.processDataWithPartition`` calls
    ``applyRemovingRowsOlderThanWatermark``, and the pandas exec inherits
    it). A copy inside the deadline still finds the state, so no
    separate ``dropDuplicatesWithinWatermark`` stage is needed."""
    ids: list[str] = st.setdefault("ids", [])
    seen = set(ids)
    fresh = []
    for ev in events:
        eid = ev["event_id"]
        if eid in seen:
            continue
        seen.add(eid)
        ids.append(eid)
        fresh.append(ev)
    return fresh


def _deadline_ms(st: dict) -> int:
    """Event-time timeout deadline for a task state, epoch ms."""
    return _epoch_ms(_dt(st["last_ts"]) + CONVERSATION_TIMEOUT)


# Default idle horizon for agent-status state. 7 days is >> any
# believable agent session (the reference's intervals are minutes to
# hours; even a multi-shift "Offline" weekend is < 3 days), so the
# emission stream is divergence-free from batch for real workloads,
# while dead-worker state — the only unbounded term over 100-TB-years
# of worker churn — is reaped. ``None`` restores exact batch semantics
# (state never expires) for replays of arbitrarily old history.
AGENT_IDLE_TTL: dt.timedelta | None = dt.timedelta(days=7)


def _agent_status_fn_factory(idle_ttl: dt.timedelta | None):
    """Streaming agent-status lifecycle, keyed by worker_sid — the §2.5
    transition the conversation lifecycle cannot carry (it filters
    task_sid.isNotNull(), and worker.* events have no task).

    Mirrors the batch sessionization (plans/taskrouter.py agent branch;
    reference events.js:639-664): every opener (worker.created or
    worker.activity.update) CLOSES the previously-open interval —
    emitting a terminal AGENT STATUS row whose carrier is the OPENER
    event and whose activity_time is the CLOSING event's
    worker_time_in_previous_activity — then becomes the new open
    interval. The open tail is state, not an emission (append mode; the
    batch recompute surfaces it as AGENT STATUS IN PROGRESS).

    State bound: one tiny document per worker with an open interval —
    dimension-sized, not event-sized. Default (``idle_ttl=None``) it
    never expires, matching batch semantics exactly for arbitrarily
    long intervals; over 100-TB-years of worker churn that is a
    permanently-growing dead-worker set, so ``idle_ttl`` arms an
    event-time timeout that silently CLEARS (never emits — emissions
    must stay batch-identical) state idle past the horizon. Documented
    trade: an activity change arriving after an interval longer than
    ``idle_ttl`` opens fresh instead of closing the pre-horizon
    interval, so set it >> the longest believable agent session (days),
    not near the watermark delay (minutes)."""

    def fn(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # idle past the horizon: clear, emit nothing
            return
        st = json.loads(state.get[0]) if state.exists else {}
        rows, st = _agent_rows_for_worker(_events_from_pdfs(pdf_iter), st)
        if st:
            state.update((json.dumps(st),))
            if idle_ttl is not None:
                _arm_timeout(state, _epoch_ms(_dt(st["ts"]) + idle_ttl))
        if rows:
            yield _emit_frame(rows)

    return fn


def _agent_rows_for_worker(events: list[dict], st: dict) -> tuple[list[dict], dict]:
    """Advance one worker's agent-status machine over new (ts-ordered)
    events. Returns (emitted rows, new state — empty dict if no open
    interval). Pure function — replay-split-testable without a
    streaming query, exactly like ``_segment_rows_for_task``."""
    open_raw = st.get("raw")
    open_ts = st.get("ts")
    rows: list[dict] = []
    for ev in events:
        if open_raw is not None:
            rows.append(
                _emit_row("agent", S.AGENT_STATUS, open_raw, activity_time=ev["wtip"])
            )
        open_raw, open_ts = ev["raw"], ev["ts"]
    return rows, ({"raw": open_raw, "ts": open_ts} if open_raw is not None else {})


def agent_status_emissions_stream(
    events: DataFrame, idle_ttl: dt.timedelta | None = AGENT_IDLE_TTL
) -> DataFrame:
    """Stateful agent-status lifecycle over a parsed event stream —
    (branch='agent', AGENT STATUS, opener carrier, closing
    activity_time) emissions; share the wide projection downstream.
    ``idle_ttl`` bounds state under worker churn (see
    :func:`_agent_status_fn_factory`)."""
    # the worker state can live for the idle TTL (days), so redelivered
    # ids are dropped by a watermark dedup of the openers, not kept in it
    openers = events.filter(
        F.col("worker_sid").isNotNull()
        & F.col("eventtype").isin(S.ET_WORKER_CREATED, S.ET_WORKER_ACTIVITY_UPDATE)
    ).dropDuplicatesWithinWatermark(["event_id"])
    return openers.groupBy("worker_sid").applyInPandasWithState(
        _agent_status_fn_factory(idle_ttl),
        EMIT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout
        if idle_ttl is None
        else GroupStateTimeout.EventTimeTimeout,
    )


LIFECYCLE_BUCKETS = 1024  # default shard count for the bucketed grouping
# Target open tasks per shard document: the shard JSON value is
# rewritten per touched micro-batch, so its size — open tasks/shard —
# is the knob that trades per-group protocol overhead (fewer, fatter
# shards) against per-batch serialization cost (smaller shards).
LIFECYCLE_TARGET_TASKS_PER_SHARD = 64


def lifecycle_buckets(expected_open_tasks: int, cores: int | None = None) -> int:
    """Derive the shard count for the bucketed lifecycle — the API form
    of the scale rule (like ``semdedup_n_cells``), so sizing a real
    deployment is a function call, not prose.

    Two constraints, take the max:
      - state size: ~``LIFECYCLE_TARGET_TASKS_PER_SHARD`` open tasks per
        shard document keeps the per-batch rewrite cost O(target) as
        open-task count grows (open tasks are watermark-bounded, so
        ``expected_open_tasks`` is conversation-timeout-bounded
        concurrency, not total volume);
      - parallelism: at least 4 shards per executor core so the
        stateful stage saturates the cluster even when only a fraction
        of shards receive events in a micro-batch.
    Rounded up to a power of two so rescaling doubles/halves shard
    membership predictably (state is NOT portable across bucket counts
    — changing N needs a state rebuild, same as repartitioning any
    keyed state store)."""
    need_state = -(-max(1, expected_open_tasks) // LIFECYCLE_TARGET_TASKS_PER_SHARD)
    need_par = 4 * (cores or 1)
    n = max(need_state, need_par, 1)
    return 1 << (n - 1).bit_length()


def _lifecycle_fn(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """The conversation lifecycle's one state function. Its group — a
    shard, one task or a hash bucket of tasks (``segment_emissions_
    stream``) — keeps one document, ``{"t": {task_sid: task state}}``,
    and each task runs through ``_segment_rows_for_task``; the shard
    only routes. Why bucket: applyInPandasWithState pays a fixed
    per-group pandas/protocol cost (~0.5-1 ms); at one group per task
    that cost IS the throughput ceiling (~15k events/s measured). With
    tasks sharded over LIFECYCLE_BUCKETS groups the overhead amortizes
    across every task in the shard (~5x measured) while state size per
    group stays bounded by the tasks per shard still inside their
    deadline.

    Timeouts are exact under either grouping: the shard's timeout is
    the MIN deadline over its tasks, and a task is reaped when its own
    deadline is at or behind the CURRENT WATERMARK
    (state.getCurrentWatermarkMs) and it has no data in this call. With
    one task per shard that is Spark's own per-key timeout; with many,
    each task expires in the micro-batch it would expire in alone."""
    st = json.loads(state.get[0]) if state.exists else {"t": {}}
    tasks: dict = st["t"]
    by_task: dict[str, list] = {}
    if not state.hasTimedOut:
        for ev in _events_from_pdfs(pdf_iter):  # stable partition of the sorted list
            by_task.setdefault(ev["task_sid"], []).append(ev)
    rows: list[dict] = []
    # Reap before applying data: a shard receiving data for OTHER tasks
    # arrives with hasTimedOut=False, yet a task alone in its group would
    # time out in this micro-batch, so its expiry is checked here too.
    # Without this, a later event for the expired task would continue
    # stale state instead of timing out and starting fresh.
    wm = state.getCurrentWatermarkMs()
    for sid in list(tasks):
        if sid not in by_task and _deadline_ms(tasks[sid]) <= wm:
            out, _ = _segment_rows_for_task([], tasks.pop(sid), timed_out=True)
            rows.extend(out)
    for sid, evs in by_task.items():
        # every task stays until its own deadline, open or not: its
        # document holds the applied ids (see _unapplied_events)
        tst = tasks.setdefault(sid, {})
        out, _ = _segment_rows_for_task(
            _unapplied_events(evs, tst), tst, timed_out=False
        )
        rows.extend(out)
    if tasks:
        state.update((json.dumps(st),))
        _arm_timeout(state, min(_deadline_ms(t) for t in tasks.values()))
    elif state.exists:
        state.remove()
    if rows:
        yield _emit_frame(rows)


def parse_stream(raw: DataFrame) -> DataFrame:
    """CloudEvent JSON lines → watermarked event stream.

    ``raw``: a streaming DataFrame with a string ``value`` column (file/
    Kafka source shape), admitted as the batch ingest admits. Redelivered
    CloudEvents pass through: each consumer drops them itself — the
    conversation lifecycle in its task state (``_unapplied_events``),
    ``agent_status_emissions_stream`` and ``hourly_event_counts_stream``.
    Every output column crosses to the Python lifecycles through Arrow."""
    from ..plans.taskrouter import admit_events

    ev = admit_events(raw, "value", "value").select(
        # the raw line rides along: the state machine stores it as the
        # carrier for the wide projection downstream
        "value",
        "event_id",
        F.col("p.eventtype").alias("eventtype"),
        F.col("p.timestamp").cast("timestamp").alias("ts"),
        F.col("p.task_sid").alias("task_sid"),
        F.col("p.reservation_sid").alias("reservation_sid"),
        F.col("p.worker_sid").alias("worker_sid"),
        # closing value for the agent-status lifecycle (events.js:647)
        F.col("p.worker_time_in_previous_activity").alias("wtip"),
        F.get_json_object("p.task_attributes", "$.conversations.segment_link").alias(
            "custom_segment_link"
        ),
    )
    return ev.withWatermark("ts", WATERMARK_DELAY)


def segment_emissions_stream(
    events: DataFrame, buckets: int | None = None
) -> DataFrame:
    """The stateful conversation lifecycle over a parsed event stream —
    narrow (branch, kind, carrier, overrides) emissions. One
    ``_lifecycle_fn`` over a ``shard`` grouping column: the task itself
    by default, or one of ``buckets=N`` hash buckets of tasks (same
    emissions; the throughput path)."""
    task = F.col("task_sid")
    shard = F.pmod(F.xxhash64(task), F.lit(buckets)) if buckets else task
    # materialize the shard key as a column first: the stateful
    # operator requires grouping attributes of the child plan
    return (
        events.filter(task.isNotNull())
        .withColumn("shard", shard)
        .groupBy("shard")
        .applyInPandasWithState(
            _lifecycle_fn,
            EMIT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def wide_conversation_segments_stream(
    events: DataFrame, buckets: int | None = None
) -> DataFrame:
    """S5 in streaming form: the full ~65-column conversations fact as an
    append stream — the stateless shared wide projection over the state
    machine's emissions."""
    from ..plans.taskrouter import wide_project_stream

    return wide_project_stream(segment_emissions_stream(events, buckets=buckets))


def wide_agent_status_stream(events: DataFrame) -> DataFrame:
    """AGENT STATUS segments as a wide append stream — the worker-keyed
    lifecycle's emissions through the SAME shared wide projection the
    conversation stream uses (wide parity with the batch agent branch is
    structural: identical JVM expressions over the same carrier)."""
    from ..plans.taskrouter import wide_project_stream

    return wide_project_stream(agent_status_emissions_stream(events))


# NOTE: the conversation and agent-status lifecycles CANNOT be unioned
# into one streaming query — Spark allows a single applyInPandasWithState
# per query ("Multiple applyInPandasWithStates are not supported"). A
# deployment runs them as two independent streaming jobs over the same
# source (own checkpoints, own state stores), landing in the same
# date-partitioned fact table; run_fixture_stream(agent=True) mirrors
# that topology and unions the completed results.


def conversation_segments_stream(
    events: DataFrame, buckets: int | None = None
) -> DataFrame:
    """The original core (ids + measures) streaming surface — a column
    subset of the wide stream; Catalyst prunes the unused wide
    expressions, so nothing extra is computed."""
    return wide_conversation_segments_stream(events, buckets=buckets).select(
        *CORE_COLUMNS
    )


def write_segments_stream(wide: DataFrame, path: str, checkpoint: str):
    """S5 in streaming form: append the wide conversations fact to
    date-partitioned parquet as segments terminalize — the durable
    complement of the batch ``sources.sinks.write_segments``, in the same
    row format (``sources.sinks.fact_rows``: ``uuid`` and
    ``segment_date``), so the report queries read either. Exactly-once
    per segment: the lifecycle drops redelivered CloudEvent ids in its
    task state and the file sink commits atomically per micro-batch."""
    from ..sources.sinks import fact_rows

    return (
        fact_rows(wide)
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("segment_date")
        .outputMode("append")
    )


def run_available_now(writer: DataStreamWriter, timeout: float | None = 300) -> None:
    """Start ``writer`` with the availableNow trigger and wait until the
    query has processed everything its source held at start. A query
    still running after ``timeout`` seconds is stopped and raises
    ``TimeoutError``: its sink would otherwise be read while it still
    fills. ``timeout=None`` waits without a limit; a query that failed
    raises its ``StreamingQueryException``."""
    q = writer.trigger(availableNow=True).start()
    # only a bounded wait that ran out returns False (an unbounded one
    # returns None)
    if q.awaitTermination(timeout) is False:
        q.stop()
        raise TimeoutError(f"streaming query {q.name or q.id} did not finish in {timeout} s")


_SPOOL_MTIME = 1_700_000_000


def _spool(indir: str, ordered: list, files: int) -> None:
    """Write ``ordered`` to ``files`` JSON-line chunk files in ``indir``,
    in order. The file source picks files up oldest-mtime-first, so each
    file gets a strictly greater mtime than the one before it (files
    written in the same clock tick would otherwise arrive in arbitrary
    order and legitimately be dropped as late past the watermark)."""
    os.makedirs(indir, exist_ok=True)
    chunk = max(1, (len(ordered) + files - 1) // files)
    for i in range(0, len(ordered), chunk):
        path = os.path.join(indir, f"part-{i:04d}.json")
        with open(path, "w") as f:
            for e in ordered[i : i + chunk]:
                f.write(json.dumps(e) + "\n")
        os.utime(path, (_SPOOL_MTIME + i, _SPOOL_MTIME + i))


def run_fixture_stream(
    spark: SparkSession,
    workdir: str,
    files: int = 6,
    wide: bool = False,
    buckets: int | None = None,
    events_in: list | None = None,
    agent: bool = False,
    keep_order: bool = False,
) -> DataFrame:
    """Batch-parity harness: spool the fixture to ``files`` chronological
    JSON-line files, stream them with availableNow (file-per-trigger →
    the watermark advances between micro-batches, exercising cross-batch
    state and event-time timeouts), and return the collected segments as
    a batch DataFrame. ``wide=True`` materializes the full ~65-column
    fact stream instead of the core view. ``events_in`` substitutes a
    caller-provided CloudEvent list for the fixture (fuzz harnesses)."""
    from ..taskrouter.fixture import FIXTURE_EVENTS

    spark.conf.set("spark.sql.session.timeZone", "UTC")  # oracle comparability
    indir = os.path.join(workdir, "in")
    ckpt = os.path.join(workdir, "ckpt")
    ordered = (
        list(events_in)
        if keep_order and events_in is not None
        # chronological spool is the default; keep_order=True preserves
        # the caller's (possibly shuffled) delivery order so cross-batch
        # event-time disorder reaches the watermark/state machinery
        else sorted(
            events_in if events_in is not None else FIXTURE_EVENTS,
            key=lambda e: e["data"]["payload"]["timestamp"],
        )
    )
    _spool(indir, ordered, files)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(indir)
    )
    events = parse_stream(raw)
    seg = (
        wide_conversation_segments_stream(events, buckets=buckets)
        if wide
        else conversation_segments_stream(events, buckets=buckets)
    )
    name = "tr_stream_segments_wide" if wide else "tr_stream_segments"
    if agent:
        name += "_agent"
    if buckets:
        name += "_bucketed"
    run_available_now(
        seg.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    if agent:
        # the agent-status lifecycle is its OWN streaming query over
        # the same source (Spark allows one applyInPandasWithState
        # per query; a deployment runs the two lifecycles as
        # independent jobs with independent checkpoints/state stores
        # — the standard multi-consumer topology). Results union
        # AFTER completion, both sides batch DataFrames by then.
        aseg = wide_agent_status_stream(parse_stream(raw))
        if not wide:
            aseg = aseg.select(*CORE_COLUMNS)
        run_available_now(
            aseg.writeStream.format("memory")
            .queryName(name + "_astatus")
            .option("checkpointLocation", os.path.join(workdir, "ckpt_agent"))
            .outputMode("append")
        )
    out = spark.sql(f"SELECT * FROM {name}")
    if agent:
        out = out.unionByName(spark.sql(f"SELECT * FROM {name}_astatus"))
    return out


def run_scale_stream(
    spark: SparkSession,
    workdir: str,
    n_tasks: int,
    files: int = 16,
    buckets: int | None = None,
) -> DataFrame:
    """Streaming scale-certificate harness: ``n_tasks`` closed-form
    happy-path conversations (``taskrouter.scale.synthetic_events`` —
    5 CloudEvents each, the SAME generator behind the batch
    ``taskrouter_segments_scale`` proof) pushed through the full
    streaming pipeline at volume, and the resulting segments returned
    as a lazy batch DataFrame over the durable sink for the caller to
    reduce against the generator's closed form.

    Deliberate choices, each load-bearing at scale:

    - **Event-time-ordered spool, ``files`` micro-batches, ZERO
      shuffle**: ``spark.range`` partitions are contiguous id ranges
      and explode preserves per-partition row order, so generating at
      ``num_partitions=files`` writes ``files`` arrival-ordered text
      files directly — no repartitionByRange (a 2 GB shuffle whose 16
      concurrent fetch+write tasks OOMed a warmed 1g driver-contract
      JVM; ordering that is free by construction must not be
      re-bought with a shuffle). Per-file ascending mtimes +
      ``maxFilesPerTrigger=1`` then yield cross-batch watermark
      advancement and task-state eviction — a single giant batch
      would certify the state machine but not the streaming
      machinery. Event time is monotone across files (skew within
      the arrival order is <= 300.2s — task i's completed event at
      60i+360.2 arrives before task i+6's entry at 60i+360.1 —
      bounded under both the 10-minute watermark delay and the
      10-minute conversation timeout, so nothing is dropped as late
      and no happy-path conversation is ever timed out as CORRUPTED;
      the closed form is exactly 2 terminal segments per task). File
      boundaries align to task boundaries (a contiguous task slice
      per file); MID-CONVERSATION cross-batch state carry is
      certified by the fixture streams' 6-file chronological spool
      and the replay-split tests, not re-proven here.
    - **Bucketed lifecycle** (``buckets`` defaulting to
      ``lifecycle_buckets`` at this session's core count): the
      throughput grouping is the one a 100 TB deployment runs, so it is
      the one the certificate exercises.
    - **RocksDB state store + 16 shuffle partitions for the stream**:
      the lifecycle state holds every applied CloudEvent id of a task
      until the task's deadline — a micro-batch of ids
      (~n_tasks*5/files) at a time — off-heap in RocksDB so the
      driver-contract 1g JVM never carries it. 16
      state partitions (not the session's 200, not even 32): fewer
      state instances collapse per-batch commit cost (PLANS #24), and
      — measured the hard way — the stateful+sink stage's UNMANAGED
      per-task memory (JSON strings, sort buffers, Arrow batches,
      parquet writers) scales with CONCURRENT tasks, so 32 tasks at
      625k events/batch OOMed a 1g driver-contract JVM that 11 prior
      queries had already warmed, while 16 tasks at 312k events/batch
      (files=16) hold comfortable headroom. Both settings are
      restored after the run.
    - **Durable parquet sink, not the memory sink**: 2*n_tasks result
      rows never touch the driver (the memory sink materializes in
      the driver heap); the caller reads the sink back and reduces
      distributively. This also runs the S5 streaming sink path at
      volume. No date partitioning here: the synthetic corpus spans
      ~694 days at n_tasks=1M and a per-day layout would shatter into
      tens of thousands of tiny files — a real deployment partitions
      by date because a day holds gigabytes, not 3 rows.
    """
    from ..taskrouter.scale import synthetic_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if buckets is None:
        cores = spark.sparkContext.defaultParallelism
        buckets = lifecycle_buckets(16, cores=cores)
    indir = os.path.join(workdir, "in")
    outdir = os.path.join(workdir, "segments")
    ckpt = os.path.join(workdir, "ckpt")
    (
        synthetic_events(spark, n_tasks, num_partitions=files)
        .select("raw")
        .write.text(indir)
    )
    parts = sorted(f for f in os.listdir(indir) if f.startswith("part-"))
    for k, fn in enumerate(parts):
        mt = 1_700_000_000 + k * 10
        os.utime(os.path.join(indir, fn), (mt, mt))

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    shuffle_key = "spark.sql.shuffle.partitions"
    prev_provider = spark.conf.get(provider_key, None)
    prev_shuffle = spark.conf.get(shuffle_key)
    try:
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set(shuffle_key, "16")
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(indir)
        )
        seg = conversation_segments_stream(
            parse_stream(raw), buckets=buckets
        )
        run_available_now(
            seg.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
            timeout=None,
        )
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
        spark.conf.set(shuffle_key, prev_shuffle)
    return spark.read.parquet(outdir)


def hourly_event_counts_stream(events: DataFrame) -> DataFrame:
    """Watermark + tumbling-window aggregation — the canonical Structured
    Streaming pattern (the declared BASELINE approach), over the parsed
    event stream: per-hour, per-eventtype counts, emitted in append mode
    once the watermark passes each window. ``events`` must already carry
    the watermark (``parse_stream`` output); redelivered CloudEvents are
    dropped here, so each event counts once."""
    return (
        events.dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 hour"), "eventtype")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"), "eventtype", "n_events"
        )
    )


def run_fixture_hourly_stream(spark: SparkSession, workdir: str) -> DataFrame:
    """Spool the fixture chronologically, then one far-future 'advancer'
    event whose only job is to push the watermark past every fixture
    window so append mode emits them all (its own window never closes, so
    it is withheld — the standard closed-window determinism trick)."""
    from ..taskrouter.fixture import FIXTURE_EVENTS

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    indir = os.path.join(workdir, "in_hourly")
    ckpt = os.path.join(workdir, "ckpt_hourly")
    ordered = sorted(FIXTURE_EVENTS, key=lambda e: e["data"]["payload"]["timestamp"])
    _spool(indir, ordered, 6)
    max_ts = dt.datetime.fromisoformat(
        ordered[-1]["data"]["payload"]["timestamp"].replace("Z", "")
    )
    adv_ts = (max_ts + dt.timedelta(hours=2)).isoformat(timespec="milliseconds") + "Z"
    advancer = {
        "id": "ADVANCER-1",
        "type": f"{S.TASKROUTER_PREFIX}watermark.advance",
        "data": {"payload": {"eventtype": "watermark.advance", "timestamp": adv_ts}},
    }
    adv_path = os.path.join(indir, "part-zzzz.json")
    with open(adv_path, "w") as f:
        f.write(json.dumps(advancer) + "\n")
    os.utime(adv_path, (_SPOOL_MTIME + 10_000, _SPOOL_MTIME + 10_000))

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(indir)
    agg = hourly_event_counts_stream(parse_stream(raw))
    run_available_now(
        agg.writeStream.format("memory")
        .queryName("tr_stream_hourly")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    return spark.sql("SELECT * FROM tr_stream_hourly")


# ------------------------------------------------- agents upsert sink (S7)


def agents_upsert_sink(spark: SparkSession, raw_stream: DataFrame, dim_path: str):
    """foreachBatch MERGE upsert for the agents dimension (SURVEY Phase 2
    item 12): per micro-batch, derive this batch's latest-wins agent rows
    and merge them into the durable dimension.

    On plain parquet the merge is read→union→latest-wins
    (``sources.sinks.merge_agents``)→staged write→swap
    (``sources.sinks.write_agents``, the batch merge's writer too; atomic
    enough for a single writer). State per agent is one row — the
    dimension stays broadcast-sized.

    Redelivery + ordering: each line is decoded once (``admit_events``,
    ``payload_event_cols``), watermarked and CloudEvent-id-deduplicated
    BEFORE the sink (the guarantee the conversation lifecycle gives the
    segments path in its task state, ``_unapplied_events``), so a
    duplicate delivered in a LATER micro-batch cannot re-merge into the
    dimension; a micro-batch is not parsed again. Arrival order is
    unknowable in a distributed stream (redelivery, repartitioning), so
    same-``ts`` ties break on the CloudEvent id — a total order intrinsic
    to the data, identical on failure replay, unlike
    ``monotonically_increasing_id``'s partition-dependent values."""
    from ..plans.taskrouter import admit_events, agents_from_parsed, payload_event_cols
    from ..sources.sinks import merge_agents, write_agents

    # no worker-type filter before the watermark: Spark pushes a filter
    # that does not read ``ts`` below it, which would change the late
    # rows the dedup drops
    deduped = (
        admit_events(raw_stream, "value")
        .select("event_id", *payload_event_cols(F.col("p")))
        .withWatermark("ts", WATERMARK_DELAY)
        .filter(F.col("ts").isNotNull())
        .dropDuplicatesWithinWatermark(["event_id"])
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # the CloudEvent id doubles as the deterministic arrival
        # substitute: agents_from_parsed only ever ORDERS BY arrival_idx,
        # so a string tiebreak column works unchanged
        parsed = batch_df.withColumn("arrival_idx", F.col("event_id"))
        batch_dim = agents_from_parsed(parsed, with_ordering=True)
        if batch_dim.isEmpty():
            return
        existing = spark.read.parquet(dim_path) if os.path.exists(dim_path) else None
        write_agents(merge_agents(existing, batch_dim), dim_path)

    return deduped.writeStream.foreachBatch(upsert)
