"""Randomized engine↔simulator parity.

The batch engine (set-wise windows/joins) and the reference simulator
(row-at-a-time replay) are independent implementations of the same
semantics. This fuzz harness generates random scenario mixes — random
timings with ms jitter, random event subsets, shuffled arrival order,
duplicate deliveries, custom-data overrides — and asserts both produce
the IDENTICAL segment set. Seeds are fixed: failures reproduce.
"""

import datetime as dt
import json
import random

import pytest

from twilio_event_streams_reporting_example_spark.taskrouter.schema import (
    SEGMENT_COLUMNS,
)
from twilio_event_streams_reporting_example_spark.taskrouter.sim import ReferenceSim

BASE = dt.datetime(2024, 7, 1, 8, 0, 0)

SCENARIOS = [
    "happy",
    "no_wrapup",
    "rejected",
    "timeout",
    "canceled",
    "rescinded",
    "abandoned",
    "transfer_failed",
    "no_entry",
    "completed_no_accept",
    "late_wrapup",
    "retry",        # timeout → second reservation, SAME queue entry
    "transfer",     # completed → transfer-initiated → second reservation
    "same_ts",      # accepted at the exact entered timestamp (strict <)
    "late_created", # created timestamped AFTER the exit → NULL ring, never negative
    "same_ts_created",  # created at the exact exit ts: arrival order decides
    "dual_accept",  # two reservations both accept off ONE queue entry
    "canceled_after_accept",  # task.canceled over an OPEN conversation:
    #                           abandon rows + the IN PROGRESS row coexist
]


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _gen_events(seed: int, n_tasks: int, custom_measures: bool = True) -> list[dict]:
    rng = random.Random(seed)
    events: list[dict] = []
    eid = [0]

    def ev(et, t, **payload):
        eid[0] += 1
        p = {"eventtype": et, "timestamp": _iso(t)}
        p.update({k: v for k, v in payload.items() if v is not None})
        return {
            "id": f"F-{seed}-{eid[0]}",
            "type": f"com.twilio.taskrouter.{et}",
            "data": {"payload": p},
        }

    for i in range(n_tasks):
        scen = rng.choice(SCENARIOS)
        task = f"FT{seed}-{i}"
        res = f"FR{seed}-{i}"
        wk = f"FW{rng.randrange(3)}"
        t0 = BASE + dt.timedelta(seconds=i * 600 + rng.randrange(60))

        def j(lo, hi):  # jittered offset with random milliseconds
            return dt.timedelta(seconds=rng.randrange(lo, hi), milliseconds=rng.randrange(1000))

        custom = None
        if rng.random() < 0.3:
            custom = {"conversations": {"conversation_id": f"C-{seed}-{i}",
                                        "queue_time": rng.randrange(500),
                                        # talk_time survives on an open IN
                                        # PROGRESS row (only the completed
                                        # UPDATE overwrites it) — must match
                                        # the sim on never-completed paths
                                        "talk_time": rng.randrange(500),
                                        "channel": rng.choice(["Video", "SMS"])}}
            if rng.random() < 0.5:
                # completed's spread must overwrite this on CONVERSATION
                # rows (even implicitly with null); other kinds pass it
                # through — fuzzes the segment_link override edge
                custom["conversations"]["segment_link"] = f"L-{seed}-{i}"
            if not custom_measures:
                # the streaming core projection carries computed measures
                # only; strip custom measure overrides (they surface on
                # kinds whose wide projection has no override)
                del custom["conversations"]["queue_time"]
                del custom["conversations"]["talk_time"]
        ta = {"direction": rng.choice(["inbound", "outbound", "internal", "weird"]),
              "from": "+1500", "to": "+1600", **(custom or {})}
        common = dict(task_sid=task, task_attributes=json.dumps(ta),
                      task_channel_unique_name=rng.choice(["voice", "chat", "video", None]),
                      task_queue_name="Q", task_queue_sid="WQ", workflow_name="WF")

        t_entry = t0
        t_created = t0 + j(1, 10)
        t_exit = t_created + j(1, 120)
        if scen != "no_entry":
            events.append(ev("task-queue.entered", t_entry, **common))
        if scen == "same_ts":
            # accepted shares the entered timestamp exactly: the strict-<
            # as-of must NOT pair them (no QUEUE row, null queue_time)
            events.append(ev("reservation.created", t0 - dt.timedelta(seconds=2),
                             reservation_sid=res, worker_sid=wk, **common))
            events.append(ev("reservation.accepted", t_entry, reservation_sid=res,
                             worker_sid=wk, **common))
            events.append(ev("reservation.completed", t_entry + j(30, 60),
                             reservation_sid=res, worker_sid=wk, **common))
            continue
        if scen in ("retry", "transfer"):
            res_b = f"{res}B"
            if scen == "retry":
                # first reservation times out; the second one still pairs
                # with the ORIGINAL queue entry (no re-enter)
                events.append(ev("reservation.created", t_created, reservation_sid=res,
                                 worker_sid=wk, **common))
                events.append(ev("reservation.timeout", t_exit, reservation_sid=res,
                                 worker_sid=wk, **common))
                t_cb = t_exit + j(1, 10)
            else:
                # first conversation completes, task transfers: second
                # queue segment measured from transfer-initiated
                events.append(ev("reservation.created", t_created, reservation_sid=res,
                                 worker_sid=wk, **common))
                events.append(ev("reservation.accepted", t_exit, reservation_sid=res,
                                 worker_sid=wk, **common))
                events.append(ev("reservation.completed", t_exit + j(30, 120),
                                 reservation_sid=res, worker_sid=wk, **common))
                t_ti = t_exit + j(150, 200)
                events.append(ev("task.transfer-initiated", t_ti, **common))
                t_cb = t_ti + j(1, 10)
            t_ab = t_cb + j(1, 60)
            events.append(ev("reservation.created", t_cb, reservation_sid=res_b,
                             worker_sid=wk, **common))
            events.append(ev("reservation.accepted", t_ab, reservation_sid=res_b,
                             worker_sid=wk, **common))
            events.append(ev("reservation.completed", t_ab + j(30, 120),
                             reservation_sid=res_b, worker_sid=wk, **common))
            continue
        if scen == "late_created":
            # out-of-order delivery where even EVENT TIME is inverted: the
            # created event is timestamped after the exit. The simulator's
            # lookup sees only already-processed events → NULL ring_time;
            # the engine's created-as-of must agree (never negative).
            exit_et = rng.choice(["reservation.accepted", "reservation.timeout"])
            events.append(ev(exit_et, t_exit, reservation_sid=res,
                             worker_sid=wk, **common))
            events.append(ev("reservation.created", t_exit + j(1, 30),
                             reservation_sid=res, worker_sid=wk, **common))
            if exit_et == "reservation.accepted":
                events.append(ev("reservation.completed", t_exit + j(60, 120),
                                 reservation_sid=res, worker_sid=wk, **common))
            continue
        if scen == "same_ts_created":
            # created shares the exit timestamp exactly: visibility is
            # decided by arrival order (shuffled below) — both sides must
            # resolve the tie identically (ring 0 when visible, else NULL)
            events.append(ev("reservation.created", t_exit, reservation_sid=res,
                             worker_sid=wk, **common))
            events.append(ev(rng.choice(["reservation.accepted", "reservation.rejected"]),
                             t_exit, reservation_sid=res, worker_sid=wk, **common))
            continue
        if scen == "dual_accept":
            # multi-reservation: BOTH reservations accept off the single
            # queue entry (conference/parallel ring) — the entry lookup is
            # non-consuming, so both get a QUEUE row and a queue_time
            res_b = f"{res}B"
            t_acc2 = t_exit + j(1, 30)
            events.append(ev("reservation.created", t_created, reservation_sid=res,
                             worker_sid=wk, **common))
            events.append(ev("reservation.created", t_created + j(0, 2),
                             reservation_sid=res_b, worker_sid=wk, **common))
            events.append(ev("reservation.accepted", t_exit, reservation_sid=res,
                             worker_sid=wk, **common))
            events.append(ev("reservation.accepted", t_acc2, reservation_sid=res_b,
                             worker_sid=wk, **common))
            events.append(ev("reservation.completed", t_acc2 + j(30, 90),
                             reservation_sid=res, worker_sid=wk, **common))
            events.append(ev("reservation.completed", t_acc2 + j(91, 150),
                             reservation_sid=res_b, worker_sid=wk, **common))
            continue
        if scen in ("abandoned", "transfer_failed"):
            et = "task.canceled" if scen == "abandoned" else "task.transfer-failed"
            events.append(ev(et, t_exit, task_canceled_reason="gone", **common))
            continue
        if scen == "canceled_after_accept":
            # the conversation is accepted (IN PROGRESS row) and the task
            # is then canceled: the abandon QUEUE/CONVERSATION rows use
            # the same non-consuming entry anchor the accepted used
            events.append(ev("reservation.created", t_created, reservation_sid=res,
                             worker_sid=wk, **common))
            events.append(ev("reservation.accepted", t_exit, reservation_sid=res,
                             worker_sid=wk, **common))
            events.append(ev("task.canceled", t_exit + j(5, 90),
                             task_canceled_reason="caller hung up", **common))
            continue
        events.append(ev("reservation.created", t_created, reservation_sid=res,
                         worker_sid=wk, **common))
        if scen == "rejected":
            events.append(ev("reservation.rejected", t_exit, reservation_sid=res,
                             worker_sid=wk, **common))
        elif scen == "timeout":
            events.append(ev("reservation.timeout", t_exit, reservation_sid=res,
                             worker_sid=wk, **common))
        elif scen == "canceled":
            events.append(ev("reservation.canceled", t_exit, reservation_sid=res,
                             worker_sid=wk, **common))
        elif scen == "rescinded":
            events.append(ev("reservation.rescinded", t_exit, reservation_sid=res,
                             worker_sid=wk, **common))
        elif scen == "completed_no_accept":
            events.append(ev("reservation.completed", t_exit, reservation_sid=res,
                             worker_sid=wk, **common))
        else:
            t_acc = t_exit
            events.append(ev("reservation.accepted", t_acc, reservation_sid=res,
                             worker_sid=wk, **common))
            t_done = t_acc + j(30, 600)
            if scen == "happy":
                t_wrap = t_acc + j(5, 25)
                events.append(ev("reservation.wrapup", t_wrap, reservation_sid=res,
                                 worker_sid=wk, **common))
                events.append(ev("reservation.completed", t_done, reservation_sid=res,
                                 worker_sid=wk, task_completed_reason="done", **common))
            elif scen == "no_wrapup":
                events.append(ev("reservation.completed", t_done, reservation_sid=res,
                                 worker_sid=wk, **common))
            elif scen == "late_wrapup":
                events.append(ev("reservation.completed", t_done, reservation_sid=res,
                                 worker_sid=wk, **common))
                events.append(ev("reservation.wrapup", t_done + j(1, 30),
                                 reservation_sid=res, worker_sid=wk, **common))
            # else: accepted never resolved → IN PROGRESS

    # random worker lifecycles (agent dimension + status sessions)
    for w in range(3):
        wk = f"FW{w}"
        t = BASE + dt.timedelta(seconds=rng.randrange(3600))
        attrs = {"email": f"{wk}@x", "agent_id": wk,
                 "roles": ["Agent"] if rng.random() < 0.5 else None,
                 "role": "Solo" if rng.random() < 0.5 else None,
                 "team_id": f"T{rng.randrange(2)}", "team_name": f"Team{rng.randrange(2)}"}
        attrs = {k: v for k, v in attrs.items() if v is not None}
        wcommon = dict(worker_sid=wk, worker_attributes=json.dumps(attrs))
        if rng.random() < 0.8:  # sometimes the created event is missing
            events.append(ev("worker.created", t, worker_activity_name="Offline", **wcommon))
        for _ in range(rng.randrange(4)):
            t += dt.timedelta(seconds=rng.randrange(60, 600),
                              milliseconds=rng.randrange(1000))
            kind = rng.choice(["worker.activity.update", "worker.attributes.update"])
            extra = {}
            if kind == "worker.activity.update":
                extra = dict(worker_activity_name=rng.choice(["Available", "Break"]),
                             worker_time_in_previous_activity=rng.randrange(5000))
            events.append(ev(kind, t, **extra, **wcommon))
        if rng.random() < 0.3:
            t += dt.timedelta(seconds=rng.randrange(60, 600))
            events.append(ev("worker.deleted", t, worker_activity_name="Offline", **wcommon))

    # duplicate deliveries: re-send ~10% with the same id
    dups = [e for e in events if rng.random() < 0.1]
    events.extend(json.loads(json.dumps(e)) for e in dups)
    rng.shuffle(events)  # arrival order is adversarial; event time governs
    return events


def _canon_rows(rows):
    out = []
    for r in rows:
        out.append(tuple(
            (v.isoformat() if isinstance(v, dt.datetime) else v)
            for v in (r[c] for c, _ in SEGMENT_COLUMNS)
        ))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_engine_matches_simulator_on_random_scenarios(spark, seed):
    events = _gen_events(seed, n_tasks=25)

    sim_rows = _canon_rows(ReferenceSim(events).segment_rows())

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )

    raw = spark.createDataFrame(
        [(i, json.dumps(e)) for i, e in enumerate(events)], "arrival_idx bigint, raw string"
    )
    eng_rows = _canon_rows([r.asDict() for r in taskrouter_segments_df(spark, raw).collect()])

    assert len(eng_rows) == len(sim_rows), (
        f"seed {seed}: engine {len(eng_rows)} rows vs sim {len(sim_rows)}"
    )
    for a, b in zip(eng_rows, sim_rows):
        assert a == b, f"seed {seed}: first diff\nengine: {a}\nsim:    {b}"


@pytest.mark.parametrize("seed", [7, 31])
def test_agents_dimension_matches_simulator(spark, seed):
    import datetime as dtm

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_agents_df,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.schema import (
        AGENT_COLUMNS,
    )

    events = _gen_events(seed, n_tasks=10)

    def canon(rows):
        out = []
        for r in rows:
            out.append(tuple(
                (v.isoformat() if isinstance(v, dtm.datetime) else v)
                for v in (r[c] for c, _ in AGENT_COLUMNS)
            ))
        return sorted(out, key=lambda t: tuple(str(x) for x in t))

    sim_rows = canon(ReferenceSim(events).agent_rows())
    raw = spark.createDataFrame(
        [(i, json.dumps(e)) for i, e in enumerate(events)], "arrival_idx bigint, raw string"
    )
    eng_rows = canon([r.asDict() for r in taskrouter_agents_df(spark, raw).collect()])
    assert eng_rows == sim_rows, f"seed {seed}: agents diverged"


@pytest.mark.parametrize("seed", [5, 19, 101])
def test_streaming_wide_matches_batch_on_random_scenarios(spark, seed):
    """The streaming state machine (pure-fn path, arbitrary micro-batch
    splits) pushed through the SHARED wide projection must agree with the
    batch recompute on every terminal segment — ALL ~65 columns, custom
    measures included (the wide path re-parses the carrier CloudEvent, so
    custom overrides surface exactly as in batch). Events are
    deduplicated by CloudEvent id first (the lifecycle state's job) and sorted
    with the (ts, arrival_idx) tiebreak the in-batch sort applies."""
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
        wide_project_stream,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        EMIT_SCHEMA,
        _segment_rows_for_task,
    )

    TERMINAL = {"QUEUE", "CONVERSATION", "REJECTED CONVERSATION",
                "MISSED CONVERSATION", "REVOKED CONVERSATION"}

    events = _gen_events(seed, n_tasks=30)
    rng = random.Random(seed * 7 + 1)

    # --- streaming side: dedup by id (first arrival), group by task_sid,
    # sort by (ts, arrival_idx), replay through random batch splits
    seen, per_task = set(), {}
    for idx, e in enumerate(events):
        if e["id"] in seen:
            continue
        seen.add(e["id"])
        p = e["data"]["payload"]
        if not p.get("task_sid"):
            continue
        ta = json.loads(p.get("task_attributes") or "{}")
        per_task.setdefault(p["task_sid"], []).append({
            "eventtype": p["eventtype"],
            "ts": p["timestamp"].replace("Z", ""),
            "task_sid": p.get("task_sid"),
            "reservation_sid": p.get("reservation_sid"),
            "worker_sid": p.get("worker_sid"),
            "custom_segment_link": (ta.get("conversations") or {}).get("segment_link"),
            "raw": json.dumps(e),
            "arrival_idx": idx,
        })
    emissions = []
    for evs in per_task.values():
        evs.sort(key=lambda e: (e["ts"], e["arrival_idx"]))
        st: dict = {}
        pos = 0
        while pos < len(evs):
            cut = pos + rng.randrange(1, len(evs) - pos + 1)
            rows, st = _segment_rows_for_task(evs[pos:cut], st, timed_out=False)
            emissions.extend(rows)
            pos = cut
    emit_df = spark.createDataFrame(
        [tuple(r[f.name] for f in EMIT_SCHEMA.fields) for r in emissions],
        EMIT_SCHEMA,
    )
    stream_wide = [
        r.asDict()
        for r in wide_project_stream(emit_df).collect()
        if r["segment_kind"] in TERMINAL
    ]
    stream_canon = _canon_rows(stream_wide)

    # --- batch side
    raw = spark.createDataFrame(
        [(i, json.dumps(e)) for i, e in enumerate(events)],
        "arrival_idx bigint, raw string",
    )
    batch = [
        r.asDict()
        for r in taskrouter_segments_df(spark, raw).collect()
        if r["segment_kind"] in TERMINAL
    ]
    batch_canon = _canon_rows(batch)
    assert len(stream_canon) == len(batch_canon), (
        f"seed {seed}: stream {len(stream_canon)} vs batch {len(batch_canon)}"
    )
    for a, b in zip(stream_canon, batch_canon):
        assert a == b, f"seed {seed}: first diff\nstream: {a}\nbatch:  {b}"
