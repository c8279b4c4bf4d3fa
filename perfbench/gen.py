"""Seeded TaskRouter CloudEvent generator shared by the ``tr_batch`` and
``tr_stream`` workloads.

Pure Python, no Spark: the plan is drawn from ``random.Random(seed)``
and every expectation (segment counts and measure sums per kind, agent
end states) is derived from the plan itself, never from the engine. The
benchmark's own tests prove these expectations equal the independent
``taskrouter.sim.ReferenceSim`` replay on small seeds.

Traffic dimensions: the sizes (task count, event-time span, events per
delivery chunk) are ``Sizes``, set per workload; everything else is
``TRAFFIC``, the same for both workloads. Each value there cites its
basis, or says it is assumed and why:
  - lifecycle mix: completed with / without wrapup, rejected then
    re-offered, timeout then abandoned, rescinded then re-offered,
    abandoned in queue, plus worker activity churn and attribute updates;
  - Zipf-skewed workers and queues;
  - ~1 KB of ``task_attributes`` JSON on every task event;
  - a duplicate-delivery share and an out-of-order share; disorder stays
    inside one delivery chunk, so it is always within the watermark;
  - an event-time span that sets the date-partition count of the event
    log and the fact.

Delivery order is chunked: chunk k holds events whose event time is no
later than any event of chunk k+1 (before duplicates are injected), so a
stream that reads one chunk per file sees event time advance file by
file while each file is internally shuffled.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import random
from dataclasses import asdict, dataclass

PREFIX = "com.twilio.taskrouter."
BASE = dt.datetime(2024, 6, 1, 0, 0, 0)

TRAFFIC = {
    # lifecycle -> task count in the CloudEvent fixture (taskrouter/
    # fixture.py): TK001/TK009/TK013 complete with wrapup, TK002/TK010/
    # TK012 without, TK003 rejected, TK004/TK005 missed (timeout,
    # reservation canceled), TK006 rescinded, TK007/TK008 abandoned
    "mix": {
        "completed_wrapup": 3,
        "completed_no_wrapup": 3,
        "rejected": 1,
        "timeout": 2,
        "rescinded": 1,
        "abandoned": 2,
    },
    "n_workers": 50,  # the scale generator's worker pool (taskrouter/scale.py)
    "n_queues": 8,  # assumed: the fixture has one queue; several give the queue reports groups
    "zipf_s": 1.0,  # assumed: Zipf's law proper (the fixture's busiest worker has 20 of 42 worker events)
    "attr_bytes": 1024,  # the design's "about 1 KB task_attributes"
    "dup_share": 1 / 59,  # the fixture delivers 1 of its 59 events twice
    "ooo_share": 0.05,  # assumed: the fixture has out-of-order cases but no rate
    "churn_per_worker": 1,  # the fixture: 3 activity updates for 3 workers
    "attr_updates_per_worker": 1,  # the fixture: 2 attribute updates for 3 workers, rounded
    "deleted_share": 1 / 3,  # the fixture: 1 of 3 workers deleted
}

KINDS_TASK = (
    "QUEUE",
    "CONVERSATION",
    "REJECTED CONVERSATION",
    "MISSED CONVERSATION",
    "REVOKED CONVERSATION",
)
KINDS_AGENT = ("AGENT STATUS", "AGENT STATUS IN PROGRESS")
MEASURES = (
    "queue_time",
    "ring_time",
    "talk_time",
    "wrapup_time",
    "abandon_time",
    "activity_time",
)
ACTIVITIES = ("Available", "Busy", "Break", "Offline", "Training")


@dataclass(frozen=True)
class Sizes:
    n_tasks: int
    span_hours: float
    chunk_events: int

    def describe(self) -> dict:
        return {**asdict(self), **TRAFFIC}


def iso(ms: int) -> str:
    t = BASE + dt.timedelta(milliseconds=ms)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def secs(end_ms: int, start_ms: int) -> int:
    """Whole-second difference of ms-truncated timestamps (the engine's
    measure rule)."""
    return end_ms // 1000 - start_ms // 1000


class _Zipf:
    def __init__(self, n: int, s: float, rng: random.Random):
        w = [1.0 / (k + 1) ** s for k in range(n)]
        self.cum = list(itertools.accumulate(w))
        self.rng = rng

    def pick(self) -> int:
        return bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])


def _segment(kind, task=None, trig=None, queue=None, ring=None, talk=None,
             wrapup=None, abandon=None, activity=None):
    return {
        "kind": kind,
        "task": task,
        "trig": trig,  # id of the event whose processing emits the segment
        "queue_time": queue,
        "ring_time": ring,
        "talk_time": talk,
        "wrapup_time": wrapup,
        "abandon_time": abandon,
        "activity_time": activity,
    }


class Plan:
    """One seeded traffic plan: delivery chunks of raw CloudEvent JSON
    lines plus the expectations derived from the plan."""

    def __init__(self, sizes: Sizes, seed: int):
        self.sizes = sizes
        self.seed = seed
        rng = random.Random(seed)
        self._rng = rng
        self._seq = 0
        self.events: list[tuple[int, int, dict]] = []  # (ts_ms, seq, event)
        self.segments: list[dict] = []  # expected segments (task + agent)
        self.task_last_ms: dict[str, int] = {}
        self.agents: dict[str, dict] = {}
        span_ms = int(sizes.span_hours * 3_600_000)
        self._workers = _Zipf(TRAFFIC["n_workers"], TRAFFIC["zipf_s"], rng)
        self._queues = _Zipf(TRAFFIC["n_queues"], TRAFFIC["zipf_s"], rng)
        self._pad = "x" * max(0, TRAFFIC["attr_bytes"] - 700)
        self._gen_workers(span_ms)
        kinds = list(TRAFFIC["mix"])
        weights = [TRAFFIC["mix"][k] for k in kinds]
        for i in range(sizes.n_tasks):
            start = rng.randrange(span_ms // 20, span_ms - 900_000)
            self._gen_task(i, start, rng.choices(kinds, weights)[0])
        self._deliver()

    # ------------------------------------------------------------ events

    def _emit(self, et: str, ms: int, **payload) -> dict:
        self._seq += 1
        ev = {
            "id": f"EV{self.seed}-{self._seq:08d}",
            "type": PREFIX + et,
            "data": {"payload": {"eventtype": et, "timestamp": iso(ms), **payload}},
        }
        self.events.append((ms, self._seq, ev))
        return ev

    def _task_attrs(self, i: int, queue: int) -> str:
        rng = self._rng
        conv = {f"conversation_attribute_{k}": f"a{k}-{rng.randrange(50)}" for k in range(1, 11)}
        conv.update(
            {f"conversation_label_{k}": f"l{k}-{rng.randrange(9)}" for k in range(1, 6)}
        )
        conv["language"] = rng.choice(("en", "es", "de", "fr"))
        conv["campaign"] = f"CMP-{queue}"
        attrs = {
            "direction": rng.choice(("inbound", "inbound", "outbound")),
            "from": f"+1555{i:07d}",
            "to": f"+1666{queue:07d}",
            "conversations": conv,
            "notes": self._pad,
        }
        return json.dumps(attrs, separators=(",", ":"))

    # ----------------------------------------------------------- workers

    def _gen_workers(self, span_ms: int) -> None:
        rng = self._rng
        for w in range(TRAFFIC["n_workers"]):
            sid = f"WK{w:05d}"
            attrs = {
                "email": f"agent{w}@example.com",
                "agent_id": f"A-{w:05d}",
                "location": rng.choice(("NYC", "LON", "SFO", "BER")),
                "role": "Agent",
                "team_id": f"TM-{w % 5}",
                "team_name": f"Team {w % 5}",
                "manager": f"M{w % 3}",
                "department_id": "D-1",
                "department_name": "Support",
            }
            created = rng.randrange(0, span_ms // 20)
            churn = sorted(rng.randrange(created + 1000, span_ms) for _ in range(TRAFFIC["churn_per_worker"]))
            updates = sorted(
                rng.randrange(created + 1000, span_ms) for _ in range(TRAFFIC["attr_updates_per_worker"])
            )
            deleted = rng.random() < TRAFFIC["deleted_share"]
            timeline = [(created, "worker.created")]
            timeline += [(t, "worker.activity.update") for t in churn]
            timeline += [(t, "worker.attributes.update") for t in updates]
            if deleted:
                timeline.append((span_ms + rng.randrange(1000, 600_000), "worker.deleted"))
            timeline.sort()
            # worker timelines must not tie: agent sessions order by ts
            ms_seen: set[int] = set()
            openers: list[tuple[int, int | None]] = []
            for t, et in timeline:
                while t in ms_seen:
                    t += 1
                ms_seen.add(t)
                last_t, last_et = t, et
                if et == "worker.attributes.update":
                    attrs = {**attrs, "team_name": f"Team {w % 5} v{rng.randrange(100)}"}
                wtip = rng.randrange(1, 7200) if et == "worker.activity.update" else None
                payload = {
                    "worker_sid": sid,
                    "worker_attributes": json.dumps(attrs, separators=(",", ":")),
                }
                if et in ("worker.created", "worker.activity.update"):
                    payload["worker_activity_name"] = rng.choice(ACTIVITIES)
                    payload["worker_time_in_previous_activity"] = wtip
                    openers.append((t, wtip))
                self._emit(et, t, **payload)
            # agent sessions: every opener closes the previous interval
            for k, (t, _) in enumerate(openers):
                if k + 1 < len(openers):
                    self.segments.append(_segment("AGENT STATUS", activity=openers[k + 1][1]))
                else:
                    # an open interval keeps the opener's own value only for
                    # worker.created, which carries none here
                    self.segments.append(_segment("AGENT STATUS IN PROGRESS"))
            self.agents[sid] = {
                "state": "Deleted" if last_et == "worker.deleted" else "Active",
                "date_joined": iso(created)[:19].replace("T", " "),
                "date_left": (
                    iso(last_t)[:19].replace("T", " ") if last_et == "worker.deleted" else None
                ),
                "team_name": attrs["team_name"],
            }

    # ------------------------------------------------------------- tasks

    def _gen_task(self, i: int, t: int, life: str) -> None:
        rng = self._rng
        task = f"TK{self.seed}-{i:07d}"
        q = self._queues.pick()
        common = {
            "task_sid": task,
            "task_attributes": self._task_attrs(i, q),
            "task_channel_unique_name": rng.choice(("voice", "voice", "chat")),
            "workflow_name": "Main",
            "task_queue_name": f"Queue {q}",
            "task_queue_sid": f"WQ{q:03d}",
        }
        gap = lambda lo, hi: rng.randrange(lo, hi)  # noqa: E731
        entered = t
        self._emit("task-queue.entered", entered, **common)
        now = entered
        segs: list[dict] = []

        def offer(n: int):
            nonlocal now
            rsid = f"RS{self.seed}-{i:07d}-{n}"
            worker = f"WK{self._workers.pick():05d}"
            now += gap(500, 40_000)
            created = now
            self._emit("reservation.created", created, reservation_sid=rsid,
                       worker_sid=worker, **common)
            return rsid, worker, created

        def fail(et: str, kind: str, rsid, worker, created):
            nonlocal now
            now += gap(1_000, 30_000)
            ev = self._emit(et, now, reservation_sid=rsid, worker_sid=worker, **common)
            segs.append(_segment(kind, task, ev["id"], ring=secs(now, created)))

        def accept_and_complete(rsid, worker, created, wrapup: bool):
            nonlocal now
            now += gap(1_000, 20_000)
            accepted = now
            ev = self._emit("reservation.accepted", accepted, reservation_sid=rsid,
                            worker_sid=worker, **common)
            qt = secs(accepted, entered)
            segs.append(_segment("QUEUE", task, ev["id"], queue=qt))
            now += gap(20_000, 360_000)
            wrap_ms = None
            if wrapup:
                wrap_ms = now
                self._emit("reservation.wrapup", wrap_ms, reservation_sid=rsid,
                           worker_sid=worker, **common)
                now += gap(1_000, 60_000)
            ev = self._emit("reservation.completed", now, reservation_sid=rsid,
                            worker_sid=worker, task_completed_reason="completed", **common)
            segs.append(
                _segment(
                    "CONVERSATION", task, ev["id"], queue=qt, ring=secs(accepted, created),
                    talk=secs(wrap_ms if wrap_ms is not None else now, accepted),
                    wrapup=secs(now, wrap_ms) if wrap_ms is not None else 0,
                )
            )

        def abandon():
            nonlocal now
            now += gap(5_000, 120_000)
            ev = self._emit("task.canceled", now, task_canceled_reason="hangup", **common)
            qt = secs(now, entered)
            segs.append(_segment("QUEUE", task, ev["id"], queue=qt, abandon=qt))
            segs.append(_segment("CONVERSATION", task, ev["id"], queue=qt, abandon=qt))

        if life in ("completed_wrapup", "completed_no_wrapup"):
            accept_and_complete(*offer(1), wrapup=life == "completed_wrapup")
        elif life == "rejected":
            fail("reservation.rejected", "REJECTED CONVERSATION", *offer(1))
            accept_and_complete(*offer(2), wrapup=True)
        elif life == "rescinded":
            fail("reservation.rescinded", "REVOKED CONVERSATION", *offer(1))
            accept_and_complete(*offer(2), wrapup=False)
        elif life == "timeout":
            fail("reservation.timeout", "MISSED CONVERSATION", *offer(1))
            abandon()
        elif life == "abandoned":
            abandon()
        else:
            raise ValueError(f"unknown lifecycle {life!r}")
        self.segments.extend(segs)
        self.task_last_ms[task] = now

    # ---------------------------------------------------------- delivery

    def _deliver(self) -> None:
        """Event-time order, chunked; shuffle a share within each chunk;
        re-deliver a share as exact duplicates in the same or next chunk."""
        rng = self._rng
        ordered = [ev for _, _, ev in sorted(self.events, key=lambda x: (x[0], x[1]))]
        n = self.sizes.chunk_events
        chunks = [ordered[k : k + n] for k in range(0, len(ordered), n)]
        for ch in chunks:
            for a in range(len(ch)):
                if rng.random() < TRAFFIC["ooo_share"]:
                    b = rng.randrange(len(ch))
                    ch[a], ch[b] = ch[b], ch[a]
        self.n_unique_events = len(ordered)
        self.n_duplicates = 0
        originals = [list(ch) for ch in chunks]
        for k, ch in enumerate(originals):
            for ev in ch:
                if rng.random() < TRAFFIC["dup_share"]:
                    dest = chunks[min(k + rng.randrange(2), len(chunks) - 1)]
                    dest.insert(rng.randrange(len(dest) + 1), ev)
                    self.n_duplicates += 1
        self.chunks = [[json.dumps(ev, separators=(",", ":")) for ev in ch] for ch in chunks]
        self.chunk_tasks = [
            {ev["data"]["payload"]["task_sid"] for ev in ch if "task_sid" in ev["data"]["payload"]}
            for ch in chunks
        ]
        first_chunk: dict[str, int] = {}
        for k, ch in enumerate(chunks):
            for ev in ch:
                first_chunk.setdefault(ev["id"], k)
        # (segment kind, task) is unique per task in every lifecycle
        self.trigger_chunk = {
            (s["kind"], s["task"]): first_chunk[s["trig"]] for s in self.segments if s["task"]
        }

    # ------------------------------------------------------- expectations

    def lines(self) -> list[str]:
        return [line for ch in self.chunks for line in ch]

    def event_dicts(self) -> list[dict]:
        return [json.loads(line) for line in self.lines()]

    def tasks_done_by_chunk(self, n_chunks: int) -> set[str]:
        """Tasks whose every event sits in the first ``n_chunks`` chunks."""
        later: set[str] = set()
        for tasks in self.chunk_tasks[n_chunks:]:
            later |= tasks
        seen: set[str] = set()
        for tasks in self.chunk_tasks[:n_chunks]:
            seen |= tasks
        return seen - later


def summarize(segments, tasks: set[str] | None = None, kinds=None) -> dict:
    """{kind: [count, sum of each measure in MEASURES order]} over the
    expected segments, optionally restricted to ``tasks`` / ``kinds``."""
    out: dict[str, list[int]] = {}
    for s in segments:
        if kinds is not None and s["kind"] not in kinds:
            continue
        if tasks is not None and s["task"] not in tasks:
            continue
        acc = out.setdefault(s["kind"], [0] * (1 + len(MEASURES)))
        acc[0] += 1
        for j, m in enumerate(MEASURES):
            acc[j + 1] += s[m] or 0
    return out


def fact_summary_sql(table: str, where: str = "") -> str:
    """The same summary over a fact table, as SQL (Spark or DuckDB)."""
    sums = ", ".join(f"CAST(COALESCE(SUM({m}), 0) AS BIGINT) AS {m}" for m in MEASURES)
    return f"SELECT segment_kind, COUNT(*) AS n, {sums} FROM {table} {where} GROUP BY segment_kind"


def rows_to_summary(rows) -> dict:
    return {r[0]: [int(v) for v in r[1:]] for r in rows}


def diff_summary(expected: dict, actual: dict) -> list[str]:
    """Human-readable mismatches; empty when equal."""
    bad = []
    for kind in sorted(set(expected) | set(actual)):
        e, a = expected.get(kind), actual.get(kind)
        if e != a:
            bad.append(f"{kind}: expected {e}, got {a}")
    return bad
