"""Tests of the benchmark's own parts (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parent.parent))

import common  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import stream  # noqa: E402

SMALL = gen.Sizes(n_tasks=120, span_hours=6.0, chunk_events=50)


def _sim(plan):
    from twilio_event_streams_reporting_example_spark.taskrouter.sim import ReferenceSim

    return ReferenceSim(plan.event_dicts())


def _duck_summary(rows: list[dict]) -> dict:
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.register("fact", pd.DataFrame(rows))
        return gen.rows_to_summary(con.sql(gen.fact_summary_sql("fact")).fetchall())
    finally:
        con.close()


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_plan_expectations_equal_reference_sim(seed):
    plan = gen.Plan(SMALL, seed)
    sim = _sim(plan)
    assert plan.n_duplicates > 0
    assert gen.diff_summary(gen.summarize(plan.segments), _duck_summary(sim.segment_rows())) == []
    got = {
        a["agent_uuid"]: (
            a["state"],
            str(a["date_joined"]),
            str(a["date_left"]) if a["date_left"] else None,
            a["team_name"],
        )
        for a in sim.agent_rows()
    }
    want = {
        k: (v["state"], v["date_joined"], v["date_left"], v["team_name"])
        for k, v in plan.agents.items()
    }
    assert got == want


@pytest.mark.parametrize("fault", ["drop", "duplicate"])
def test_check_fails_on_one_dropped_or_duplicated_segment(fault):
    plan = gen.Plan(SMALL, 5)
    rows = _sim(plan).segment_rows()
    victim = next(i for i, r in enumerate(rows) if r["segment_kind"] == "CONVERSATION")
    if fault == "drop":
        rows = rows[:victim] + rows[victim + 1 :]
    else:
        rows = rows + [rows[victim]]
    bad = gen.diff_summary(gen.summarize(plan.segments), _duck_summary(rows))
    assert len(bad) == 1 and bad[0].startswith("CONVERSATION:")


def test_disorder_stays_inside_a_chunk():
    plan = gen.Plan(SMALL, 7)
    first: dict[str, int] = {}
    maxes, mins = [], []
    for k, ch in enumerate(plan.chunks):
        own = []
        for line in ch:
            ev = json.loads(line)
            if first.setdefault(ev["id"], k) == k:
                own.append(ev["data"]["payload"]["timestamp"])
        maxes.append(max(own))
        mins.append(min(own))
    assert all(maxes[k] <= mins[k + 1] for k in range(len(plan.chunks) - 1))
    disordered = sum(
        1
        for ch in plan.chunks
        for a, b in zip(ch, ch[1:])
        if json.loads(a)["data"]["payload"]["timestamp"] > json.loads(b)["data"]["payload"]["timestamp"]
    )
    assert disordered > 0


def test_trigger_chunks_and_done_tasks():
    plan = gen.Plan(SMALL, 9)
    assert plan.tasks_done_by_chunk(len(plan.chunks)) == {
        s["task"] for s in plan.segments if s["task"]
    }
    last = {}
    for k, tasks in enumerate(plan.chunk_tasks):
        for t in tasks:
            last[t] = k
    assert all(c <= last[task] for (_, task), c in plan.trigger_chunk.items())


def test_file_batches_maps_log_offsets_to_query_batches(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    # log offsets 0 and 1 hold three files each (compacted), offset 2 one
    (src / "1.compact").write_text(
        "v1\n" + "\n".join(
            json.dumps({"path": f"file:///x/f{k:05d}.json", "timestamp": 1, "batchId": k // 3})
            for k in range(6)
        )
    )
    (src / "2").write_text('v1\n{"path":"file:///x/f00006.json","timestamp":1,"batchId":2}')
    (src / ".2.crc").write_text("junk")
    offsets = tmp_path / "offsets"
    offsets.mkdir()
    # query batch 1 is a no-data batch: its log offset repeats batch 0's
    for batch, log_offset in [(0, 0), (1, 0), (2, 1), (3, 1), (4, 2)]:
        (offsets / str(batch)).write_text(
            'v1\n{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}\n'
            + json.dumps({"logOffset": log_offset})
        )
    (tmp_path / "commits").mkdir()
    (tmp_path / "commits" / "4").write_text("v1\n{}")
    assert stream.file_batches(str(tmp_path)) == {
        "f00000.json": 0, "f00001.json": 0, "f00002.json": 0,
        "f00003.json": 2, "f00004.json": 2, "f00005.json": 2, "f00006.json": 4,
    }
    assert list(stream.commit_times(str(tmp_path))) == [4]


def test_event_log_fold(tmp_path):
    log = tmp_path / "eventlog"
    log.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "recompute"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ]
    for stage, run_ms in [(0, 10), (0, 10), (0, 40), (1, 5), (2, 99)]:
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"Name": "data returned from Python workers", "Update": 7}]},
            "Task Metrics": {
                "Executor Run Time": run_ms, "JVM GC Time": 2,
                "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                "Input Metrics": {"Bytes Read": 100},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 30},
            },
        })
    (log / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n{torn")
    groups = eventlog.fold(log)
    g = groups["recompute"]
    assert (g.tasks, g.input_bytes, g.shuffle_write_bytes, g.spill_bytes, g.gc_ms) == (
        4, 400, 120, 12, 8)
    assert g.accums["python_bytes_received"] == 28
    assert g.task_skew() == pytest.approx(4.0)
    assert groups[""].tasks == 1


def test_raw_scan_bytes_count_file_scans_not_cached_reads(tmp_path):
    log = tmp_path / "eventlog"
    log.mkdir()

    def scan(loc, acc):
        return {"nodeName": "Scan parquet", "metadata": {"Location": loc}, "children": [],
                "metrics": [{"name": "size of files read", "accumulatorId": acc}]}

    plan = {"nodeName": "Union", "metadata": {}, "metrics": [], "children": [
        scan("InMemoryFileIndex(1 paths)[file:/w/raw0.parquet]", 11),
        scan("InMemoryFileIndex(1 paths)[file:/w/store/event_log]", 12),
        {"nodeName": "InMemoryTableScan", "metadata": {}, "children": [], "metrics": []},
    ]}
    events = [
        {"Event": eventlog.SQL_START, "executionId": 3, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "recompute", "spark.sql.execution.id": "3"}},
        {"Event": eventlog.DRIVER_ACCUMS, "executionId": 3, "accumUpdates": [[11, 500], [12, 70]]},
        {"Event": eventlog.DRIVER_ACCUMS, "executionId": 3, "accumUpdates": [[11, 500]]},
        # a stage reading cached blocks: input bytes, but no file scan
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Input Metrics": {"Bytes Read": 9000}}},
    ]
    (log / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = eventlog.fold(log)["recompute"]
    assert g.scanned_bytes("/w/raw0.parquet") == 1000
    assert g.input_bytes == 9000


def test_cpu_meter_counts_a_child_process():
    import subprocess

    burn = "import time\nt = time.time()\nwhile time.time() - t < 0.5: pass"
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        meter = common.CpuMeter()
        assert child.pid in meter.pids
        before = meter.seconds()
        child.wait(timeout=30)
    finally:
        child.kill()
    # the child burned ~0.5 s; once reaped, its time moves to our cutime
    assert meter.seconds() - before >= 0.2

