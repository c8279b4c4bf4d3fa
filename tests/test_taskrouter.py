"""TaskRouter pipeline property tests (beyond the golden oracles)."""

import pytest
from pyspark.sql import functions as F


def _raw_df(spark, events_json, start_idx=0):
    rows = [(start_idx + i, s) for i, s in enumerate(events_json)]
    return spark.createDataFrame(rows, "arrival_idx bigint, raw string")


@pytest.fixture(scope="module")
def segments(spark):
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df

    return taskrouter_segments_df(spark, fixture_df(spark)).cache()


def test_duplicate_delivery_idempotent(spark):
    """Replaying the whole fixture twice (at-least-once delivery) must
    produce the identical segment set — the engine's dedup contract; the
    reference double-inserts (events.js:488)."""
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import FIXTURE_JSON

    once = taskrouter_segments_df(spark, _raw_df(spark, FIXTURE_JSON))
    twice = taskrouter_segments_df(
        spark, _raw_df(spark, FIXTURE_JSON).unionByName(
            _raw_df(spark, FIXTURE_JSON, start_idx=10_000)
        )
    )
    assert once.count() == twice.count()
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_every_accepted_reservation_yields_queue_and_conversation(segments):
    """Property (SURVEY §5.3): accepted reservation with an observed queue
    entry → exactly one QUEUE row and one CONVERSATION[/IN PROGRESS] row."""
    per_res = (
        segments.filter(F.col("reservation_sid") != "")
        .groupBy("reservation_sid")
        .pivot("segment_kind")
        .count()
    )
    rows = {r["reservation_sid"]: r.asDict() for r in per_res.collect()}
    # RS011 has no queue entry (engine policy: no QUEUE row)
    for rsid, r in rows.items():
        if rsid == "RS011":
            assert r.get("QUEUE") is None
        elif r.get("CONVERSATION") or r.get("CONVERSATION IN PROGRESS"):
            assert r.get("QUEUE") == 1, (rsid, r)


def test_measures_non_negative(segments):
    for m in ("queue_time", "ring_time", "talk_time", "wrapup_time", "abandon_time"):
        assert segments.filter(F.col(m) < 0).count() == 0, m


def test_abandoned_rows_consistent(segments):
    ab = segments.filter(F.col("abandoned") == "Yes")
    assert ab.count() == 4  # T007 + T008, QUEUE + CONVERSATION each
    assert ab.filter(F.col("abandoned_phase") != "Queue").count() == 0
    assert ab.filter(F.col("abandon_time") != F.col("queue_time")).count() == 0


def test_agent_sessions_partition_timeline(segments):
    """Each worker has exactly one open AGENT STATUS IN PROGRESS unless
    they never produced a session opener."""
    open_per_worker = (
        segments.filter(F.col("segment_kind") == "AGENT STATUS IN PROGRESS")
        .groupBy("agent_uuid")
        .count()
        .collect()
    )
    for r in open_per_worker:
        assert r["count"] == 1


def test_malformed_events_are_isolated(spark):
    """§3.1 error semantics: one bad element never aborts the batch —
    garbage rows are quarantined by the PERMISSIVE envelope parse and the
    remaining events produce the identical segment set (the reference
    try/catches per event, events.js:672-674)."""
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import FIXTURE_JSON

    garbage = [
        "not json at all",
        "{\"id\": null, \"type\": \"com.twilio.taskrouter.x\"}",
        "{\"type\": \"com.twilio.taskrouter.reservation.accepted\"}",  # no id
        "[]",
        "{\"id\": \"G-1\", \"type\": 42}",
    ]
    clean = taskrouter_segments_df(spark, _raw_df(spark, FIXTURE_JSON))
    dirty = taskrouter_segments_df(
        spark,
        _raw_df(spark, FIXTURE_JSON).unionByName(
            _raw_df(spark, garbage, start_idx=50_000)
        ),
    )
    assert clean.count() == dirty.count()
    assert clean.exceptAll(dirty).count() == 0


def test_batch_and_stream_admit_the_same_lines(spark):
    """The batch ingest and the event stream admit through one rule:
    TaskRouter types with an id, malformed lines dropped. The stream
    passes a redelivered id on (its consumers drop it); the ingest keeps
    its first arrival. ``withWatermark`` is a no-op on a batch frame."""
    import json

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        ingest_taskrouter,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        parse_stream,
    )

    def event(eid, etype, **payload):
        payload = {"timestamp": "2024-05-01T10:00:00.000Z", **payload}
        e = {"type": etype, "data": {"payload": payload}}
        if eid is not None:
            e["id"] = eid
        return json.dumps(e)

    task = event("EV-T", "com.twilio.taskrouter.task.created", eventtype="task.created",
                 task_sid="T1")
    lines = [
        task,
        event("EV-W", "com.twilio.taskrouter.worker.created", eventtype="worker.created",
              worker_sid="W1"),
        task,  # redelivered
        event("EV-X", "com.twilio.studio.flow.started", eventtype="flow.started"),
        event(None, "com.twilio.taskrouter.task.canceled", eventtype="task.canceled",
              task_sid="T1"),
        "{not json",
    ]
    raw = _raw_df(spark, lines)
    streamed = parse_stream(raw.select(F.col("raw").alias("value")))
    assert sorted(r["event_id"] for r in streamed.collect()) == ["EV-T", "EV-T", "EV-W"]
    assert sorted(r["event_id"] for r in ingest_taskrouter(raw).collect()) == ["EV-T", "EV-W"]
