"""Streaming/batch parity: the stateful streaming lifecycle must agree
with the batch recompute on every terminal segment (SURVEY §5.3)."""

import tempfile

import pytest
from pyspark.sql import functions as F

TERMINAL_KINDS = [
    "QUEUE",
    "CONVERSATION",
    "REJECTED CONVERSATION",
    "MISSED CONVERSATION",
    "REVOKED CONVERSATION",
]

PARITY_COLS = [
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


@pytest.fixture(scope="module")
def streamed(spark):
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_fixture_stream,
    )

    with tempfile.TemporaryDirectory() as d:
        yield run_fixture_stream(spark, d).cache()


def test_streaming_matches_batch_on_terminal_segments(spark, streamed):
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df

    batch = (
        taskrouter_segments_df(spark, fixture_df(spark))
        .filter(F.col("segment_kind").isin(TERMINAL_KINDS))
        .select(*PARITY_COLS)
    )
    stream = streamed.filter(F.col("segment_kind").isin(TERMINAL_KINDS)).select(
        *PARITY_COLS
    )
    assert batch.count() == stream.count()
    assert batch.exceptAll(stream).count() == 0
    assert stream.exceptAll(batch).count() == 0


def test_streaming_wide_matches_batch_all_columns(spark):
    """The wide streaming fact (shared projection over state-machine
    emissions) must equal the batch recompute on every terminal segment
    across ALL ~65 columns — not just the core measures."""
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_fixture_stream,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df

    with tempfile.TemporaryDirectory() as d:
        wide = run_fixture_stream(spark, d, wide=True).cache()

    batch = taskrouter_segments_df(spark, fixture_df(spark)).filter(
        F.col("segment_kind").isin(TERMINAL_KINDS)
    )
    stream = wide.filter(F.col("segment_kind").isin(TERMINAL_KINDS))
    assert stream.columns == batch.columns
    assert batch.count() == stream.count()
    assert batch.exceptAll(stream).count() == 0
    assert stream.exceptAll(batch).count() == 0
    # the timed-out conversation surfaces with its wide columns intact
    corrupted = wide.filter(F.col("segment_kind") == "CORRUPTED CONVERSATION").collect()
    assert len(corrupted) == 1
    assert corrupted[0]["reservation_sid"] == "RS011"
    assert corrupted[0]["queue"] is not None


def test_streaming_wide_parquet_sink_roundtrip(spark):
    """The durable wide-fact stream sink: spool the fixture through the
    full pipeline into date-partitioned parquet, read back, and match the
    batch recompute on terminal kinds (same layout as the batch sink, so
    report queries are storage-agnostic)."""
    import os

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        _spool,
        parse_stream,
        run_available_now,
        wide_conversation_segments_stream,
        write_segments_stream,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import (
        FIXTURE_EVENTS,
        fixture_df,
    )

    with tempfile.TemporaryDirectory() as d:
        indir = os.path.join(d, "in")
        ordered = sorted(FIXTURE_EVENTS, key=lambda e: e["data"]["payload"]["timestamp"])
        _spool(indir, ordered, 4)
        raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(indir)
        wide = wide_conversation_segments_stream(parse_stream(raw))
        run_available_now(
            write_segments_stream(wide, os.path.join(d, "fact"), os.path.join(d, "ck"))
        )

        back = spark.read.parquet(os.path.join(d, "fact"))
        assert "segment_date" in back.columns
        # the batch fact's row format: every durable row has its own id
        ids = back.agg(F.count("uuid").alias("n"), F.countDistinct("uuid").alias("k")).first()
        assert ids["n"] == ids["k"] == back.count() > 0
        stream = back.filter(F.col("segment_kind").isin(TERMINAL_KINDS)).drop(
            "segment_date"
        )
        batch = taskrouter_segments_df(spark, fixture_df(spark)).filter(
            F.col("segment_kind").isin(TERMINAL_KINDS)
        )
        assert stream.count() == batch.count()
        assert batch.exceptAll(stream.select(batch.columns)).count() == 0
        assert stream.select(batch.columns).exceptAll(batch).count() == 0


def test_streaming_corrupted_conversation_timeout(streamed):
    """The never-completed accepted reservation (RS011) must time out into
    CORRUPTED CONVERSATION — the reference declares the kind but can never
    produce it (events.js:30)."""
    corrupted = streamed.filter(
        F.col("segment_kind") == "CORRUPTED CONVERSATION"
    ).collect()
    assert len(corrupted) == 1
    assert corrupted[0]["reservation_sid"] == "RS011"
    assert corrupted[0]["ring_time"] == 30


def test_stream_state_machine_pure_fn_replay():
    """The per-task state machine is a pure function — replay one task's
    events split across arbitrary batch boundaries and expect identical
    emissions (cross-batch state correctness without a streaming query)."""
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        _segment_rows_for_task,
    )

    events = [
        {"eventtype": "task-queue.entered", "ts": "2024-05-01T10:00:00.100000",
         "task_sid": "T", "reservation_sid": None, "worker_sid": None,
         "custom_conversation_id": None},
        {"eventtype": "reservation.created", "ts": "2024-05-01T10:00:05.900000",
         "task_sid": "T", "reservation_sid": "R", "worker_sid": "W",
         "custom_conversation_id": None},
        {"eventtype": "reservation.accepted", "ts": "2024-05-01T10:00:15.400000",
         "task_sid": "T", "reservation_sid": "R", "worker_sid": "W",
         "custom_conversation_id": None},
        {"eventtype": "reservation.completed", "ts": "2024-05-01T10:06:00.200000",
         "task_sid": "T", "reservation_sid": "R", "worker_sid": "W",
         "custom_conversation_id": None},
    ]
    one_shot, st1 = _segment_rows_for_task(list(events), {}, timed_out=False)
    # replay split at every boundary
    for cut in range(1, len(events)):
        st: dict = {}
        rows = []
        r1, st = _segment_rows_for_task(events[:cut], st, timed_out=False)
        r2, st = _segment_rows_for_task(events[cut:], st, timed_out=False)
        rows = r1 + r2
        assert rows == one_shot, f"split at {cut} diverged"
        assert st == st1


def test_foreachbatch_agents_upsert_matches_batch(spark):
    """SURVEY Phase 2 item 12: the incremental foreachBatch dimension
    upsert, fed the fixture in chronological micro-batches, must converge
    to the same rows as the one-shot batch recompute."""
    import os
    import tempfile

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_agents_df,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        _spool,
        agents_upsert_sink,
        run_available_now,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import (
        FIXTURE_EVENTS,
        fixture_df,
    )

    with tempfile.TemporaryDirectory() as d:
        indir = os.path.join(d, "in")
        ordered = sorted(FIXTURE_EVENTS, key=lambda e: e["data"]["payload"]["timestamp"])
        _spool(indir, ordered, 4)

        raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(indir)
        dim_path = os.path.join(d, "agents_dim")
        run_available_now(
            agents_upsert_sink(spark, raw, dim_path).option(
                "checkpointLocation", os.path.join(d, "ckpt")
            )
        )

        streamed = spark.read.parquet(dim_path).drop("last_ts")
        batch = taskrouter_agents_df(spark, fixture_df(spark))
        assert streamed.count() == batch.count()
        assert streamed.select(batch.columns).exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed.select(batch.columns)).count() == 0


def test_kafka_source_config(spark):
    """The Kafka reader builds with the right options; .load() needs the
    connector jar, which this environment doesn't bundle — assert the
    clean missing-data-source failure rather than a config error. If a
    cluster provides the jar, the load path is the tested parse_stream."""
    import pytest

    from twilio_event_streams_reporting_example_spark.streaming.kafka_source import (
        kafka_cloudevents_reader,
        kafka_events_stream,
    )

    reader = kafka_cloudevents_reader(
        spark, "broker:9092", "cloudevents", max_offsets_per_trigger=100_000
    )
    assert reader is not None
    try:
        df = kafka_events_stream(spark, "broker:9092", "cloudevents")
    except Exception as e:
        msg = str(e).lower()
        assert "kafka" in msg, f"unexpected failure class: {e}"
    else:
        # connector present: the parsed stream has the shared contract cols
        assert {"event_id", "eventtype", "ts"} <= set(df.columns)


def test_bucketed_lifecycle_matches_per_task(spark, tmp_path):
    """State-sharded lifecycle (one state doc per hash bucket of tasks,
    the throughput path) must emit EXACTLY the per-task variant's rows
    on the full fixture — including the event-time-timeout CORRUPTED
    conversations, whose bucketed reap predicate (own deadline vs
    current watermark at each min-deadline firing) must match Spark's
    per-key timeout semantics micro-batch for micro-batch. buckets=8
    with the fixture's task count forces real multi-task shards."""
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_fixture_stream,
    )

    got = run_fixture_stream(spark, str(tmp_path), buckets=8).cache()
    base = run_fixture_stream(spark, str(tmp_path / "base")).cache()
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in base.collect()}
    assert g == b, (g - b, b - g)
    # CORRUPTED rows specifically must survive the sharded timeout path
    corrupted = [r for r in b if "CORRUPTED" in str(r)]
    assert corrupted, "fixture must exercise the timeout path"


@pytest.mark.parametrize("seed", [1106, 2207])
def test_bucketed_lifecycle_fuzz_parity(spark, tmp_path, seed):
    """Randomized scenario mix (the batch fuzz generator: jittered
    timings, dropped events, dual accepts, cancels, transfers) through
    BOTH stream keyings — per-task and 4-bucket sharded (tiny bucket
    count maximizes tasks-per-shard interleaving). Set-equality of all
    emitted rows; random timings make the timeout reap order genuinely
    adversarial rather than fixture-shaped."""
    from tests.test_fuzz_parity import _gen_events

    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_fixture_stream,
    )

    events = _gen_events(seed=seed, n_tasks=40)
    got = run_fixture_stream(
        spark, str(tmp_path / "bkt"), buckets=4, events_in=events
    ).cache()
    base = run_fixture_stream(
        spark, str(tmp_path / "per"), events_in=events
    ).cache()
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in base.collect()}
    assert b, "fuzz scenarios must emit rows"
    assert g == b, (len(g), len(b), list(g - b)[:3], list(b - g)[:3])


def _ce(seed: str, n: int, et: str, ts, **payload) -> dict:
    """Minimal CloudEvent constructor (same shape as the fuzz generator)."""
    p = {"eventtype": et,
         "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"}
    p.update({k: v for k, v in payload.items() if v is not None})
    return {"id": f"{seed}-{n}", "type": f"com.twilio.taskrouter.{et}",
            "data": {"payload": p}}


def test_bucketed_coresident_expired_task_reaped(spark, tmp_path):
    """Regression for the data-branch reap: a task whose deadline passed
    the watermark while its SHARD keeps receiving data for OTHER tasks
    must still time out that micro-batch (per-task keying would have
    fired hasTimedOut for it — the shard, having data, never does). If
    it isn't reaped, a later event for the task continues the stale
    conversation instead of the per-task behavior (CORRUPTED emission,
    then fresh state), and the two keyings diverge. buckets=1 forces
    co-residency; one event per file makes every event its own
    micro-batch, so the boundaries are deterministic:
      A opens (accepted 08:00:10, deadline 08:10:10); B's 08:25 event
      advances the watermark to 08:15; B's NEXT event (08:26) is the
      batch where per-task fires A's timeout — the shard has B data, so
      only the data-branch reap can match it; then A's late completed
      (08:30) must land on fresh state.
    """
    import datetime as dt

    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_fixture_stream,
    )

    t0 = dt.datetime(2024, 7, 1, 8, 0, 0)
    common = dict(task_queue_name="Q", task_queue_sid="WQ", workflow_name="WF",
                  task_channel_unique_name="voice")
    evs = [
        # batch 1: A opens an IN PROGRESS conversation; B enters the queue
        _ce("RP", 1, "task-queue.entered", t0, task_sid="TA", **common),
        _ce("RP", 2, "reservation.created", t0 + dt.timedelta(seconds=2),
            task_sid="TA", reservation_sid="RA", worker_sid="W1", **common),
        _ce("RP", 3, "reservation.accepted", t0 + dt.timedelta(seconds=10),
            task_sid="TA", reservation_sid="RA", worker_sid="W1", **common),
        _ce("RP", 4, "task-queue.entered", t0 + dt.timedelta(seconds=5),
            task_sid="TB", **common),
        # batch 2: B activity far enough ahead that the watermark
        # (ts - 10min) passes A's deadline (last_ts + 10min = 08:10:10)
        _ce("RP", 5, "reservation.created", t0 + dt.timedelta(minutes=25),
            task_sid="TB", reservation_sid="RB", worker_sid="W2", **common),
        # batch 3: B data only — the shard has data, A has none
        _ce("RP", 6, "reservation.accepted", t0 + dt.timedelta(minutes=26),
            task_sid="TB", reservation_sid="RB", worker_sid="W2", **common),
        # batch 4: late event for A — per-task semantics: fresh state
        _ce("RP", 7, "reservation.completed", t0 + dt.timedelta(minutes=30),
            task_sid="TA", reservation_sid="RA", worker_sid="W1", **common),
        # and close B so both runs terminalize it identically
        _ce("RP", 8, "reservation.completed", t0 + dt.timedelta(minutes=31),
            task_sid="TB", reservation_sid="RB", worker_sid="W2", **common),
    ]
    got = run_fixture_stream(
        spark, str(tmp_path / "bkt"), files=len(evs), buckets=1, events_in=evs
    ).cache()
    base = run_fixture_stream(
        spark, str(tmp_path / "per"), files=len(evs), events_in=evs
    ).cache()
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in base.collect()}
    assert any("CORRUPTED" in str(r) for r in b), "scenario must force A's timeout"
    assert g == b, (list(g - b)[:4], list(b - g)[:4])


def test_bucketed_lifecycle_hot_shard_fuzz(spark, tmp_path):
    """Skewed-shard fuzz: remap the fuzz generator's task sids so a
    large majority hash into ONE of 4 buckets (hot shard holds most open
    tasks), then assert exact row parity with the per-task keying AND
    that both keyings retain the SAME set of open tasks in their state
    stores afterwards (the sharded state is watermark-bounded exactly
    when the per-task state is)."""
    import json as _json

    from pyspark.sql import functions as F

    from tests.test_fuzz_parity import _gen_events
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_fixture_stream,
    )

    events = _gen_events(seed=3141, n_tasks=40)
    # choose replacement sids whose xxhash64 lands ~90% in bucket 0 of 4
    cand = spark.createDataFrame(
        [(f"HOT{i}",) for i in range(400)], ["sid"]
    ).withColumn("b", F.pmod(F.xxhash64("sid"), F.lit(4)))
    by_bucket: dict[int, list[str]] = {}
    for r in cand.collect():
        by_bucket.setdefault(int(r["b"]), []).append(r["sid"])
    hot = by_bucket[0][:36]
    cold = [by_bucket[b][i] for i, b in enumerate([1, 2, 3, 1])]
    orig = sorted({e["data"]["payload"]["task_sid"] for e in events
                   if "task_sid" in e["data"]["payload"]})
    assert len(orig) == 40
    mapping = dict(zip(orig, hot + cold))
    for e in events:
        p = e["data"]["payload"]
        if "task_sid" in p:
            p["task_sid"] = mapping[p["task_sid"]]
    got = run_fixture_stream(
        spark, str(tmp_path / "bkt"), buckets=4, events_in=events
    ).cache()
    base = run_fixture_stream(
        spark, str(tmp_path / "per"), events_in=events
    ).cache()
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in base.collect()}
    assert b and g == b, (len(g), len(b), list(g - b)[:3], list(b - g)[:3])

    # state-store parity: the open-task sets must be identical, so the
    # hot shard's document holds exactly the per-task survivors (state
    # growth bounded by the same watermark reaping in both keyings)
    def _open_tasks(ckpt: str) -> set:
        # the lifecycle is the only stateful operator; probe operator
        # ids for the one whose value carries state_json
        rows = None
        for op_id in range(4):
            try:
                df = (
                    spark.read.format("statestore")
                    .option("operatorId", op_id)
                    .load(f"{ckpt}/ckpt")
                )
                if "groupState" in df.schema["value"].dataType.fieldNames():
                    rows = df.select("key", "value").collect()
                    break
            except Exception:
                continue
        assert rows is not None, "lifecycle state store not found"
        out: set = set()
        for r in rows:
            gs = r["value"]["groupState"]
            if gs is None or gs["state_json"] is None:
                continue
            out.update(_json.loads(gs["state_json"])["t"])
        return out

    assert _open_tasks(str(tmp_path / "bkt")) == _open_tasks(str(tmp_path / "per"))


@pytest.mark.parametrize("buckets", [None, 4], ids=["per_task", "bucketed"])
def test_redelivery_to_closed_task_emits_once(spark, tmp_path, buckets):
    """A task that holds nothing open after its first micro-batch (a
    task.canceled with no queue entry emits its CONVERSATION row at
    once) gets its event redelivered in the next micro-batch. The copy
    is inside the watermark, so only the task's state can drop it:
    each keying must emit the row exactly once."""
    import datetime as dt

    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_fixture_stream,
    )

    t0 = dt.datetime(2024, 7, 1, 8, 0, 0)
    canceled = _ce("RD", 1, "task.canceled", t0, task_sid="TC",
                   task_queue_name="Q", task_queue_sid="WQ",
                   workflow_name="WF", task_channel_unique_name="voice")
    got = run_fixture_stream(
        spark, str(tmp_path), files=2, buckets=buckets,
        events_in=[canceled, canceled], keep_order=True,
    ).collect()
    assert [(r["segment_kind"], r["conversation_id"]) for r in got] == [
        ("CONVERSATION", "TC")
    ], got


@pytest.mark.parametrize(
    "provider,buckets",
    [
        (None, None),
        (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            None,
        ),
        (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            8,
        ),
    ],
    ids=["hdfs-default", "rocksdb", "rocksdb-bucketed"],
)
def test_streaming_restart_exactly_once(spark, provider, buckets):
    """Failure-recovery contract: stop the streaming pipeline mid-fixture,
    then restart from the SAME checkpoint with the remaining files PLUS a
    redelivered copy of already-processed events. The stateful lifecycle,
    dedup state, and file-source progress all live in the checkpoint, so
    the restarted run must resume without reprocessing (file log), and
    the redelivered stale events must be discarded (watermark/dedup) —
    the durable fact ends exactly equal to the batch recompute.

    Runs under BOTH state-store providers: the default HDFS-backed store
    and RocksDB — the provider a large deployment uses once lifecycle +
    dedup state outgrow executor heap (state is spilled/compacted off-
    heap and checkpointed incrementally). The rocksdb-bucketed case
    restarts the STATE-SHARDED keying (multi-task state documents +
    min-deadline timer must both come back from the checkpoint) —
    certifying the throughput path recovers exactly-once too."""
    import json
    import os
    import shutil

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        parse_stream,
        run_available_now,
        wide_conversation_segments_stream,
        write_segments_stream,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import (
        FIXTURE_EVENTS,
        fixture_df,
    )

    def run_once(indir, fact, ck):
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(indir)
        )
        wide = wide_conversation_segments_stream(parse_stream(raw), buckets=buckets)
        run_available_now(write_segments_stream(wide, fact, ck))

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    if provider is not None:
        spark.conf.set(provider_key, provider)
    try:
        _restart_body(spark, run_once)
    finally:
        if provider is not None:
            if prev is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prev)


def _restart_body(spark, run_once):
    import json
    import os
    import shutil

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import (
        FIXTURE_EVENTS,
        fixture_df,
    )

    with tempfile.TemporaryDirectory() as d:
        indir, fact, ck = (os.path.join(d, p) for p in ("in", "fact", "ck"))
        os.makedirs(indir)
        ordered = sorted(
            FIXTURE_EVENTS, key=lambda e: e["data"]["payload"]["timestamp"]
        )
        half = len(ordered) // 2
        chunk = max(1, (len(ordered) + 5) // 6)

        def spool(events, tag, mt):
            for i in range(0, len(events), chunk):
                p = os.path.join(indir, f"part-{tag}-{i:04d}.json")
                with open(p, "w") as f:
                    for e in events[i : i + chunk]:
                        f.write(json.dumps(e) + "\n")
                os.utime(p, (mt + i, mt + i))

        spool(ordered[:half], "a", 1_700_000_000)
        run_once(indir, fact, ck)  # run 1: first half, then "crash"

        # redeliver ALL of run 1's events (at-least-once upstream), plus
        # the remainder, into the same source dir; restart same checkpoint
        spool(ordered[:half], "redeliver", 1_700_100_000)
        spool(ordered[half:], "b", 1_700_200_000)
        run_once(indir, fact, ck)  # run 2: resumes from checkpoint

        back = spark.read.parquet(fact)
        stream = back.filter(F.col("segment_kind").isin(TERMINAL_KINDS)).drop(
            "segment_date"
        )
        batch = taskrouter_segments_df(spark, fixture_df(spark)).filter(
            F.col("segment_kind").isin(TERMINAL_KINDS)
        )
        assert stream.count() == batch.count()
        assert batch.exceptAll(stream.select(batch.columns)).count() == 0
        assert stream.select(batch.columns).exceptAll(batch).count() == 0
        shutil.rmtree(fact, ignore_errors=True)


def test_agent_status_restart_exactly_once(spark):
    """Checkpoint-restart for the worker-keyed agent-status lifecycle:
    crash mid-fixture, redeliver already-processed events, restart from
    the same checkpoint — the durable AGENT STATUS rows must equal the
    batch recompute exactly (open-interval state and dedup progress both
    recover; redelivered events are discarded)."""
    import json
    import os
    import shutil

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        parse_stream,
        run_available_now,
        wide_agent_status_stream,
        write_segments_stream,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import (
        FIXTURE_EVENTS,
        fixture_df,
    )

    with tempfile.TemporaryDirectory() as d:
        indir, fact, ck = (os.path.join(d, p) for p in ("in", "fact", "ck"))
        os.makedirs(indir)
        ordered = sorted(
            FIXTURE_EVENTS, key=lambda e: e["data"]["payload"]["timestamp"]
        )
        half = len(ordered) // 2
        chunk = max(1, (len(ordered) + 5) // 6)

        def spool(events, tag, mt):
            for i in range(0, len(events), chunk):
                p = os.path.join(indir, f"part-{tag}-{i:04d}.json")
                with open(p, "w") as f:
                    for e in events[i : i + chunk]:
                        f.write(json.dumps(e) + "\n")
                os.utime(p, (mt + i, mt + i))

        def run_once():
            raw = (
                spark.readStream.format("text")
                .option("maxFilesPerTrigger", 1)
                .load(indir)
            )
            wide = wide_agent_status_stream(parse_stream(raw))
            run_available_now(write_segments_stream(wide, fact, ck))

        spool(ordered[:half], "a", 1_700_000_000)
        run_once()
        spool(ordered[:half], "redeliver", 1_700_100_000)
        spool(ordered[half:], "b", 1_700_200_000)
        run_once()

        back = spark.read.parquet(fact).drop("segment_date")
        stream = back.filter(F.col("segment_kind") == "AGENT STATUS")
        batch = taskrouter_segments_df(spark, fixture_df(spark)).filter(
            F.col("segment_kind") == "AGENT STATUS"
        )
        assert batch.count() > 0
        assert stream.count() == batch.count()
        assert batch.exceptAll(stream.select(batch.columns)).count() == 0
        assert stream.select(batch.columns).exceptAll(batch).count() == 0
        shutil.rmtree(fact, ignore_errors=True)


def test_kafka_wire_schema_end_to_end(spark, tmp_path):
    """The Kafka path minus only the broker: fixture CloudEvents encoded
    in Kafka's EXACT source schema (key/value binary, topic, partition,
    offset, broker timestamp) stream through
    cloudevents_from_kafka_records → the stateful lifecycle, and must
    emit the same segments as the certified text-file harness — proving
    the wire-format adaptation loses/adds nothing and transport metadata
    is correctly ignored."""
    import json
    import os

    from pyspark.sql import functions as F

    from twilio_event_streams_reporting_example_spark.streaming.kafka_source import (
        cloudevents_from_kafka_records,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        conversation_segments_stream,
        run_available_now,
        run_fixture_stream,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import (
        FIXTURE_EVENTS,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    indir = str(tmp_path / "kafka_in")
    os.makedirs(indir)
    ordered = sorted(FIXTURE_EVENTS, key=lambda e: e["data"]["payload"]["timestamp"])
    kafka_schema = (
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int"
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_schema = pa.schema(
        [
            ("key", pa.binary()),
            ("value", pa.binary()),
            ("topic", pa.string()),
            ("partition", pa.int32()),
            ("offset", pa.int64()),
            ("timestamp", pa.timestamp("us")),
            ("timestampType", pa.int32()),
        ]
    )
    files = 6
    chunk = max(1, (len(ordered) + files - 1) // files)
    for i in range(0, len(ordered), chunk):
        batch = ordered[i : i + chunk]
        table = pa.table(
            {
                "key": [
                    (e["data"]["payload"].get("task_sid") or "k").encode()
                    for e in batch
                ],
                "value": [json.dumps(e).encode() for e in batch],
                "topic": ["cloudevents"] * len(batch),
                "partition": [idx % 3 for idx in range(len(batch))],
                "offset": [i + idx for idx in range(len(batch))],
                # broker timestamp: engine must not read it
                "timestamp": [None] * len(batch),
                "timestampType": [0] * len(batch),
            },
            schema=pa_schema,
        )
        p = os.path.join(indir, f"batch-{i:04d}.parquet")
        pq.write_table(table, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    raw = (
        spark.readStream.schema(kafka_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    seg = conversation_segments_stream(cloudevents_from_kafka_records(raw))
    run_available_now(
        seg.writeStream.format("memory")
        .queryName("tr_kafka_wire_segments")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
    )
    got = spark.table("tr_kafka_wire_segments")
    want = run_fixture_stream(spark, str(tmp_path / "textref"))
    want = want.select(*got.columns)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    assert got.count() > 0


def test_streaming_agent_status_matches_batch(spark, tmp_path):
    """The worker-keyed agent-status lifecycle (the one §2.5 transition
    the task-keyed stream could not carry) must emit exactly the batch
    recompute's terminal AGENT STATUS rows — all wide columns, carrier =
    the opener event, activity_time = the closing event's
    worker_time_in_previous_activity (reference events.js:639-664). The
    combined stream must also still carry every conversation row."""
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_fixture_stream,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df

    combined = run_fixture_stream(
        spark, str(tmp_path), wide=True, agent=True
    ).cache()
    batch = taskrouter_segments_df(spark, fixture_df(spark)).cache()

    s_agent = combined.filter(F.col("segment_kind") == "AGENT STATUS")
    b_agent = batch.filter(F.col("segment_kind") == "AGENT STATUS")
    assert b_agent.count() > 0, "fixture must close at least one interval"
    assert s_agent.columns == b_agent.columns
    assert b_agent.exceptAll(s_agent).count() == 0
    assert s_agent.exceptAll(b_agent).count() == 0

    # conversation rows are unaffected by the union
    s_conv = combined.filter(F.col("segment_kind").isin(TERMINAL_KINDS))
    b_conv = batch.filter(F.col("segment_kind").isin(TERMINAL_KINDS))
    assert b_conv.count() == s_conv.count()
    assert b_conv.exceptAll(s_conv).count() == 0


def test_streaming_agent_status_fuzz_parity(spark, tmp_path):
    """Randomized worker scenario mix through the streaming agent-status
    lifecycle vs the batch sessionization — terminal AGENT STATUS rows
    must agree on every wide column under jittered timings and shuffled
    arrival."""
    from tests.test_fuzz_parity import _gen_events

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    import json

    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_fixture_stream,
    )

    events = _gen_events(seed=2718, n_tasks=30)
    streamed = run_fixture_stream(
        spark, str(tmp_path), wide=True, agent=True, events_in=events
    ).cache()
    raw = spark.createDataFrame(
        [(i, json.dumps(e)) for i, e in enumerate(events)],
        "arrival_idx bigint, raw string",
    )
    batch = taskrouter_segments_df(spark, raw)
    s = streamed.filter(F.col("segment_kind") == "AGENT STATUS")
    b = batch.filter(F.col("segment_kind") == "AGENT STATUS").cache()
    assert b.count() > 0, "fuzz mix must close agent intervals"
    assert b.exceptAll(s).count() == 0
    assert s.exceptAll(b).count() == 0


def test_lifecycle_buckets_derivation():
    """The shard-count rule is API, not prose: state-bound dominates at
    high open-task counts, parallelism-bound at high core counts, always
    a power of two, and the default constant satisfies the rule for the
    documented design point (64k open tasks on a 32-core executor)."""
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        LIFECYCLE_BUCKETS,
        LIFECYCLE_TARGET_TASKS_PER_SHARD,
        lifecycle_buckets,
    )

    # state-bound: 1M open tasks / 64 per shard -> 16384 shards
    assert lifecycle_buckets(1_000_000, cores=32) == 16384
    # parallelism-bound: few open tasks, many cores -> 4/core, pow2
    assert lifecycle_buckets(10, cores=100) == 512
    assert lifecycle_buckets(1, cores=1) == 4
    # powers of two throughout
    for n in (3, 100, 5000, 777_777):
        b = lifecycle_buckets(n, cores=8)
        assert b & (b - 1) == 0
    # the shipped default is the rule's output at the design point
    assert lifecycle_buckets(
        LIFECYCLE_TARGET_TASKS_PER_SHARD * 1024, cores=32
    ) == LIFECYCLE_BUCKETS


def test_agent_status_idle_ttl_bounds_state(spark, tmp_path):
    """State-boundedness under worker churn: with idle_ttl armed, a
    worker whose open interval sits idle past the horizon has its state
    silently CLEARED (no emission — emissions stay batch-identical), so
    a post-horizon activity change opens fresh instead of closing the
    ancient interval. Default (no ttl) keeps the interval open
    indefinitely and the late change still closes it — exact batch
    semantics. Both behaviors asserted on the same event sequence."""
    import datetime as dt

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        wide_project_stream,
    )
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        _spool,
        agent_status_emissions_stream,
        parse_stream,
        run_available_now,
    )

    t0 = dt.datetime(2024, 7, 1, 8, 0, 0)
    evs = [
        _ce("TT", 1, "worker.created", t0, worker_sid="W1",
            worker_activity_name="Offline"),
        _ce("TT", 2, "worker.activity.update", t0 + dt.timedelta(minutes=1),
            worker_sid="W1", worker_activity_name="Available",
            worker_time_in_previous_activity=60),
        # other-worker traffic 3 days later advances the watermark far
        # past W1's 1-day idle horizon while W1's group has no data
        _ce("TT", 3, "worker.created", t0 + dt.timedelta(days=3),
            worker_sid="W2", worker_activity_name="Offline"),
        _ce("TT", 4, "worker.activity.update",
            t0 + dt.timedelta(days=3, minutes=5), worker_sid="W2",
            worker_activity_name="Available",
            worker_time_in_previous_activity=300),
        # post-horizon activity change for W1
        _ce("TT", 5, "worker.activity.update",
            t0 + dt.timedelta(days=3, hours=1), worker_sid="W1",
            worker_activity_name="Break",
            worker_time_in_previous_activity=262740),
    ]

    def run(name: str, idle_ttl):
        indir = str(tmp_path / f"in_{name}")
        _spool(indir, evs, len(evs))
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(indir)
        )
        seg = wide_project_stream(
            agent_status_emissions_stream(parse_stream(raw), idle_ttl=idle_ttl)
        )
        run_available_now(
            seg.writeStream.format("memory")
            .queryName(f"agent_ttl_{name}")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .outputMode("append")
        )
        return spark.sql(
            f"SELECT agent_uuid, date, activity_time FROM agent_ttl_{name}"
        ).collect()

    with_ttl = run("ttl", dt.timedelta(days=1))
    default = run("default", None)

    w1_ttl = sorted((str(r["date"]), r["activity_time"])
                    for r in with_ttl if r["agent_uuid"] == "W1")
    w1_def = sorted((str(r["date"]), r["activity_time"])
                    for r in default if r["agent_uuid"] == "W1")
    # both close interval 1 (created -> first update)
    assert ("2024-07-01 08:00:00", 60) in w1_ttl
    assert ("2024-07-01 08:00:00", 60) in w1_def
    # only the default run closes the 3-day interval (carrier = the
    # t0+1min opener, activity_time from the post-horizon event)
    assert ("2024-07-01 08:01:00", 262740) in w1_def
    assert len(w1_def) == 2
    assert len(w1_ttl) == 1, w1_ttl  # ttl cleared the ancient interval
    # W2 unaffected in both
    assert sum(1 for r in with_ttl if r["agent_uuid"] == "W2") == 1
    assert sum(1 for r in default if r["agent_uuid"] == "W2") == 1


class FakeState:
    """A GroupState stand-in for unit tests of the state functions. It
    records the armed timeout and rejects one behind the watermark, the
    rule of PySpark's own ``GroupState.setTimeoutTimestamp``."""

    hasTimedOut = False

    def __init__(self, watermark_ms):
        self._wm = watermark_ms
        self.armed = None
        self.stored = None

    @property
    def exists(self):
        return self.stored is not None

    @property
    def get(self):
        return self.stored

    def update(self, tup):
        self.stored = tup

    def remove(self):
        self.stored = None

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ts_ms):
        if ts_ms < self._wm:
            raise ValueError(f"timeout {ts_ms} < watermark {self._wm}")
        self.armed = ts_ms


def test_agent_status_idle_ttl_timeout_clamped_to_watermark():
    """A late worker event whose ts + idle_ttl is already at/behind the
    current watermark must re-arm at watermark+1 (Spark rejects past
    event-time timeout timestamps, failing the whole query) — unit-level
    on the factory fn with a fake GroupState, no streaming query."""
    import datetime as dt
    import json

    import pandas as pd

    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        _agent_status_fn_factory,
    )

    # watermark is 3 days past the late event; idle_ttl=1h puts the
    # natural expiry far behind it
    ev_ts = dt.datetime(2024, 7, 1, 8, 0, 0)
    wm_ms = int(
        (ev_ts + dt.timedelta(days=3)).replace(tzinfo=dt.timezone.utc).timestamp()
        * 1000
    )
    pdf = pd.DataFrame(
        {
            "eventtype": ["worker.activity.update"],
            "ts": [pd.Timestamp(ev_ts)],
            "task_sid": [None],
            "reservation_sid": [None],
            "worker_sid": ["W1"],
            "wtip": [60],
            "value": ["raw"],
            "event_id": ["E1"],
        }
    )
    fn = _agent_status_fn_factory(dt.timedelta(hours=1))
    state = FakeState(wm_ms)
    list(fn(("W1",), iter([pdf]), state))
    assert state.armed == wm_ms + 1
    assert state.stored is not None and json.loads(state.stored[0])["ts"]

    # and a fresh event ahead of the watermark arms the natural expiry
    state2 = FakeState(watermark_ms=0)
    list(fn(("W1",), iter([pdf]), state2))
    expected = int(
        (ev_ts + dt.timedelta(hours=1)).replace(tzinfo=dt.timezone.utc).timestamp()
        * 1000
    )
    assert state2.armed == expected


def test_bucketed_rearm_clamps_to_watermark_plus_one():
    """A shard whose remaining min deadline EQUALS the current watermark
    must re-arm at watermark+1, the rule the agent-status function
    follows too: PySpark's GroupState.setTimeoutTimestamp rejects
    only ts < watermark, so a deadline at the watermark would otherwise
    be armed as is. A deadline ahead of the watermark arms unchanged."""
    import datetime as dt
    import json

    import pandas as pd

    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        CONVERSATION_TIMEOUT,
        _lifecycle_fn,
    )

    def ms(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)

    t0 = dt.datetime(2024, 7, 1, 8, 0, 0)
    # two co-resident tasks open in one shard; TA's deadline is the min
    pdf = pd.DataFrame(
        {
            "eventtype": ["task-queue.entered", "task-queue.entered"],
            "ts": [pd.Timestamp(t0), pd.Timestamp(t0 + dt.timedelta(minutes=1))],
            "task_sid": ["TA", "TB"],
            "reservation_sid": [None, None],
            "worker_sid": [None, None],
            "value": ["raw-a", "raw-b"],
            "event_id": ["E1", "E2"],
        }
    )
    min_deadline = ms(t0 + CONVERSATION_TIMEOUT)

    at_wm = FakeState(min_deadline)
    assert list(_lifecycle_fn((0,), iter([pdf]), at_wm)) == []
    assert sorted(json.loads(at_wm.stored[0])["t"]) == ["TA", "TB"]
    assert at_wm.armed == min_deadline + 1

    ahead = FakeState(min_deadline - 60_000)
    list(_lifecycle_fn((0,), iter([pdf]), ahead))
    assert ahead.armed == min_deadline


def test_lifecycle_state_drops_redelivered_event_ids():
    """The lifecycle drops redelivered CloudEvents in its own state
    (``_unapplied_events``): a copy in the same micro-batch is skipped,
    and so is a copy in a later one. A task with nothing open keeps its
    state, ids included, until its deadline under both groupings (a
    one-task group and a shard), so a redelivered terminal event cannot
    emit its segment twice."""
    import datetime as dt

    import pandas as pd

    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        CONVERSATION_TIMEOUT,
        _lifecycle_fn,
        _segment_rows_for_task,
        _unapplied_events,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter import schema as S

    t0 = dt.datetime(2024, 7, 1, 8, 0, 0)

    def ev(eid, et, sec, rsid=None):
        return {
            "eventtype": et,
            "ts": (t0 + dt.timedelta(seconds=sec)).isoformat(),
            "task_sid": "T",
            "reservation_sid": rsid,
            "worker_sid": None,
            "custom_segment_link": None,
            "wtip": None,
            "raw": f"raw-{eid}",
            "arrival_idx": None,
            "event_id": eid,
        }

    st: dict = {}
    created = ev("E1", S.ET_RESERVATION_CREATED, 0, "R")
    rejected = ev("E2", S.ET_RESERVATION_REJECTED, 5, "R")
    fresh = _unapplied_events([created, rejected, dict(rejected)], st)
    assert [e["event_id"] for e in fresh] == ["E1", "E2"]
    rows, st = _segment_rows_for_task(fresh, st, timed_out=False)
    assert [r["segment_kind"] for r in rows] == [S.CONVO_REJECTED]
    # next batch: the copy is skipped, the new event applies
    fresh = _unapplied_events([dict(rejected), ev("E3", S.ET_TASK_CANCELED, 9)], st)
    assert [e["event_id"] for e in fresh] == ["E3"]
    rows, st = _segment_rows_for_task(fresh, st, timed_out=False)
    assert [r["segment_kind"] for r in rows] == [S.CONVO_SEG]
    assert st["ids"] == ["E1", "E2", "E3"]

    def ms(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)

    # a task.canceled with no queue entry closes the task at once
    pdf = pd.DataFrame(
        {
            "eventtype": [S.ET_TASK_CANCELED],
            "ts": [pd.Timestamp(t0)],
            "task_sid": ["T"],
            "reservation_sid": [None],
            "worker_sid": [None],
            "value": ["raw-c1"],
            "event_id": ["C1"],
        }
    )
    for key in (("T",), (0,)):
        state = FakeState(ms(t0) - 600_000)
        first = list(_lifecycle_fn(key, iter([pdf]), state))
        assert [len(d) for d in first] == [1], key
        # nothing is open, yet the state stays until the task's deadline
        assert state.exists, key
        assert state.armed == ms(t0 + CONVERSATION_TIMEOUT), key
        assert list(_lifecycle_fn(key, iter([pdf.copy()]), state)) == [], key


def test_lifecycle_timeout_reaps_expired_tasks_only():
    """The timeout branch of the lifecycle state function. A one-task
    group past its deadline emits CORRUPTED CONVERSATION for its open
    accepted reservation and removes its state; a shard holding one
    expired and one live task reaps only the expired task and re-arms
    at the live task's deadline."""
    import datetime as dt
    import json

    import pandas as pd

    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        CONVERSATION_TIMEOUT,
        _lifecycle_fn,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter import schema as S

    def ms(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)

    t0 = dt.datetime(2024, 7, 1, 8, 0, 0)

    def accepted(task, rsid, at):
        # created, then accepted: an open conversation with no terminal
        return pd.DataFrame(
            {
                "eventtype": [S.ET_RESERVATION_CREATED, S.ET_RESERVATION_ACCEPTED],
                "ts": [pd.Timestamp(at), pd.Timestamp(at + dt.timedelta(seconds=5))],
                "task_sid": [task, task],
                "reservation_sid": [rsid, rsid],
                "worker_sid": ["W", "W"],
                "value": [f"raw-{rsid}-created", f"raw-{rsid}-accepted"],
                "event_id": [f"{rsid}-1", f"{rsid}-2"],
            }
        )

    def timed_out(stored, watermark_ms):
        state = FakeState(watermark_ms)
        state.stored = stored
        state.hasTimedOut = True
        return state

    deadline_a = ms(t0 + dt.timedelta(seconds=5) + CONVERSATION_TIMEOUT)
    one = FakeState(ms(t0) - 600_000)
    assert list(_lifecycle_fn(("TA",), iter([accepted("TA", "RA", t0)]), one)) == []
    assert one.armed == deadline_a
    fired = timed_out(one.stored, deadline_a + 1)
    (out,) = _lifecycle_fn(("TA",), iter([]), fired)
    assert list(out["segment_kind"]) == [S.CONVO_CORRUPTED]
    assert list(out["carrier_raw"]) == ["raw-RA-accepted"]
    assert not fired.exists

    later = t0 + dt.timedelta(minutes=5)
    deadline_b = ms(later + dt.timedelta(seconds=5) + CONVERSATION_TIMEOUT)
    shard = FakeState(ms(t0) - 600_000)
    both = pd.concat(
        [accepted("TA", "RA", t0), accepted("TB", "RB", later)], ignore_index=True
    )
    assert list(_lifecycle_fn((0,), iter([both]), shard)) == []
    assert shard.armed == deadline_a
    fired = timed_out(shard.stored, deadline_a + 1)
    (out,) = _lifecycle_fn((0,), iter([]), fired)
    assert list(out["segment_kind"]) == [S.CONVO_CORRUPTED]
    assert list(out["carrier_raw"]) == ["raw-RA-accepted"]
    assert sorted(json.loads(fired.stored[0])["t"]) == ["TB"]
    assert fired.armed == deadline_b


def test_agent_status_machine_pure_fn_replay():
    """The per-worker agent-status machine is a pure function — replay
    one worker's openers split at every batch boundary and expect
    identical emissions and final open state (cross-batch state
    correctness without a streaming query)."""
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        _agent_rows_for_worker,
    )

    events = [
        {"eventtype": "worker.created", "ts": "2024-05-01T09:00:00.500000",
         "raw": "raw-created", "wtip": None},
        {"eventtype": "worker.activity.update", "ts": "2024-05-01T09:05:00.250000",
         "raw": "raw-upd-1", "wtip": 300},
        {"eventtype": "worker.activity.update", "ts": "2024-05-01T10:30:00.750000",
         "raw": "raw-upd-2", "wtip": 5100},
        {"eventtype": "worker.activity.update", "ts": "2024-05-01T11:45:00.300000",
         "raw": "raw-upd-3", "wtip": 4500},
    ]
    one_shot, open1 = _agent_rows_for_worker(list(events), {})
    assert [r["carrier_raw"] for r in one_shot] == ["raw-created", "raw-upd-1", "raw-upd-2"]
    assert [r["ov_activity_time"] for r in one_shot] == [300, 5100, 4500]
    assert open1["raw"] == "raw-upd-3"
    for cut in range(1, len(events)):
        r1, st = _agent_rows_for_worker(events[:cut], {})
        r2, open2 = _agent_rows_for_worker(events[cut:], st)
        assert r1 + r2 == one_shot, f"split at {cut} diverged"
        assert open2 == open1


@pytest.mark.parametrize("seed", [91, 92, 93])
def test_keying_parity_under_cross_batch_disorder(spark, tmp_path, seed):
    """Delivery order shuffled ACROSS micro-batches (not just within):
    some events arrive late relative to the watermark and are dropped,
    others land in earlier/later batches than event-time order would
    place them. Whatever the resulting emission set is, both state
    keyings — per-task and bucketed — must produce it identically
    (same files -> same batches -> same watermark trajectory -> same
    drops), so the keying remains a pure plan knob even under
    disordered transport."""
    import random

    from tests.test_fuzz_parity import _gen_events

    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_fixture_stream,
    )

    events = _gen_events(seed=seed, n_tasks=30)
    random.Random(seed).shuffle(events)  # disorder across the whole spool
    base = run_fixture_stream(
        spark, str(tmp_path / "per"), events_in=events, keep_order=True
    ).cache()
    bkt = run_fixture_stream(
        spark, str(tmp_path / "bkt"), buckets=4, events_in=events, keep_order=True
    ).cache()
    b = {tuple(r) for r in base.collect()}
    assert b, "disordered spool must still emit rows"
    g = {tuple(r) for r in bkt.collect()}
    assert g == b, (len(g), len(b), list(g - b)[:3], list(b - g)[:3])


def test_scale_stream_summary_matches_closed_form(spark, tmp_path):
    """The streaming scale certificate's MACHINERY at a test-sized N:
    the same harness the registered 1M-task section runs (ordered
    multi-batch replay, RocksDB state, bucketed lifecycle, durable
    parquet sink, distributive summary) must reproduce the generator's
    closed form exactly — counts, distinct ids, measure sums, and the
    date range — with no third segment kind (a spurious CORRUPTED
    CONVERSATION would add one)."""
    from twilio_event_streams_reporting_example_spark.plans.taskrouter_queries import (
        _scale_stream_summary_golden_rows,
        scale_stream_summary,
    )

    n = 300  # >= 50 so the distinct-agent count hits its plateau
    got = {r["segment_kind"]: r.asDict() for r in scale_stream_summary(
        spark, n_tasks=n
    ).collect()}
    want = {r["segment_kind"]: r for r in _scale_stream_summary_golden_rows(n)}
    assert sorted(got) == sorted(want) == ["CONVERSATION", "QUEUE"]
    for kind, w in want.items():
        for col, v in w.items():
            assert got[kind][col] == v, (kind, col, got[kind][col], v)


def test_scale_stream_restores_session_conf(spark, tmp_path):
    """run_scale_stream overrides the state-store provider and shuffle
    partitions for the stream and MUST restore both — later queries in
    the shared driver session run on the configuration they were
    certified with."""
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_scale_stream,
    )

    shuffle_key = "spark.sql.shuffle.partitions"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    before_shuffle = spark.conf.get(shuffle_key)
    before_provider = spark.conf.get(provider_key, None)
    seg = run_scale_stream(spark, str(tmp_path / "cert"), n_tasks=60, files=3)
    assert seg.count() == 120  # 2 terminal segments per task
    assert spark.conf.get(shuffle_key) == before_shuffle
    assert spark.conf.get(provider_key, None) == before_provider


def test_run_available_now_stops_a_query_past_its_timeout(spark, tmp_path):
    """A query that cannot drain its source inside the limit raises
    TimeoutError and is stopped, not left filling its sink."""
    import time

    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        run_available_now,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "part-0.json").write_text("{}\n")

    def slow(batch_df, batch_id):
        time.sleep(3)

    writer = (
        spark.readStream.format("text")
        .load(str(indir))
        .writeStream.foreachBatch(slow)
        .queryName("slow_available_now")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    with pytest.raises(TimeoutError, match="slow_available_now"):
        run_available_now(writer, timeout=0.5)
    assert "slow_available_now" not in [q.name for q in spark.streams.active]


def test_segment_audit_detects_corruption(spark):
    """Negative controls for the scale certificate's fingerprint: the
    audit reduction must MOVE when the segment set is corrupted in
    each of the ways the golden-rows docstring claims it catches —
    including the compensated drop+duplicate that preserves count AND
    first moment (drop tasks {1,4}, duplicate {2,3}: id_sum unchanged,
    id_sumsq must differ), the case simple count/sum audits miss."""
    import datetime as dt

    from twilio_event_streams_reporting_example_spark.plans.taskrouter_queries import (
        segment_audit_summary,
    )

    base = dt.datetime(2024, 6, 1)
    n = 10
    schema = (
        "segment_kind string, conversation_id string, "
        "reservation_sid string, agent_uuid string, date timestamp, "
        "queue_time long, ring_time long, talk_time long, "
        "wrapup_time long"
    )

    def rows(n_tasks):
        out = []
        for i in range(n_tasks):
            ids = (f"TKS-{i}", f"RSS-{i}", f"WKS-{i % 50}")
            entry = base + dt.timedelta(seconds=60 * i)
            out.append(("QUEUE", *ids, entry, 15, None, None, None))
            out.append((
                "CONVERSATION", *ids,
                entry + dt.timedelta(seconds=15), 15, 10, 300, 45,
            ))
        return out

    def audit(data):
        return {
            r["segment_kind"]: r.asDict()
            for r in segment_audit_summary(
                spark.createDataFrame(data, schema)
            ).collect()
        }

    clean = audit(rows(n))
    assert clean["QUEUE"]["conversation_id"] == (
        f"rows={n};id_sum={n * (n - 1) // 2};"
        f"id_sumsq={(n - 1) * n * (2 * n - 1) // 6}"
    )
    assert clean["CONVERSATION"]["agent_uuid"] == (
        "bad_res=0;bad_agent=0;bad_date=0;bad_measures=0"
    )

    # 1. plain duplicate: count and both moments move
    dup = rows(n) + [rows(n)[0]]
    assert audit(dup)["QUEUE"]["conversation_id"] != clean["QUEUE"][
        "conversation_id"
    ]

    # 2. compensated drop+duplicate: drop QUEUE of tasks 1 and 4,
    #    duplicate QUEUE of tasks 2 and 3 — count unchanged, id_sum
    #    unchanged (-1-4+2+3=0), but id_sumsq moves (-1-16+4+9=-4)
    comp = [
        r for r in rows(n)
        if not (r[0] == "QUEUE" and r[1] in ("TKS-1", "TKS-4"))
    ]
    comp += [r for r in rows(n) if r[0] == "QUEUE" and r[1] in ("TKS-2", "TKS-3")]
    got = audit(comp)["QUEUE"]["conversation_id"]
    assert f"rows={n};id_sum={n * (n - 1) // 2};" in got  # count+sum blind
    assert got != clean["QUEUE"]["conversation_id"]  # sumsq catches it

    # 3-5. field corruptions: each flips exactly its own counter
    for col_idx, expect in ((3, "bad_agent=1"), (2, "bad_res=1")):
        bad = rows(n)
        r0 = list(bad[0])
        r0[col_idx] = "WRONG-9"
        bad[0] = tuple(r0)
        assert expect in audit(bad)["QUEUE"]["agent_uuid"]
    bad = rows(n)
    r0 = list(bad[0])
    r0[4] = r0[4] + dt.timedelta(seconds=1)
    bad[0] = tuple(r0)
    assert "bad_date=1" in audit(bad)["QUEUE"]["agent_uuid"]
    bad = rows(n)
    r0 = list(bad[1])
    r0[7] = 299  # talk_time off by one on a CONVERSATION row
    bad[1] = tuple(r0)
    a = audit(bad)
    assert "bad_measures=1" in a["CONVERSATION"]["agent_uuid"]
    assert "bad_measures=0" in a["QUEUE"]["agent_uuid"]
