"""Incremental maintenance parity: initialize + N incremental batches
must converge to byte-identical tables vs the one-shot recompute —
including late events that retroactively convert IN PROGRESS rows, and
CloudEvent redelivery across batch boundaries."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F


def _batches(spark, n_batches=3):
    """Fixture events in chronological batches with GLOBAL arrival_idx
    (the ingest-sequence contract); the first event of batch 2 is also
    redelivered in batch 3 under the same CloudEvent id."""
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import (
        FIXTURE_EVENTS,
    )

    ordered = sorted(FIXTURE_EVENTS, key=lambda e: e["data"]["payload"]["timestamp"])
    chunk = (len(ordered) + n_batches - 1) // n_batches
    slices = [ordered[i : i + chunk] for i in range(0, len(ordered), chunk)]
    slices[2].append(slices[1][0])  # cross-batch duplicate delivery
    out, idx = [], 0
    for sl in slices:
        rows = []
        for e in sl:
            rows.append((idx, json.dumps(e)))
            idx += 1
        out.append(spark.createDataFrame(rows, "arrival_idx bigint, raw string"))
    return out


@pytest.fixture(scope="module")
def incremental_result(spark):
    from twilio_event_streams_reporting_example_spark.sources.incremental import (
        incremental_taskrouter_update,
        initialize_taskrouter,
    )

    with tempfile.TemporaryDirectory() as d:
        batches = _batches(spark)
        initialize_taskrouter(spark, batches[0], d)
        infos = [
            incremental_taskrouter_update(spark, b, d) for b in batches[1:]
        ]
        listing = sorted(os.listdir(d))
        yield {
            "segments": spark.read.parquet(f"{d}/segments").cache(),
            "agents": spark.read.parquet(f"{d}/agents").cache(),
            "event_log": spark.read.parquet(f"{d}/event_log").cache(),
            "infos": infos,
            "listing": listing,
        }


def test_store_holds_only_its_tables(incremental_result):
    # staging and aside directories of the writers are gone once each
    # write commits
    assert incremental_result["listing"] == ["agents", "event_log", "segments"]


def test_incremental_segments_match_one_shot(spark, incremental_result):
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df
    from twilio_event_streams_reporting_example_spark.taskrouter.schema import (
        SEGMENT_COLUMNS,
    )

    cols = [c for c, _ in SEGMENT_COLUMNS]
    one_shot = taskrouter_segments_df(spark, fixture_df(spark)).select(*cols)
    inc = incremental_result["segments"].select(*cols)
    assert inc.count() == one_shot.count()
    assert inc.exceptAll(one_shot).count() == 0
    assert one_shot.exceptAll(inc).count() == 0


def test_incremental_agents_match_one_shot(spark, incremental_result):
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_agents_df,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df
    from twilio_event_streams_reporting_example_spark.taskrouter.schema import (
        AGENT_COLUMNS,
    )

    cols = [c for c, _ in AGENT_COLUMNS]
    one_shot = taskrouter_agents_df(spark, fixture_df(spark)).select(*cols)
    inc = incremental_result["agents"].select(*cols)
    assert inc.count() == one_shot.count()
    assert inc.exceptAll(one_shot).count() == 0
    assert one_shot.exceptAll(inc).count() == 0


def test_event_log_deduplicates_cross_batch_redelivery(spark, incremental_result):
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        ingest_taskrouter,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df

    log = incremental_result["event_log"]
    assert log.count() == log.select("event_id").distinct().count()
    # and the log is complete: same ids as a one-shot parse
    expected = ingest_taskrouter(fixture_df(spark)).select("event_id")
    assert log.select("event_id").exceptAll(expected).count() == 0
    assert expected.exceptAll(log.select("event_id")).count() == 0


def test_incremental_touches_only_affected_dates(incremental_result):
    # each update reports the partitions it rewrote; the fixture spans a
    # single day, so every update touches at most that day — the claim
    # is that the list is explicit and bounded, not "the whole table"
    for info in incremental_result["infos"]:
        assert isinstance(info["touched_dates"], list)
        assert len(info["touched_dates"]) <= 2


def _assert_same_rows(a, b):
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _one_shot_segments(spark):
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df

    return taskrouter_segments_df(spark, fixture_df(spark))


def _store_before_last_batch(spark, d):
    """A store holding the first two batches; returns the last batch."""
    from twilio_event_streams_reporting_example_spark.sources.incremental import (
        initialize_taskrouter,
    )

    batches = _batches(spark)
    initialize_taskrouter(spark, batches[0].unionByName(batches[1]), d)
    return batches[2]


def test_merge_swap_replaces_every_touched_date(spark, monkeypatch):
    """A stale fact row of an affected conversation sits alone on another
    date. The merge touches that date and recomputes the conversation's
    rows elsewhere, so the date ends with no rows: its partition must go
    (a dynamic partition overwrite would keep it, and the stale row).

    The touched partitions are staged beside the table root: a first
    run that dies after its staging write leaves no ``segment_date=``
    directory a reader of the fact would pick up and the fact as it was;
    the re-run of the same batch then brings the fact to the one-shot
    result."""
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        ingest_taskrouter,
    )
    from twilio_event_streams_reporting_example_spark.sources import incremental, sinks

    def crash(*args):
        raise RuntimeError("injected crash before the swap")

    with tempfile.TemporaryDirectory() as d:
        last = _store_before_last_batch(spark, d)
        table = f"{d}/segments"
        fact = spark.read.parquet(table)
        batch_tasks = ingest_taskrouter(last).select(
            F.col("task_sid").alias("segment_external_id")
        )
        stale = (
            fact.join(batch_tasks, "segment_external_id", "left_semi")
            .limit(1)
            .withColumn("date", F.col("date") - F.expr("INTERVAL 1 DAY"))
            .withColumn("segment_date", F.to_date("date"))
            .collect()
        )
        assert stale, "the last batch must touch a stored conversation"
        empty_date = str(stale[0]["segment_date"])
        (
            spark.createDataFrame(stale, fact.schema)
            .write.mode("append")
            .partitionBy("segment_date")
            .parquet(table)
        )
        before_dirs = sorted(os.listdir(table))
        fact = spark.read.parquet(table)
        before = spark.createDataFrame(fact.collect(), fact.schema)

        monkeypatch.setattr(sinks, "_swap", crash)
        with pytest.raises(RuntimeError, match="injected"):
            incremental.incremental_taskrouter_update(spark, last, d)
        monkeypatch.undo()

        staged = [
            os.path.join(base, n)
            for base, dirs, _ in os.walk(d)
            for n in dirs
            if n.startswith("segment_date=") and base != table
        ]
        assert staged, "the staging write ran"
        assert not any(p.startswith(table + os.sep) for p in staged), staged
        assert sorted(os.listdir(table)) == before_dirs
        _assert_same_rows(spark.read.parquet(table), before)

        info = incremental.incremental_taskrouter_update(spark, last, d)
        assert empty_date in info["touched_dates"]
        assert f"segment_date={empty_date}" not in os.listdir(table)
        cols = _one_shot_segments(spark).columns
        _assert_same_rows(
            spark.read.parquet(table).select(*cols), _one_shot_segments(spark)
        )
