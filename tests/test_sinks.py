"""Materialization sinks: write → read-back parity (S4/S5)."""

import tempfile

import pytest
from pyspark.sql import functions as F


def test_materialize_and_read_back(spark):
    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_agents_df,
        taskrouter_segments_df,
    )
    from twilio_event_streams_reporting_example_spark.sources.incremental import (
        initialize_taskrouter,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df
    from twilio_event_streams_reporting_example_spark.taskrouter.schema import (
        AGENT_COLUMNS,
    )

    raw = fixture_df(spark)
    with tempfile.TemporaryDirectory() as d:
        paths = initialize_taskrouter(spark, raw, d)

        log = spark.read.parquet(paths["event_log"])
        # 49 distinct taskrouter events (1 dup dropped, 1 non-taskrouter dropped)
        assert log.count() == log.select("event_id").distinct().count()
        assert "event_date" in log.columns  # partition column survives read

        seg = spark.read.parquet(paths["segments"]).drop("segment_date")
        live = taskrouter_segments_df(spark, raw)
        assert seg.count() == live.count()
        assert seg.select(live.columns).exceptAll(live).count() == 0

        # the stored dimension also keeps last_ts for later merges
        cols = [c for c, _ in AGENT_COLUMNS]
        ag = spark.read.parquet(paths["agents"]).select(*cols)
        live_ag = taskrouter_agents_df(spark, raw).select(*cols)
        assert ag.exceptAll(live_ag).count() == 0
        assert live_ag.exceptAll(ag).count() == 0

        # partition pruning: a filter on the partition column must reach
        # the scan as a PartitionFilter, not a post-scan filter
        pruned = spark.read.parquet(paths["segments"]).filter(
            F.col("segment_date") == "2024-05-01"
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert "isnotnull(segment_date" in plan or "segment_date" in plan.split(
            "PartitionFilters"
        )[1][:200]
        assert pruned.count() == live.count()  # fixture is one day


def test_initialize_reads_raw_input_once(spark):
    """The first materialization parses the raw input once: the log, the
    fact and the agents writes all read one cached parse, so every raw
    row passes through the scan exactly once."""
    from twilio_event_streams_reporting_example_spark.sources.incremental import (
        initialize_taskrouter,
    )
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df

    raw = fixture_df(spark)
    n_raw = raw.count()
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    counted = raw.mapInPandas(count_rows, raw.schema)
    with tempfile.TemporaryDirectory() as d:
        initialize_taskrouter(spark, counted, d)
    assert seen.value == n_raw


def test_write_agents_failed_swap_keeps_old_dimension(spark, monkeypatch):
    """The agents swap moves the live table aside before moving the
    staged one in, and deletes it only after: when the second rename
    fails, the old dimension's files are still on disk."""
    import os

    from twilio_event_streams_reporting_example_spark.plans.taskrouter import (
        taskrouter_agents_df,
    )
    from twilio_event_streams_reporting_example_spark.sources import sinks
    from twilio_event_streams_reporting_example_spark.taskrouter.fixture import fixture_df

    agents = taskrouter_agents_df(spark, fixture_df(spark), with_ordering=True)
    real_replace = os.replace
    renames = []

    def fail_second(src, dst):
        renames.append((src, dst))
        if len(renames) == 2:
            raise OSError("injected failure of the second rename")
        real_replace(src, dst)

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/agents"
        sinks.write_agents(agents, path)
        old_files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        assert old_files

        monkeypatch.setattr(sinks.os, "replace", fail_second)
        with pytest.raises(OSError, match="injected"):
            sinks.write_agents(agents.limit(1), path)
        monkeypatch.undo()

        assert renames[0][0] == path, "the live table moves aside first"
        aside = renames[0][1]
        assert sorted(f for f in os.listdir(aside) if f.endswith(".parquet")) == old_files
        assert spark.read.parquet(aside).count() == agents.count()

        # a later write succeeds, and leaves only the table and the aside
        # copy of the failed run beside it
        sinks.write_agents(agents.limit(1), path)
        assert spark.read.parquet(path).count() == 1
        assert sorted(os.listdir(d)) == sorted(["agents", os.path.basename(aside)])


def test_write_event_log_appends_each_id_once(spark):
    """Two log writes that share a date: the second keeps the first's
    events on that date and skips the id the log already holds."""
    from twilio_event_streams_reporting_example_spark.sources.sinks import write_event_log

    def events(*rows):
        return spark.createDataFrame(list(rows), "event_id string, ts string").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts")
        )

    a, b, c, d = (
        ("a", "2024-05-01 09:00:00"),
        ("b", "2024-05-02 10:00:00"),
        ("c", "2024-05-02 11:00:00"),
        ("d", "2024-05-02 12:00:00"),
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/event_log"
        write_event_log(events(a, b, c), path)
        write_event_log(events(c, d), path)
        log = spark.read.parquet(path).select("event_id", "ts")
        assert log.count() == 4
        assert log.exceptAll(events(a, b, c, d)).count() == 0
        assert events(a, b, c, d).exceptAll(log).count() == 0


def test_merge_agents_batch_row_wins_a_last_ts_tie(spark):
    """A stored row and a batch row of one worker with the same
    ``last_ts``: the batch row supplies the attributes (its events
    arrived later, and the later arrival wins in ``agents_from_parsed``)
    and ``date_joined`` keeps the smaller value."""
    import datetime as dt

    from twilio_event_streams_reporting_example_spark.sources.sinks import merge_agents
    from twilio_event_streams_reporting_example_spark.taskrouter.schema import (
        AGENT_COLUMNS,
        SPARK_TYPE,
    )

    cols = [c for c, _ in AGENT_COLUMNS] + ["last_ts"]
    schema = ", ".join(f"{c} {SPARK_TYPE[t]}" for c, t in AGENT_COLUMNS) + ", last_ts timestamp"
    last_ts = dt.datetime(2024, 5, 1, 12, 0, 0)

    def dim(email, joined):
        row = dict.fromkeys(cols)
        row.update(agent_uuid="W1", email=email, date_joined=joined, last_ts=last_ts)
        return spark.createDataFrame([tuple(row[c] for c in cols)], schema)

    stored = dim("stored@example.com", dt.datetime(2024, 5, 1, 8, 0, 0))
    batch = dim("batch@example.com", dt.datetime(2024, 5, 1, 11, 0, 0))
    merged = merge_agents(stored, batch).collect()
    assert len(merged) == 1
    assert merged[0]["email"] == "batch@example.com"
    assert merged[0]["date_joined"] == dt.datetime(2024, 5, 1, 8, 0, 0)
    assert merged[0]["last_ts"] == last_ts
