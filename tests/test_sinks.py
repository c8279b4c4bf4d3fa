"""Materialization sinks: write → read-back parity (S4/S5)."""

import tempfile

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
