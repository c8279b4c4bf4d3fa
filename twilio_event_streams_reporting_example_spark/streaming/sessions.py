"""Streaming session-window aggregation over the user event stream.

The streaming twin of ``operators/sessionize.py::sessionize_builtin``:
the SAME ``session_window`` merging aggregation, run as a Structured
Streaming append query with a watermark. Spark keeps per-(user, open
session) merging state; a session row is emitted exactly once, when the
watermark passes its close — the streaming formulation of the batch
30-minute-gap sessionizer, with bit-identical output by construction
(same aggregate expressions, same gap, same truncation).

Harness determinism: the whole event table arrives in micro-batch 1
(watermark still at epoch, so nothing is late), then a single far-future
"advancer" row in batch 2 pushes the watermark past every real session,
closing them all. The advancer's own session never closes and is
withheld — the standard closed-window trick the hourly rollup harness
uses (taskrouter_stream.py::run_fixture_hourly_stream).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprs import epoch_seconds
from ..sources.tables import load_table
from .taskrouter_stream import run_available_now

SESSION_GAP = "1800 seconds"  # same inclusive-boundary gap as the batch op
ADVANCER_USER = -1  # no real user_id is negative


def user_sessions_stream(events: DataFrame) -> DataFrame:
    """events(user_id, tts timestamp, value) → closed session rows.
    ``tts`` must already be second-truncated (the shared contract with
    the batch operator)."""
    return (
        events.withWatermark("tts", "1 second")
        .groupBy("user_id", F.session_window("tts", SESSION_GAP))
        .agg(
            F.min("tts").alias("session_start"),
            F.max("tts").alias("session_end"),
            (epoch_seconds(F.max("tts")) - epoch_seconds(F.min("tts"))).alias(
                "duration_seconds"
            ),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("session_value"),
        )
        .drop("session_window")
    )


def run_events_session_stream(
    spark: SparkSession, workdir: str, sf_dir: str
) -> DataFrame:
    """Replay the events table through the streaming sessionizer; returns
    the closed-session rows (== the batch sessionize_builtin output)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    indir = os.path.join(workdir, "in_sessions")
    ckpt = os.path.join(workdir, "ckpt_sessions")

    base = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.date_trunc("second", "ts").alias("tts"),
        "value",
    )
    base.coalesce(1).write.mode("overwrite").parquet(indir)
    mt = 1_700_000_000
    for name in os.listdir(indir):
        os.utime(os.path.join(indir, name), (mt, mt))

    # the advancer lands in the same directory with a later mtime, so the
    # file source reads it last
    base_files = set(os.listdir(indir))
    max_ts = base.agg(F.max("tts")).collect()[0][0]
    adv = spark.createDataFrame(
        [(ADVANCER_USER, max_ts + dt.timedelta(days=2), 0.0)],
        "user_id bigint, tts timestamp, value double",
    )
    adv.coalesce(1).write.mode("append").parquet(indir)
    for name in set(os.listdir(indir)) - base_files:
        os.utime(os.path.join(indir, name), (mt + 10_000, mt + 10_000))

    raw = (
        spark.readStream.schema("user_id bigint, tts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    run_available_now(
        user_sessions_stream(raw)
        .writeStream.format("memory")
        .queryName("user_sessions_stream")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    return spark.sql(
        f"SELECT * FROM user_sessions_stream WHERE user_id <> {ADVANCER_USER}"
    )
