"""Registered TaskRouter queries + golden oracles.

The oracle for each query is a literal ``VALUES`` table rendered from
``taskrouter/sim.py`` — an INDEPENDENT pure-Python row-at-a-time replay
of the reference semantics over the same fixture. The Spark engine
(plans/taskrouter.py) derives everything set-wise; agreement between
the two implementations is the correctness claim.

The queries run on the deterministic CloudEvent fixture (the driver's
parquet tables don't contain TaskRouter events), so ``sf_dir`` is
ignored — DuckDB evaluates the golden VALUES directly.
"""

from __future__ import annotations

import datetime as dt
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import functools

from ..registry import register as _register

# Every query in this module proves the reference's own domain pipeline
# (segments / agents / reports / streaming) — pin them all to the head of
# the driver's 50-query correctness window.
register = functools.partial(_register, priority=0)
from ..taskrouter import schema as S
from ..taskrouter.fixture import fixture_df
from ..taskrouter.scale import scale_oracle_sql
from ..taskrouter.sim import run_fixture_sim

# ------------------------------------------------------ oracle rendering


def _sql_lit(v, sqltype: str) -> str:
    if v is None:
        return f"CAST(NULL AS {sqltype})"
    if sqltype == "TIMESTAMP":
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if sqltype == "BIGINT":
        return f"CAST({int(v)} AS BIGINT)"
    return "'" + str(v).replace("'", "''") + "'"


def golden_values_sql(rows: list[dict], columns: list[tuple[str, str]]) -> str:
    """Literal VALUES table with explicit per-value casts (stable types
    even for all-NULL columns)."""
    col_list = ", ".join(f'"{c}"' for c, _ in columns)
    vals = ",\n".join(
        "(" + ", ".join(_sql_lit(r[c], t) for c, t in columns) + ")" for r in rows
    )
    return f"SELECT * FROM (VALUES\n{vals}\n) AS t({col_list})"


@lru_cache(maxsize=1)
def _sim():
    return run_fixture_sim()


# ------------------------------------------------- materialized fact store

# The report layer queries a MATERIALIZED fact, not the ingest pipeline:
# at 100 TB the segments fact is built once (batch recompute or the
# streaming sink) and every report/KPI/lookup reads the stored table —
# rebuilding ingest+correlation per dashboard query would be absurd.
# Locally the same contract is one localCheckpoint per SparkSession
# (keyed by applicationId so a fresh session rebuilds): the checkpoint
# truncates lineage exactly like reading the parquet the sink wrote
# (sources/sinks.py::write_segments), without a tempdir per query. The
# fixture fact is a few dozen rows, so it is stored as ONE partition: the
# recompute's union of segment branches leaves it in ~18, and every
# report query over it would schedule a task per partition per stage.
_FACT_CACHE: dict[str, DataFrame] = {}


def _materialized(spark: SparkSession, what: str) -> DataFrame:
    from .taskrouter import taskrouter_agents_df, taskrouter_segments_df

    key = f"{spark.sparkContext.applicationId}/{what}"
    df = _FACT_CACHE.get(key)
    if df is None:
        build = taskrouter_segments_df if what == "segments" else taskrouter_agents_df
        df = build(spark, fixture_df(spark)).coalesce(1).localCheckpoint(eager=True)
        _FACT_CACHE[key] = df
    return df


def materialized_segments(spark: SparkSession) -> DataFrame:
    return _materialized(spark, "segments")


def materialized_agents(spark: SparkSession) -> DataFrame:
    return _materialized(spark, "agents")


# ------------------------------------------------------------- fact table


@register(
    "taskrouter_segments",
    oracle=golden_values_sql(_sim().segment_rows(), S.SEGMENT_COLUMNS),
    doc=(
        "The conversations segment fact table over the CloudEvent fixture: "
        "every state-machine transition (reference events.js:513-667) and "
        "the full ~65-column wide projection (events.js:337-485). Golden "
        "oracle = independent row-at-a-time reference simulator."
    ),
)
def taskrouter_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .taskrouter import taskrouter_segments_df

    return taskrouter_segments_df(spark, fixture_df(spark))


@register(
    "taskrouter_agents",
    oracle=golden_values_sql(_sim().agent_rows(), S.AGENT_COLUMNS),
    doc=(
        "Agents current-state dimension (SCD-1 latest-wins recompute of the "
        "reference's upsert, events.js:225-296) with date_joined/date_left "
        "lifecycle."
    ),
)
def taskrouter_agents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .taskrouter import taskrouter_agents_df

    return taskrouter_agents_df(spark, fixture_df(spark))


# ----------------------------------------------------------- report (O2/O3)

_REPORT_CONV_COLS = [
    ("conversation_id_short", "VARCHAR"),
    ("segment_kind", "VARCHAR"),
    ("segment_external_id_short", "VARCHAR"),
    ("reservation_sid", "VARCHAR"),
    ("date_str", "VARCHAR"),
    ("time_str", "VARCHAR"),
    ("activity", "VARCHAR"),
    ("activity_time", "BIGINT"),
    ("abandoned", "VARCHAR"),
    ("abandoned_phase", "VARCHAR"),
    ("abandon_time", "BIGINT"),
    ("queue_time", "BIGINT"),
    ("ring_time", "BIGINT"),
    ("talk_time", "BIGINT"),
    ("wrapup_time", "BIGINT"),
]


def _report_conv_rows(rows: list[dict]) -> list[dict]:
    out = []
    for r in rows:
        out.append(
            {
                "conversation_id_short": (r["conversation_id"] or "")[:10],
                "segment_kind": r["segment_kind"],
                "segment_external_id_short": (r["segment_external_id"] or "")[:10],
                "reservation_sid": r["reservation_sid"],
                "date_str": r["date"].strftime("%Y-%m-%d") if r["date"] else None,
                "time_str": r["time"].strftime("%H:%M:%S") if r["time"] else None,
                "activity": r["activity"],
                "activity_time": r["activity_time"],
                "abandoned": r["abandoned"],
                "abandoned_phase": r["abandoned_phase"],
                "abandon_time": r["abandon_time"],
                "queue_time": r["queue_time"],
                "ring_time": r["ring_time"],
                "talk_time": r["talk_time"],
                "wrapup_time": r["wrapup_time"],
            }
        )
    return out


def _report_conversations_df(spark: SparkSession) -> DataFrame:
    """O2 presentation projection (reference routes/index.js:9-30,
    views/index.pug:47-83): id prefix truncation via substring(1,10) and
    date/time formatting. The reference formats per LOCALE/TIMEZONE env;
    the engine standardizes on ISO formats in the UTC session timezone —
    a documented presentation choice, not a semantic one."""
    seg = materialized_segments(spark)
    return seg.select(
        F.substring("conversation_id", 1, 10).alias("conversation_id_short"),
        "segment_kind",
        F.substring("segment_external_id", 1, 10).alias("segment_external_id_short"),
        "reservation_sid",
        F.date_format("date", "yyyy-MM-dd").alias("date_str"),
        F.date_format("time", "HH:mm:ss").alias("time_str"),
        "activity",
        "activity_time",
        "abandoned",
        "abandoned_phase",
        "abandon_time",
        "queue_time",
        "ring_time",
        "talk_time",
        "wrapup_time",
    )


def taskrouter_conversation_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: the reference destructures filter_conv_id from req.params but
    the route defines no params, so the filter is dead (routes/
    index.js:8, a bug). This is that filter implemented as intended:
    point lookup by conversation_id — at scale this prunes partitions
    instead of scanning."""
    return _report_conversations_df(spark).filter(
        F.col("conversation_id_short") == "TK009"
    )


@register(
    "taskrouter_report_conversations",
    oracle=f"""
        SELECT 'all' AS scope, * FROM (
          {golden_values_sql(_report_conv_rows(_sim().segment_rows()), _REPORT_CONV_COLS)}
        )
        UNION ALL
        SELECT 'TK009' AS scope, * FROM (
          {golden_values_sql(
              [r for r in _report_conv_rows(_sim().segment_rows())
               if r["conversation_id_short"] == "TK009"],
              _REPORT_CONV_COLS,
          )}
        )
    """,
    doc=(
        "O2 + O3 report surface, union-tagged by `scope`: the full "
        "conversations table as the report renders it, plus the intended "
        "(reference-dead, routes/index.js:8) conversation point-lookup "
        "filter — each scope against its own golden-sim VALUES oracle."
    ),
)
def taskrouter_report_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _report_conversations_df(spark).select(F.lit("all").alias("scope"), "*")
    b = taskrouter_conversation_lookup(spark, sf_dir).select(
        F.lit("TK009").alias("scope"), "*"
    )
    return a.unionByName(b)


_REPORT_AGENT_COLS = [
    ("agent_id", "VARCHAR"),
    ("joined", "VARCHAR"),
    ("left", "VARCHAR"),
    ("email", "VARCHAR"),
    ("agent_uuid", "VARCHAR"),
    ("role", "VARCHAR"),
    ("team_name", "VARCHAR"),
    ("department_name", "VARCHAR"),
    ("manager", "VARCHAR"),
    ("state", "VARCHAR"),
]


@register(
    "taskrouter_channel_rollup",
    oracle=f"""
        WITH seg AS ({golden_values_sql(_sim().segment_rows(), S.SEGMENT_COLUMNS)})
        SELECT
          channel,
          direction,
          CAST(GROUPING(channel) AS BIGINT) AS g_channel,
          CAST(GROUPING(direction) AS BIGINT) AS g_direction,
          COUNT(*) AS n_segments,
          CAST(SUM(talk_time) AS BIGINT) AS sum_talk_time
        FROM seg
        GROUP BY ROLLUP (channel, direction)
    """,
    doc=(
        "ROLLUP report over (channel, direction) with GROUPING flags to "
        "disambiguate subtotal rows from data NULLs — the grouping-sets "
        "aggregation class SURVEY §2.7 notes the reference lacks entirely. "
        "Spark expands grouping sets inside one partial-aggregated "
        "shuffle; no per-level rescan."
    ),
)
def taskrouter_channel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = materialized_segments(spark)
    return seg.rollup("channel", "direction").agg(
        F.grouping("channel").cast("long").alias("g_channel"),
        F.grouping("direction").cast("long").alias("g_direction"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("talk_time").alias("sum_talk_time"),
    )


@register(
    "taskrouter_agent_activity_report",
    oracle=f"""
        WITH seg AS ({golden_values_sql(_sim().segment_rows(), S.SEGMENT_COLUMNS)})
        SELECT agent_uuid, activity, strftime(date, '%Y-%m-%d') AS day,
               COUNT(*) AS n_intervals,
               CAST(SUM(COALESCE(activity_time, 0)) AS BIGINT) AS total_activity_seconds,
               CAST(SUM(CASE WHEN activity_time IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_in_progress
        FROM seg
        WHERE segment_kind IN ('{S.AGENT_STATUS}', '{S.AGENT_STATUS_IN_PROGRESS}')
        GROUP BY agent_uuid, activity, strftime(date, '%Y-%m-%d')
    """,
    doc=(
        "Agent-utilization report: per (agent, activity, day) interval "
        "counts and summed activity seconds over the AGENT STATUS "
        "segments — the occupancy rollup Flex Insights derives from the "
        "activity intervals; open (IN PROGRESS) intervals are counted "
        "but contribute zero seconds. One partial-aggregated shuffle "
        "over the date-prunable fact."
    ),
)
def taskrouter_agent_activity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = materialized_segments(spark)
    return (
        seg.filter(
            F.col("segment_kind").isin(S.AGENT_STATUS, S.AGENT_STATUS_IN_PROGRESS)
        )
        .groupBy("agent_uuid", "activity", F.date_format("date", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.coalesce("activity_time", F.lit(0))).alias("total_activity_seconds"),
            F.sum(
                F.when(F.col("activity_time").isNull(), 1).otherwise(0)
            ).alias("n_in_progress"),
        )
    )


def taskrouter_queue_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = materialized_segments(spark)
    qt = F.col("queue_time").cast("double")
    tt = F.col("talk_time").cast("double")
    return (
        seg.filter(F.col("segment_kind").isin("QUEUE", "CONVERSATION"))
        .groupBy("queue")
        .agg(
            F.count("queue_time").alias("n_queue_obs"),
            F.round(F.percentile(qt, F.lit(0.5)), 9).alias("queue_p50"),
            F.round(F.percentile(qt, F.lit(0.9)), 9).alias("queue_p90"),
            F.round(F.percentile(tt, F.lit(0.5)), 9).alias("talk_p50"),
            F.round(F.percentile(tt, F.lit(0.9)), 9).alias("talk_p90"),
        )
    )


# -------------------------------------------------- incremental maintenance


@register(
    "taskrouter_segments_incremental",
    bench=False,
    oracle=golden_values_sql(_sim().segment_rows(), S.SEGMENT_COLUMNS),
    doc=(
        "S6 at scale: the fixture split into three chronological ingest "
        "batches, applied as initialize + two incremental merges — each "
        "merge recomputes ONLY the conversations/workers its batch touches "
        "(broadcast-semi-joined slice of the durable event log) and "
        "rewrites only the affected fact date-partitions (the hand-rolled "
        "parquet MERGE; see sources/incremental.py). The read-back fact "
        "must equal the one-shot recompute — same golden oracle as "
        "taskrouter_segments."
    ),
)
def taskrouter_segments_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import tempfile

    from ..sources.incremental import (
        incremental_taskrouter_update,
        initialize_taskrouter,
    )
    from ..taskrouter.fixture import FIXTURE_EVENTS

    ordered = sorted(FIXTURE_EVENTS, key=lambda e: e["data"]["payload"]["timestamp"])
    chunk = (len(ordered) + 2) // 3
    idx = 0
    batches = []
    for i in range(0, len(ordered), chunk):
        rows = []
        for e in ordered[i : i + chunk]:
            rows.append((idx, _json.dumps(e)))
            idx += 1
        batches.append(
            spark.createDataFrame(rows, "arrival_idx bigint, raw string")
        )
    from ..registry import pin_checkpoint

    with tempfile.TemporaryDirectory() as d:
        initialize_taskrouter(spark, batches[0], d)
        for b in batches[1:]:
            incremental_taskrouter_update(spark, b, d)
        cols = [c for c, _ in S.SEGMENT_COLUMNS]
        # collect before the tempdir vanishes
        out = spark.read.parquet(f"{d}/segments").select(*cols).localCheckpoint(
            eager=True
        )
    pin_checkpoint(out)  # released by release_caches() post-consume
    return out


# ------------------------------------------------------------- scale run

SCALE_N_TASKS = 10_000  # 50k events → 20k segments, generated executor-side


@register(
    "taskrouter_segments_scale",
    oracle=scale_oracle_sql(SCALE_N_TASKS),
    doc=(
        "Throughput proof: the full ingest→correlate→project pipeline over "
        "10k distributively-generated happy-path conversations (50k "
        "CloudEvents). Event timings are closed-form in the task index, so "
        "the 20k-row expected output is plain SQL — the scale run keeps a "
        "full hash oracle instead of a rows-only check."
    ),
)
def taskrouter_segments_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..taskrouter.scale import synthetic_events
    from .taskrouter import taskrouter_segments_df

    raw = synthetic_events(spark, SCALE_N_TASKS)
    seg = taskrouter_segments_df(spark, raw)
    return seg.select(
        "segment_kind",
        "conversation_id",
        "reservation_sid",
        "agent_uuid",
        "date",
        "queue_time",
        "ring_time",
        "talk_time",
        "wrapup_time",
    )


# ------------------------------------------------------------ KPI rollup


def taskrouter_queue_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = materialized_segments(spark)
    return seg.groupBy("queue", "segment_kind").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("queue_time").alias("sum_queue_time"),
        F.sum("ring_time").alias("sum_ring_time"),
        F.sum("talk_time").alias("sum_talk_time"),
        F.sum("wrapup_time").alias("sum_wrapup_time"),
        F.sum(F.when(F.col("abandoned") == "Yes", 1).otherwise(0)).alias("n_abandoned"),
    )


@register(
    "taskrouter_queue_stats",
    oracle=f"""
        WITH seg AS ({golden_values_sql(_sim().segment_rows(), S.SEGMENT_COLUMNS)})
        SELECT 'kpis' AS section, "queue", segment_kind,
               COUNT(*) AS n,
               CAST(SUM(queue_time) AS DOUBLE) AS m1,
               CAST(SUM(ring_time) AS DOUBLE) AS m2,
               CAST(SUM(talk_time) AS DOUBLE) AS m3,
               CAST(SUM(wrapup_time) AS DOUBLE) AS m4,
               CAST(SUM(CASE WHEN abandoned = 'Yes' THEN 1 ELSE 0 END) AS DOUBLE) AS m5
        FROM seg
        GROUP BY "queue", segment_kind
        UNION ALL
        SELECT 'percentiles' AS section, "queue", CAST(NULL AS VARCHAR) AS segment_kind,
               COUNT(queue_time) AS n,
               round(quantile_cont(CAST(queue_time AS DOUBLE), 0.5), 9) AS m1,
               round(quantile_cont(CAST(queue_time AS DOUBLE), 0.9), 9) AS m2,
               round(quantile_cont(CAST(talk_time AS DOUBLE), 0.5), 9) AS m3,
               round(quantile_cont(CAST(talk_time AS DOUBLE), 0.9), 9) AS m4,
               CAST(NULL AS DOUBLE) AS m5
        FROM seg
        WHERE segment_kind IN ('QUEUE', 'CONVERSATION')
        GROUP BY "queue"
    """,
    doc=(
        "The per-queue report layer the reference stops short of (SURVEY "
        "§2.7: Flex Insights aggregates, the reference only materializes "
        "segments), union-tagged by `section`. `kpis`: per (queue, "
        "segment_kind) counts + exact integer time sums + abandon count "
        "(m1..m5 = queue/ring/talk/wrapup/abandoned). `percentiles`: SLA "
        "distribution KPIs per queue — exact linear-interpolation p50/p90 "
        "of wait and talk (Spark `percentile` == DuckDB `quantile_cont`, "
        "bit-identical, 9dp-rounded as drift defense; m1..m4 = "
        "queue_p50/p90, talk_p50/p90). Each section is one partial-"
        "aggregated shuffle over the date-pruned fact; at 100 TB swap "
        "`percentile` for `percentile_approx` (t-digest sketch, mergeable "
        "map-side) — same plan shape, bounded memory."
    ),
)
def taskrouter_queue_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    kpis = taskrouter_queue_kpis(spark, sf_dir).select(
        F.lit("kpis").alias("section"),
        "queue",
        "segment_kind",
        F.col("n_segments").alias("n"),
        F.col("sum_queue_time").cast("double").alias("m1"),
        F.col("sum_ring_time").cast("double").alias("m2"),
        F.col("sum_talk_time").cast("double").alias("m3"),
        F.col("sum_wrapup_time").cast("double").alias("m4"),
        F.col("n_abandoned").cast("double").alias("m5"),
    )
    pct = taskrouter_queue_percentiles(spark, sf_dir).select(
        F.lit("percentiles").alias("section"),
        "queue",
        F.lit(None).cast("string").alias("segment_kind"),
        F.col("n_queue_obs").alias("n"),
        F.col("queue_p50").alias("m1"),
        F.col("queue_p90").alias("m2"),
        F.col("talk_p50").alias("m3"),
        F.col("talk_p90").alias("m4"),
        F.lit(None).cast("double").alias("m5"),
    )
    return kpis.unionByName(pct)


# ------------------------------------------------------------- streaming

_STREAM_COLS = [
    ("segment_kind", "VARCHAR"),
    ("conversation_id", "VARCHAR"),
    ("reservation_sid", "VARCHAR"),
    ("agent_uuid", "VARCHAR"),
    ("date", "TIMESTAMP"),
    ("queue_time", "BIGINT"),
    ("ring_time", "BIGINT"),
    ("talk_time", "BIGINT"),
    ("wrapup_time", "BIGINT"),
    ("abandoned", "VARCHAR"),
    ("abandon_time", "BIGINT"),
]
_STREAM_TERMINAL = {
    "QUEUE",
    "CONVERSATION",
    "REJECTED CONVERSATION",
    "MISSED CONVERSATION",
    "REVOKED CONVERSATION",
}


def _stream_golden_rows() -> list[dict]:
    """Expected streaming output = the simulator's terminal conversation
    segments, plus every CONVERSATION IN PROGRESS relabeled CORRUPTED
    CONVERSATION (the event-time timeout converts conversations still
    open when the watermark passes — the engine's semantics for the
    reference's declared-but-never-produced kind, events.js:30)."""
    names = [c for c, _ in _STREAM_COLS]
    rows = []
    for r in _sim().segment_rows():
        kind = r["segment_kind"]
        if kind in _STREAM_TERMINAL:
            rows.append({c: r[c] for c in names})
        elif kind == "CONVERSATION IN PROGRESS":
            rows.append({**{c: r[c] for c in names}, "segment_kind": "CORRUPTED CONVERSATION"})
    return rows


def _stream_golden_rows_keyed() -> list[dict]:
    """Both stream groupings must produce the SAME golden rows: one
    task per group and the bucketed grouping (one state document per
    hash bucket of tasks — the throughput path, 8x the events/s); both
    run streaming/taskrouter_stream.py::_lifecycle_fn."""
    rows = _stream_golden_rows()
    return [{**r, "keying": "per_task"} for r in rows] + [
        {**r, "keying": "bucketed"} for r in rows
    ]


# ------------------------------------------- streaming scale certificate

SCALE_STREAM_TASKS = 1_000_000  # 5M CloudEvents -> 2M terminal segments


def _scale_stream_summary_golden_rows(n_tasks: int) -> list[dict]:
    """Closed-form expected SUMMARY of the bucketed lifecycle's output
    over the scale generator at ``n_tasks`` conversations (5 events
    each — the streaming analogue of ``taskrouter_segments_scale``):
    exactly 2 terminal segments per task with measures and dates
    closed-form in the task index (taskrouter/scale.py docstring).

    One row per expected segment kind, in the stream family's own
    column shape (the `dedup_exact_documents` scale-section pattern):
    the VARCHAR id columns carry the audit fingerprint, measure SUMS
    ride their own BIGINT columns, the date range rides date (max, as
    TIMESTAMP) and abandon_time (min, as epoch seconds).

    The fingerprint is a SINGLE-PASS, O(1)-state design — the way a
    100 TB audit actually runs (the first cut used 4 countDistincts,
    whose 5-way expand held ~10M high-cardinality strings in
    concurrent partial hash maps and OOMed the 1g driver-contract
    JVM; exact distinct counts are NOT needed when ids are
    closed-form):
      - task-id MOMENTS per kind: count, sum(i), sum(i*i), min(i),
        max(i) for i parsed from 'TKS-i'. Exactly one segment per
        task per kind pins all five to the closed form; any
        drop+duplicate compensation must zero BOTH the first and
        second moment under a pinned count — impossible for distinct
        ids;
      - per-row INVARIANT COUNTERS, all expected 0: reservation_sid
        != 'RSS-i', agent_uuid != 'WKS-(i%50)', date != closed-form
        timestamp(i), measures != the kind's closed-form values —
        field-level validation of every one of the 2M rows at zero
        aggregation state.
    Any dropped, duplicated, late-dropped or spuriously timed-out
    event among the 5M breaks a moment, a counter, or a sum — and a
    CORRUPTED CONVERSATION anywhere adds a third kind row the oracle
    does not contain."""
    base = dt.datetime(2024, 6, 1)  # taskrouter.scale.BASE_EPOCH_S, UTC
    base_epoch = 1_717_200_000
    last = base + dt.timedelta(seconds=60 * (n_tasks - 1))
    n = n_tasks
    common = {
        "conversation_id": (
            f"rows={n};id_sum={n * (n - 1) // 2};"
            f"id_sumsq={(n - 1) * n * (2 * n - 1) // 6}"
        ),
        "reservation_sid": f"id_min=0;id_max={n - 1}",
        "agent_uuid": "bad_res=0;bad_agent=0;bad_date=0;bad_measures=0",
        "abandoned": None,
        "keying": "bucketed_scale",
    }
    return [
        {
            **common,
            "segment_kind": "QUEUE",
            "date": last,
            "queue_time": 15 * n_tasks,
            "ring_time": None,
            "talk_time": None,
            "wrapup_time": None,
            "abandon_time": base_epoch,
        },
        {
            **common,
            "segment_kind": "CONVERSATION",
            "date": last + dt.timedelta(seconds=15),
            "queue_time": 15 * n_tasks,
            "ring_time": 10 * n_tasks,
            "talk_time": 300 * n_tasks,
            "wrapup_time": 45 * n_tasks,
            "abandon_time": base_epoch + 15,
        },
    ]


def segment_audit_summary(seg: DataFrame) -> DataFrame:
    """The single-pass audit reduction over a segments DataFrame — one
    row per segment kind in the stream family's column shape (see
    ``_scale_stream_summary_golden_rows`` for the fingerprint design).
    Separated from the streaming runner so its DETECTION power is
    unit-testable: tests/test_streaming.py's negative controls feed
    hand-corrupted row sets (duplicate, compensated drop+duplicate,
    wrong agent/date/measures) and assert the fingerprint moves."""
    from ..taskrouter.scale import BASE_EPOCH_S, SPACING_S

    # Single-pass audit expressions (see the golden-rows docstring
    # for why moments + per-row counters replace countDistincts:
    # O(1) aggregation state vs an OOM-ing 5-way distinct expand).
    i = F.substring("conversation_id", 5, 20).cast("long")
    is_conv = F.col("segment_kind") == "CONVERSATION"
    expected_date = F.timestamp_seconds(
        F.lit(BASE_EPOCH_S)
        + i * SPACING_S
        + F.when(is_conv, F.lit(15)).otherwise(F.lit(0))
    )
    measures_ok = F.when(
        is_conv,
        (F.col("queue_time") == 15)
        & (F.col("ring_time") == 10)
        & (F.col("talk_time") == 300)
        & (F.col("wrapup_time") == 45),
    ).otherwise(
        (F.col("queue_time") == 15)
        & F.col("ring_time").isNull()
        & F.col("talk_time").isNull()
        & F.col("wrapup_time").isNull()
    )

    def _bad(cond) -> F.Column:
        return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))

    out = (
        seg.groupBy("segment_kind")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(i).alias("id_sum"),
            F.sum(i * i).alias("id_sumsq"),
            F.min(i).alias("id_min"),
            F.max(i).alias("id_max"),
            _bad(
                F.col("reservation_sid")
                != F.concat(F.lit("RSS-"), i.cast("string"))
            ).alias("bad_res"),
            _bad(
                F.col("agent_uuid")
                != F.concat(F.lit("WKS-"), (i % 50).cast("string"))
            ).alias("bad_agent"),
            _bad(F.col("date") != expected_date).alias("bad_date"),
            _bad(~measures_ok).alias("bad_measures"),
            F.max("date").alias("max_date"),
            F.min("date").alias("min_date"),
            F.sum("queue_time").alias("sum_queue"),
            F.sum("ring_time").alias("sum_ring"),
            F.sum("talk_time").alias("sum_talk"),
            F.sum("wrapup_time").alias("sum_wrapup"),
        )
        .select(
            "segment_kind",
            F.concat(
                F.lit("rows="), F.col("n_rows").cast("string"),
                F.lit(";id_sum="), F.col("id_sum").cast("string"),
                F.lit(";id_sumsq="), F.col("id_sumsq").cast("string"),
            ).alias("conversation_id"),
            F.concat(
                F.lit("id_min="), F.col("id_min").cast("string"),
                F.lit(";id_max="), F.col("id_max").cast("string"),
            ).alias("reservation_sid"),
            F.concat(
                F.lit("bad_res="), F.col("bad_res").cast("string"),
                F.lit(";bad_agent="), F.col("bad_agent").cast("string"),
                F.lit(";bad_date="), F.col("bad_date").cast("string"),
                F.lit(";bad_measures="),
                F.col("bad_measures").cast("string"),
            ).alias("agent_uuid"),
            F.col("max_date").alias("date"),
            F.col("sum_queue").alias("queue_time"),
            F.col("sum_ring").alias("ring_time"),
            F.col("sum_talk").alias("talk_time"),
            F.col("sum_wrapup").alias("wrapup_time"),
            F.lit(None).cast("string").alias("abandoned"),
            F.unix_timestamp("min_date").alias("abandon_time"),
        )
    )
    return out


def scale_stream_summary(
    spark: SparkSession, n_tasks: int = SCALE_STREAM_TASKS
) -> DataFrame:
    """Run the bucketed streaming lifecycle over ``n_tasks``
    closed-form conversations (streaming/taskrouter_stream.py::
    run_scale_stream — ordered multi-batch replay, RocksDB state,
    durable parquet sink) and reduce the 2*n_tasks result rows
    DISTRIBUTIVELY with :func:`segment_audit_summary`. The reduction
    happens before the sink's tempdir vanishes; the 2-row result is
    localCheckpointed (the ``taskrouter_segments_incremental``
    pattern)."""
    import tempfile

    from ..registry import pin_checkpoint
    from ..streaming.taskrouter_stream import run_scale_stream

    with tempfile.TemporaryDirectory() as d:
        seg = run_scale_stream(spark, d, n_tasks)
        out = segment_audit_summary(seg).localCheckpoint(eager=True)
    pin_checkpoint(out)
    return out.withColumn("keying", F.lit("bucketed_scale"))


@register(
    "streaming_taskrouter_segments",
    bench=False,
    oracle=golden_values_sql(
        _stream_golden_rows_keyed()
        + _scale_stream_summary_golden_rows(SCALE_STREAM_TASKS),
        _STREAM_COLS + [("keying", "VARCHAR")],
    ),
    doc=(
        "Structured Streaming lifecycle over the fixture (watermark + "
        "applyInPandasWithState, which drops redelivered CloudEvent ids "
        "in its task state; event-time timeout → CORRUPTED "
        "CONVERSATION). One state function runs under BOTH "
        "groupings, union-tagged by `keying`: 'per_task' (one task per "
        "group — Spark's own per-key timeouts, the canonical form) and "
        "'bucketed' (tasks sharded over hash buckets — the throughput "
        "form, 8x events/s, exact timeout parity via each task's own "
        "deadline vs the current watermark); both keep one state "
        "document per group of tasks. The oracle is the batch "
        "simulator's terminal segments duplicated per keying — "
        "streaming/batch parity AND "
        "keying equivalence ARE the correctness claim. The "
        "'bucketed_scale' section is the STREAMING SCALE CERTIFICATE "
        "(round 15): 1M closed-form conversations — 5M CloudEvents, "
        "250x the fixture — through the ordered multi-batch replay, "
        "RocksDB state and the durable parquet sink, reduced "
        "distributively to one summary row per segment kind "
        "(counts, distinct ids, measure sums, date range) and checked "
        "against the generator's closed form: the streaming analogue "
        "of taskrouter_segments_scale, with a full hash oracle."
    ),
)
def streaming_taskrouter_segments(
    spark: SparkSession, sf_dir: str, include_scale_section: bool = True
) -> DataFrame:
    import tempfile

    from ..streaming.taskrouter_stream import run_fixture_stream

    with tempfile.TemporaryDirectory() as d:
        per_task = run_fixture_stream(spark, d).withColumn(
            "keying", F.lit("per_task")
        )
    with tempfile.TemporaryDirectory() as d2:
        bucketed = run_fixture_stream(spark, d2, buckets=8).withColumn(
            "keying", F.lit("bucketed")
        )
    out = per_task.unionByName(bucketed)
    # Default-ON so the registered query's result set is a pure
    # function of (sf_dir) — the driver and its oracle always see the
    # scale section (the dedup_exact_documents precedent).
    if include_scale_section:
        out = out.unionByName(scale_stream_summary(spark))
    return out


def _stream_golden_rows_wide() -> list[dict]:
    """Wide-stream expectation: the simulator's full terminal segment rows
    plus the CONVERSATION IN PROGRESS rows relabeled CORRUPTED (all other
    64 columns unchanged — the timeout only renames the kind), plus the
    closed AGENT STATUS rows (the worker-keyed lifecycle emits an
    interval when the next activity change closes it; the still-open
    AGENT STATUS IN PROGRESS tail is state, surfaced only by the batch
    recompute)."""
    rows = []
    for r in _sim().segment_rows():
        kind = r["segment_kind"]
        if kind in _STREAM_TERMINAL or kind == "AGENT STATUS":
            rows.append(dict(r))
        elif kind == "CONVERSATION IN PROGRESS":
            rows.append({**r, "segment_kind": "CORRUPTED CONVERSATION"})
    return rows


@register(
    "streaming_taskrouter_segments_wide",
    bench=False,
    oracle=golden_values_sql(_stream_golden_rows_wide(), S.SEGMENT_COLUMNS),
    doc=(
        "The FULL ~65-column conversations fact as an append stream: the "
        "stateful lifecycle emits (branch, kind, carrier CloudEvent, "
        "override measures) and the stateless shared wide projection "
        "(plans.taskrouter.wide_project_stream) expands them — streaming "
        "and batch run the same JVM projection expressions, so wide parity "
        "is structural. Also runs the worker-keyed AGENT-STATUS lifecycle "
        "(reference events.js:639-664) as its own streaming query over "
        "the same source — Spark permits one applyInPandasWithState per "
        "query, so the deployment topology is two jobs with independent "
        "state stores landing in one fact table — and unions its closed "
        "AGENT STATUS emissions. Oracle = the independent simulator's "
        "wide rows (terminal + CORRUPTED + closed AGENT STATUS)."
    ),
)
def streaming_taskrouter_segments_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..streaming.taskrouter_stream import run_fixture_stream

    with tempfile.TemporaryDirectory() as d:
        return run_fixture_stream(spark, d, wide=True, agent=True)


_HOURLY_COLS = [
    ("window_start", "TIMESTAMP"),
    ("eventtype", "VARCHAR"),
    ("n_events", "BIGINT"),
]


def _hourly_golden_rows() -> list[dict]:
    """Expected watermark+window output: the fixture's CloudEvent-id-
    deduplicated events bucketed by hour and eventtype (every fixture
    window closes under the far-future advancer; the advancer's own
    window does not, so it never appears)."""
    from ..taskrouter.fixture import FIXTURE_EVENTS

    seen, counts = set(), {}
    for e in FIXTURE_EVENTS:
        # same admission rules as plans.taskrouter.admit_events: taskrouter
        # types only (the fixture plants a call-summary event to exercise
        # the F1 filter)
        if not e["type"].startswith(S.TASKROUTER_PREFIX) or e["id"] in seen:
            continue
        seen.add(e["id"])
        p = e["data"]["payload"]
        ts = dt.datetime.fromisoformat(p["timestamp"].replace("Z", ""))
        key = (ts.replace(minute=0, second=0, microsecond=0), p["eventtype"])
        counts[key] = counts.get(key, 0) + 1
    return [
        {"window_start": k[0], "eventtype": k[1], "n_events": n}
        for k, n in sorted(counts.items(), key=lambda kv: (kv[0][0], kv[0][1]))
    ]


@register(
    "streaming_hourly_event_counts",
    bench=False,
    oracle=golden_values_sql(_hourly_golden_rows(), _HOURLY_COLS),
    doc=(
        "The canonical Structured Streaming shape (the BASELINE-declared "
        "approach): watermark + tumbling-window per-hour/per-eventtype "
        "counts in append mode, deduplicated by CloudEvent id within the "
        "watermark. A far-future advancer event closes every fixture "
        "window deterministically; the golden oracle is an independent "
        "Python rebucketing of the fixture."
    ),
)
def streaming_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..streaming.taskrouter_stream import run_fixture_hourly_stream

    with tempfile.TemporaryDirectory() as d:
        return run_fixture_hourly_stream(spark, d)


@register(
    "taskrouter_report_agents",
    oracle=golden_values_sql(
        [
            {
                "agent_id": a["agent_id"],
                "joined": a["date_joined"].strftime("%Y-%m-%d %H:%M:%S")
                if a["date_joined"]
                else None,
                "left": a["date_left"].strftime("%Y-%m-%d %H:%M:%S")
                if a["date_left"]
                else None,
                "email": a["email"],
                "agent_uuid": a["agent_uuid"],
                "role": a["role"],
                "team_name": a["team_name"],
                "department_name": a["department_name"],
                "manager": a["manager"],
                "state": a["state"],
            }
            for a in _sim().agent_rows()
        ],
        _REPORT_AGENT_COLS,
    ),
    doc="O2 report surface: the agents table as the report renders it.",
)
def taskrouter_report_agents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ag = materialized_agents(spark)
    return ag.select(
        "agent_id",
        F.date_format("date_joined", "yyyy-MM-dd HH:mm:ss").alias("joined"),
        F.date_format("date_left", "yyyy-MM-dd HH:mm:ss").alias("left"),
        "email",
        "agent_uuid",
        "role",
        "team_name",
        "department_name",
        "manager",
        "state",
    )


@register(
    "taskrouter_segments_enriched",
    oracle=f"""
        WITH seg AS ({golden_values_sql(_sim().segment_rows(), S.SEGMENT_COLUMNS)}),
        ag AS ({golden_values_sql(_sim().agent_rows(), S.AGENT_COLUMNS)})
        SELECT
          seg.conversation_id,
          seg.segment_kind,
          seg.reservation_sid,
          seg.agent_uuid,
          seg.queue_time,
          seg.talk_time,
          ag.email AS agent_email,
          ag.role AS agent_role,
          ag.team_name AS agent_team,
          ag.manager AS agent_manager
        FROM seg LEFT JOIN ag ON seg.agent_uuid = ag.agent_uuid
    """,
    doc=(
        "Star-schema enrichment: the segments FACT left-joined to the "
        "agents DIMENSION on agent_uuid — the report join every Flex "
        "Insights view runs. The dimension is explicitly broadcast "
        "(agents is always the small side: thousands of rows vs billions "
        "of segments), so the fact NEVER shuffles for this join — the "
        "plan is scan→BroadcastHashJoin, the only correct shape at "
        "100 TB. Both inputs come from the materialized store."
    ),
)
def taskrouter_segments_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = materialized_segments(spark)
    ag = materialized_agents(spark)
    dim = F.broadcast(
        ag.select(
            F.col("agent_uuid").alias("dim_agent_uuid"),
            F.col("email").alias("agent_email"),
            F.col("role").alias("agent_role"),
            F.col("team_name").alias("agent_team"),
            F.col("manager").alias("agent_manager"),
        )
    )
    return (
        seg.join(dim, seg["agent_uuid"] == dim["dim_agent_uuid"], "left")
        .select(
            "conversation_id",
            "segment_kind",
            "reservation_sid",
            "agent_uuid",
            "queue_time",
            "talk_time",
            "agent_email",
            "agent_role",
            "agent_team",
            "agent_manager",
        )
    )


@register(
    "taskrouter_materialized_roundtrip",
    bench=False,  # materialization harness: three parquet writes + read-back
    oracle=golden_values_sql(_sim().segment_rows(), S.SEGMENT_COLUMNS),
    doc=(
        "S4/S5/P12 sink round-trip: materialize the event log (append-only, "
        "event-date partitioned), the segments fact (segment-date "
        "partitioned, uuid row ids minted at write time) and the agents "
        "dimension to parquet, then read the fact BACK from storage. The "
        "build asserts every durable row carries a unique uuid (P12, "
        "reference events.js:217) before dropping it; the read-back rows "
        "must equal the golden-sim segment oracle — storage adds or loses "
        "nothing."
    ),
)
def taskrouter_materialized_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..registry import pin_checkpoint
    from ..sources.incremental import initialize_taskrouter

    cols = [c for c, _ in S.SEGMENT_COLUMNS]
    with tempfile.TemporaryDirectory() as d:
        paths = initialize_taskrouter(spark, fixture_df(spark), d)
        seg = spark.read.parquet(paths["segments"])
        ids = seg.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("uuid")).alias("nu"),
        ).head()
        if ids["n"] != ids["nu"] or ids["n"] == 0:
            raise AssertionError(
                f"P12 uuid contract violated: {ids['n']} rows, {ids['nu']} distinct uuids"
            )
        # also touch the other two sinks so the round-trip covers S4 + dim
        n_log = spark.read.parquet(paths["event_log"]).count()
        n_agents = spark.read.parquet(paths["agents"]).count()
        if n_log == 0 or n_agents == 0:
            raise AssertionError("empty event_log/agents materialization")
        out = seg.select(*cols).localCheckpoint(eager=True)
    pin_checkpoint(out)  # released by release_caches() post-consume
    return out
