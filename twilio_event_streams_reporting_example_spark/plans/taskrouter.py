"""TaskRouter segment engine: CloudEvents → conversations fact + agents
dimension, as a declarative batch recompute over the event log.

This is the Spark-first re-expression of the reference's per-event
mutating state machine (reference routes/events.js:513-667):

  reference (row-at-a-time, mutable)      this engine (set-wise, append-only)
  --------------------------------------  -----------------------------------
  per-event O(n) lookups into trEvents    one window/groupBy per correlation
    (events.js:74-157)                      key — as-of via running last(),
                                            reservation pivot via min/max-by
  IN PROGRESS row updated in place        kind decided declaratively: a
    (events.js:298-334)                     completed match → CONVERSATION,
                                            else CONVERSATION IN PROGRESS
  duplicate delivery double-inserts       dropDuplicates on CloudEvent id
    (events.js:488)                         (first arrival wins)
  arrival-order dependent (README.md:13)  event-time semantics throughout

Engine policy divergences from the reference are documented in
``taskrouter/sim.py`` (the golden-oracle generator) and applied
identically here — notably NULL measures instead of silently dropping
an event whose correlation partner is missing.

Scale design (100 TB):
  - The parsed event log is the only scanned input; every derivation is
    one hash shuffle on its natural key (task_sid for the queue as-of,
    reservation_sid for the reservation pivot, worker_sid for agent
    sessions + dimension). No shuffle reuses a skewed key twice in a row.
  - The as-of pairing is the O(n) running-``last()`` window formulation,
    not a range join: union entries+exits, sort within task_sid once.
  - Segment branches are unions of filtered projections over the SAME
    cached parse — Catalyst prunes each branch's columns independently.
  - Everything is built-in expressions (zero Python UDFs); the wide
    projection is ~65 JVM column expressions inside one codegen stage.
  - On a real cluster the event log would be date-partitioned parquet;
    here the fixture is tiny, but the plan shape is scale-invariant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.exprs import (
    coalesce_chain,
    hierarchy_join,
    js_falsy_to_null,
    map_channel,
    map_direction,
    roles_join,
    seconds_between,
    truncate_ms,
)
from ..registry import track
from ..taskrouter import schema as S

# --------------------------------------------------------------- ingest


def payload_event_cols(p: Column) -> list[Column]:
    """The parsed event columns (everything the wide projection reads)
    from a CloudEvent payload struct column — shared by the batch ingest
    and the streaming wide-projection step, so both paths decode one way."""
    ta_raw = p.getField("task_attributes")
    return [
        p.getField("eventtype").alias("eventtype"),
        p.getField("timestamp").cast("timestamp").alias("ts"),
        p.getField("task_sid").alias("task_sid"),
        p.getField("reservation_sid").alias("reservation_sid"),
        p.getField("worker_sid").alias("worker_sid"),
        F.from_json(ta_raw, S.TASK_ATTRIBUTES_STRUCT).alias("ta"),
        # hierarchy custom fields are string-OR-array<string>, which no
        # struct schema can capture — extract the raw JSON text ONCE here
        # (the wide projection used to re-run get_json_object per branch)
        F.get_json_object(
            ta_raw, "$.conversations.handling_department_name_in_hierarchy"
        ).alias("ta_hier_dept"),
        F.get_json_object(ta_raw, "$.conversations.team_name_in_hierarchy").alias(
            "ta_hier_team"
        ),
        F.from_json(p.getField("worker_attributes"), S.WORKER_ATTRIBUTES_STRUCT).alias("wa"),
        p.getField("task_completed_reason").alias("task_completed_reason"),
        p.getField("task_canceled_reason").alias("task_canceled_reason"),
        p.getField("task_channel_unique_name").alias("tcun"),
        p.getField("workflow_name").alias("workflow_name"),
        p.getField("task_queue_name").alias("task_queue_name"),
        p.getField("task_queue_sid").alias("task_queue_sid"),
        p.getField("worker_activity_name").alias("worker_activity_name"),
        p.getField("worker_time_in_previous_activity").alias("wtip"),
    ]


def admit_events(raw: DataFrame, line: str, *keep: str) -> DataFrame:
    """CloudEvent JSON lines (column ``line``) → the admitted TaskRouter
    events ``(event_id, *keep, p)``, ``p`` the payload struct: the batch
    ingest and the event stream admit here. PERMISSIVE parse: a line
    that fails the envelope schema has a null id and is dropped, which
    mirrors the reference's per-event error isolation (events.js:672-674).
    Redelivered ids pass through."""
    env = raw.select(*keep, F.from_json(line, S.ENVELOPE_STRUCT).alias("e"))
    return (
        env.filter(F.col("e.type").startswith(S.TASKROUTER_PREFIX))
        .filter(F.col("e.id").isNotNull())
        .select(F.col("e.id").alias("event_id"), *keep, F.col("e.data.payload").alias("p"))
    )


def ingest_taskrouter(raw: DataFrame) -> DataFrame:
    """CloudEvent JSON strings → parsed, deduplicated event log (S1+S3).
    ``raw``: (arrival_idx long, raw string)."""
    # the shuffle on id carries the payload struct, not the projection
    return dedup_first_arrival(admit_events(raw, "raw", "arrival_idx")).select(
        "event_id", "arrival_idx", *payload_event_cols(F.col("p"))
    )


def dedup_first_arrival(events: DataFrame) -> DataFrame:
    """One row per CloudEvent ``event_id``, the first arrival
    (``arrival_idx``) winning: one shuffle on the id. The batch ingest
    and the merge's history ∪ batch union both deduplicate here."""
    w = W.partitionBy("event_id").orderBy("arrival_idx")
    return events.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


# ------------------------------------------------- wide projection (P1-P12)

def _null_long() -> Column:
    # built lazily: F.lit needs an active SparkContext, and this module
    # must stay importable before the session exists
    return F.lit(None).cast("long")


def _null_ts() -> Column:
    return F.lit(None).cast("timestamp")


_falsy = js_falsy_to_null  # JS ``||`` treats '' as missing (strings only)


def _hier(col: Column) -> Column:
    """String-or-array<string> custom field → ' ▸ '-joined string
    (reference events.js:457,462). ``col`` is the raw JSON text from
    get_json_object: arrays arrive as '["a","b"]' JSON, scalars plain."""
    return F.when(
        col.startswith("["),
        hierarchy_join(F.from_json(col, "array<string>")),
    ).otherwise(col)


def default_segment_exprs(df: DataFrame) -> dict[str, Column]:
    """The ~65-column default segment projection of one event row
    (reference events.js:337-485), as named JVM column expressions.

    custom_data = {...ta.conversations, ...worker_attributes}
    (events.js:353-356, worker wins) → per-field coalesce; fields the
    worker schema doesn't define read straight from ta.conversations.
    """
    conv = F.col("ta.conversations")
    wa = F.col("wa")

    def cust(field: str, falsy: bool = False) -> Column:
        c = conv.getField(field)
        if field in S.WORKER_ATTR_STRINGS:
            c = F.coalesce(wa.getField(field), c)
        return _falsy(c) if falsy else c

    def cust_m(field: str) -> Column:
        # numeric custom measure: plain assignment, 0 is kept (no ||)
        return conv.getField(field)

    tcun = F.col("tcun")
    dir_raw = F.col("ta.direction")
    ts_sec = truncate_ms(F.col("ts"))

    exprs: dict[str, Column] = {
        "conversation_id": coalesce_chain(
            cust("conversation_id", falsy=True),
            _falsy(F.col("task_sid")),
            _falsy(F.col("worker_sid")),
        ),
        "segment_external_id": coalesce_chain(
            _falsy(F.col("task_sid")), _falsy(F.col("worker_sid"))
        ),
        "reservation_sid": F.coalesce(F.col("reservation_sid"), F.lit("")),
        "agent_uuid": F.coalesce(F.col("worker_sid"), F.lit("")),
        "date": ts_sec,
        "time": ts_sec,
        "activity_time": F.col("wtip"),
        "abandoned": F.coalesce(cust("abandoned", falsy=True), F.lit("N")),
        "abandoned_phase": cust("abandoned_phase"),
        "activity": F.coalesce(cust("activity", falsy=True), F.col("worker_activity_name")),
        "campaign": cust("campaign"),
        "case": cust("case"),
        # events.js:420 — voice→'Call', chat→'Chat', else pass-through
        "channel": F.coalesce(cust("channel", falsy=True), map_channel(tcun)),
        "content": cust("content"),
        "destination": cust("destination"),
        # events.js:443 — note the default 'Inbound' branch
        "direction": F.coalesce(cust("direction", falsy=True), map_direction(dir_raw)),
        "external_contact": F.coalesce(
            cust("external_contact", falsy=True),
            F.when(dir_raw == "outbound", F.col("ta").getField("from")).otherwise(
                F.col("ta.to")
            ),
        ),
        "followed_by": cust("followed_by"),
        "handling_department_id": cust("department_id"),
        "handling_department_name": cust("department_name"),
        "handling_department_name_in_hierarchy": _hier(F.col("ta_hier_dept")),
        "handling_team_id": F.coalesce(
            cust("team_id", falsy=True), cust("team", falsy=True), F.col("task_queue_sid")
        ),
        "handling_team_name": F.coalesce(
            cust("team_name", falsy=True), cust("team", falsy=True), F.col("task_queue_name")
        ),
        "handling_team_name_in_hierarchy": F.coalesce(
            wa.getField("team_name_in_hierarchy"),
            _hier(F.col("ta_hier_team")),
        ),
        "hang_up_by": cust("hang_up_by"),
        "in_business_hours": cust("in_business_hours"),
        "initiated_by": cust("initiated_by"),
        "initiative": cust("initiative"),
        "ivr_path": cust("ivr_path"),
        "language": cust("language"),
        "order": cust("order"),
        "outcome": F.coalesce(
            cust("outcome", falsy=True),
            _falsy(F.col("ta.reason")),
            _falsy(F.col("task_completed_reason")),
            _falsy(F.col("task_canceled_reason")),
        ),
        "preceded_by": cust("preceded_by"),
        "productive": cust("productive"),
        "queue": F.coalesce(cust("queue", falsy=True), F.col("task_queue_name")),
        "segment_link": cust("segment_link"),
        "service_level": cust("service_level"),
        "source": cust("source"),
        "virtual": cust("virtual"),
        "workflow": F.coalesce(cust("workflow", falsy=True), F.col("workflow_name")),
    }
    for m in S.CUSTOM_MEASURES:
        exprs[m] = cust_m(m)  # plain assignment: custom value or null, 0 kept
    for i in range(1, 11):
        exprs[f"conversation_attribute_{i}"] = cust(f"conversation_attribute_{i}")
        exprs[f"conversation_label_{i}"] = cust(f"conversation_label_{i}")
    return exprs


# Parsed event columns every narrow branch carries into the final wide
# projection (everything default_segment_exprs reads).
_EVENT_COLS = [
    "eventtype", "ts", "task_sid", "reservation_sid", "worker_sid",
    "ta", "ta_hier_dept", "ta_hier_team", "wa",
    "task_completed_reason", "task_canceled_reason",
    "tcun", "workflow_name", "task_queue_name", "task_queue_sid",
    "worker_activity_name", "wtip",
]
_OV_LONGS = [
    "ov_queue_time", "ov_ring_time", "ov_talk_time", "ov_wrapup_time",
    "ov_abandon_time", "ov_activity_time",
]


def _branch(df: DataFrame, tag: str, kind: Column, **ov: Column) -> DataFrame:
    """One narrow state-machine branch: the parsed event columns plus this
    branch's computed override columns (nulls where the branch defines no
    override). The wide ~65-column projection is applied ONCE after the
    branches union — applying it per branch made the optimizer tree ~6×
    bigger for zero semantic gain (the dominant cost on small inputs, and
    redundant expression trees at any scale)."""
    cols = [F.col(c) for c in _EVENT_COLS]
    cols.append(F.lit(tag).alias("branch"))
    cols.append(kind.alias("segment_kind"))
    for name in _OV_LONGS:
        cols.append(ov.get(name, _null_long()).alias(name))
    cols.append(ov.get("ov_date", _null_ts()).alias("ov_date"))
    cols.append(
        ov.get("ov_segment_link", F.lit(None).cast("string")).alias("ov_segment_link")
    )
    cols.append(
        ov.get("ov_segment_link_set", F.lit(False)).alias("ov_segment_link_set")
    )
    return df.select(*cols)


def _wide_project(un: DataFrame) -> DataFrame:
    """Default projection ⊕ per-branch overrides, in canonical column order
    (the engine analog of ``{...defaultSegment, ...segmentDetails}``,
    reference events.js:215-218) — one projection over the branch union,
    overrides dispatched on the branch tag."""
    base = default_segment_exprs(un)
    b = F.col("branch")
    is_ab = b.isin("queue_ab", "convo_ab")
    is_queue = b.isin("queue_acc", "queue_ab")
    completed = F.col("ov_segment_link_set")  # true iff convo row w/ completed
    overrides: dict[str, Column] = {
        "segment_kind": F.col("segment_kind"),
        # sim inserts always override queue_time on accepted/abandon paths
        # (even with NULL), never on failed/agent rows (custom passes through)
        "queue_time": F.when(
            b.isin("queue_acc", "convo", "queue_ab", "convo_ab"), F.col("ov_queue_time")
        ).otherwise(base["queue_time"]),
        "ring_time": F.when(
            b.isin("convo", "failed"), F.col("ov_ring_time")
        ).otherwise(base["ring_time"]),
        # talk/wrapup are written by the completed UPDATE only — an open
        # IN PROGRESS row keeps its custom measures (sim.py:326-333)
        "talk_time": F.when(
            (b == "convo") & completed, F.col("ov_talk_time")
        ).otherwise(base["talk_time"]),
        "wrapup_time": F.when(
            (b == "convo") & completed, F.col("ov_wrapup_time")
        ).otherwise(base["wrapup_time"]),
        "abandon_time": F.when(is_ab, F.col("ov_abandon_time")).otherwise(
            base["abandon_time"]
        ),
        "abandoned": F.when(is_ab, F.lit("Yes")).otherwise(base["abandoned"]),
        "abandoned_phase": F.when(is_ab, F.lit("Queue")).otherwise(
            base["abandoned_phase"]
        ),
        "date": F.when(is_queue, F.col("ov_date")).otherwise(base["date"]),
        "time": F.when(is_queue, F.col("ov_date")).otherwise(base["time"]),
        "activity": F.when(b == "agent", F.col("worker_activity_name")).otherwise(
            base["activity"]
        ),
        "activity_time": F.when(
            b == "agent", F.col("ov_activity_time")
        ).otherwise(base["activity_time"]),
        # completed's spread overwrites segment_link even with null
        "segment_link": F.when(completed, F.col("ov_segment_link")).otherwise(
            base["segment_link"]
        ),
    }
    return un.select(
        *[
            (overrides[name] if name in overrides else base[name])
            .cast(S.SPARK_TYPE[t])
            .alias(name)
            for name, t in S.SEGMENT_COLUMNS
        ]
    )


def wide_project_stream(emitted: DataFrame) -> DataFrame:
    """The full ~65-column wide projection over the streaming state
    machine's emissions (works on batch DataFrames too — it is stateless).

    ``emitted``: (branch, segment_kind, carrier_raw, ov_*) rows — the
    carrier is the raw CloudEvent whose payload supplies every base
    column (the accepted event for QUEUE/CONVERSATION rows, the failed
    reservation event for terminal ring rows, the task event for abandon
    rows), exactly the event the batch branch projects from. Because the
    carrier is re-parsed with :func:`payload_event_cols` and expanded
    with the same :func:`_wide_project`, streaming and batch output are
    the same JVM expressions by construction — the parity test asserts
    it, the shared code makes it structural."""
    p = F.from_json("carrier_raw", S.ENVELOPE_STRUCT).getField("data").getField("payload")
    parsed = emitted.select(
        *payload_event_cols(p),
        "branch",
        "segment_kind",
        *[F.col(c) for c in _OV_LONGS],
        "ov_date",
        "ov_segment_link",
        "ov_segment_link_set",
    )
    return _wide_project(parsed)


# --------------------------------------------------------- correlations
#
# Two window passes, one shuffle each — and NO correlation joins:
#
#   pass R (reservation_sid): created as-of, first-accepted rank, first
#     completed (+ its segment_link), eligible wrapup — every anchor
#     lands directly on the rows that need it via running / whole-
#     partition windows over one exchange.
#   pass T (task_sid): queue-entry as-of — exit rows (first-accepted +
#     task aborts) ride along the entries union and pick up their
#     running-last entry_ts in place.
#
# An earlier formulation shuffled reservation_sid three times (accepted
# row_number, created as-of, wrapup/completed pivot) and joined each
# result back; the anchors are identical, but at 100 TB the extra
# exchanges and join shuffles dominate the pipeline cost.

_ANCHOR_COLS = [
    ("created_ts", "timestamp"),
    ("completed_ts", "timestamp"),
    ("completed_segment_link", "string"),
    ("has_completed", "boolean"),
    ("wrapup_ts", "timestamp"),
]


def _reservation_pass(parsed: DataFrame) -> DataFrame:
    """Every reservation-keyed anchor in one shuffle.

    - ``created_ts``: ring anchor (D2) — the latest reservation.created
      processed STRICTLY earlier in event-time order (ts, arrival_idx).
      The reference resolves the lookup AT exit-processing time
      (events.js:92-104 scans only already-cached events), so a created
      timestamped after the exit yields NULL ring_time, never negative.
    - ``acc_cum``: running count of accepted events → ``acc_cum == 1`` on
      an accepted row is "first accepted wins" (F3) without a second
      row_number shuffle.
    - ``completed_ts``/``completed_segment_link``/``has_completed``: the
      FIRST completed event (min over a (ts, arrival_idx, link) struct;
      the unique tiebreak means the lexicographic min is exactly the
      first-processed completed). A null link still OVERWRITES the
      accepted event's custom value (events.js:578-583 spread), hence
      the separate presence flag.
    - ``wrapup_ts``: latest wrapup the completed event can SEE
      (events.js:181) — strictly before the first completed in event
      time; with no completed, the latest wrapup overall.
    """
    et = F.col("eventtype")
    is_created = et == S.ET_RESERVATION_CREATED
    is_accepted = et == S.ET_RESERVATION_ACCEPTED
    is_wrapup = et == S.ET_RESERVATION_WRAPUP
    is_completed = et == S.ET_RESERVATION_COMPLETED
    is_failed = et.isin(*S.FAILED_RESERVATION_EVENTS)
    run = (
        W.partitionBy("reservation_sid")
        .orderBy("ts", "arrival_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    whole = W.partitionBy("reservation_sid")
    r = (
        parsed.filter(is_created | is_accepted | is_wrapup | is_completed | is_failed)
        .withColumn(
            "created_ts",
            F.last(F.when(is_created, F.col("ts")), ignorenulls=True).over(run),
        )
        .withColumn("acc_cum", F.sum(F.when(is_accepted, 1).otherwise(0)).over(run))
        .withColumn(
            "compl",
            F.min(
                F.when(
                    is_completed,
                    F.struct(
                        F.col("ts"),
                        F.col("arrival_idx"),
                        F.col("ta.conversations.segment_link").alias("link"),
                    ),
                )
            ).over(whole),
        )
    )
    # second projection: window exprs may not reference sibling window
    # exprs in one select; same partitioning → no extra exchange
    return (
        r.withColumn("completed_ts", F.col("compl.ts"))
        .withColumn("completed_segment_link", F.col("compl.link"))
        .withColumn("has_completed", F.col("compl").isNotNull())
        .withColumn(
            "wrapup_ts",
            F.max(
                F.when(
                    is_wrapup
                    & (F.col("compl").isNull() | (F.col("ts") < F.col("compl.ts"))),
                    F.col("ts"),
                )
            ).over(whole),
        )
        .drop("compl")
    )


def _with_null_anchors(df: DataFrame) -> DataFrame:
    """Append typed-null anchor columns so a non-reservation row can ride
    the task-pass union alongside reservation-pass output."""
    return df.select(
        "*", *[F.lit(None).cast(t).alias(n) for n, t in _ANCHOR_COLS]
    )


def _task_pass(parsed: DataFrame, exits: DataFrame) -> DataFrame:
    """Queue-entry as-of (F6/D1) in one task_sid shuffle, ride-along style:
    the exit rows (first-accepted reservations + task aborts, already
    carrying their reservation anchors) are unioned with the bare
    entered/transfer-initiated events and pick up the running
    ``last(entry_ts)`` in place — no join back by event_id.

    Ordering (ts, is_entry, arrival_idx): an exit sorts BEFORE a same-ts
    entry, so the running last sees only entries with ts STRICTLY earlier
    (the reference compares raw ms timestamps with ``<``, events.js:80).
    """
    entries = _with_null_anchors(
        parsed.filter(
            F.col("eventtype").isin(S.ET_TASK_QUEUE_ENTERED, S.ET_TASK_TRANSFER_INITIATED)
        )
    ).withColumn("is_entry", F.lit(1))
    un = entries.unionByName(exits.withColumn("is_entry", F.lit(0)))
    w = (
        W.partitionBy("task_sid")
        .orderBy("ts", "is_entry", "arrival_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    entry_ts = F.last(F.when(F.col("is_entry") == 1, F.col("ts")), ignorenulls=True).over(w)
    return (
        un.withColumn("entry_ts", entry_ts)
        .filter(F.col("is_entry") == 0)
        .drop("is_entry")
    )


# ---------------------------------------------------------- the segments


def taskrouter_segments_df(spark: SparkSession, raw: DataFrame) -> DataFrame:
    """The conversations fact table: every §2.5 transition as a union of
    filtered projections over one parsed event log.

    Shuffle budget (the whole fact table): dedup (id) → reservation pass
    (reservation_sid) → task pass (task_sid) ∥ agent pass (worker_sid).
    Four hash exchanges total, zero correlation joins."""
    return segments_from_parsed(spark, ingest_taskrouter(raw))


def segments_from_parsed(spark: SparkSession, parsed: DataFrame) -> DataFrame:
    """Fact recompute over an ALREADY-PARSED (and id-deduplicated) event
    log — the entry the incremental-maintenance path uses to rebuild only
    the affected conversations from the durable log."""
    # same defense as sources/tables.py: a non-UTC driver session would
    # render every truncated timestamp in local time and value-mismatch
    # the golden oracles even though the instants are correct
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    parsed = track(parsed.cache())
    et = F.col("eventtype")

    # pass R: every reservation-keyed anchor lands on its rows in place
    res = _reservation_pass(parsed)
    # first accepted per reservation (F3; event-time first)
    accepted = res.filter(
        (et == S.ET_RESERVATION_ACCEPTED) & (F.col("acc_cum") == 1)
    ).drop("acc_cum")
    failed = res.filter(et.isin(*S.FAILED_RESERVATION_EVENTS)).drop("acc_cum")
    abandons = _with_null_anchors(
        parsed.filter(et.isin(S.ET_TASK_CANCELED, S.ET_TASK_TRANSFER_FAILED))
    )

    # pass T: both exit families pick up entry_ts in one task_sid shuffle
    withentry = (
        _task_pass(parsed, accepted.unionByName(abandons))
        .withColumn("entry_date", truncate_ms(F.col("entry_ts")))
        .withColumn(
            "queue_time_calc",
            F.when(
                F.col("entry_ts").isNotNull(), seconds_between(F.col("ts"), F.col("entry_ts"))
            ),
        )
        .cache()
    )
    withentry = track(withentry)
    acc = (
        withentry.filter(et == S.ET_RESERVATION_ACCEPTED)
        .withColumn(
            "ring_time_calc",
            F.when(
                F.col("created_ts").isNotNull(),
                seconds_between(F.col("ts"), F.col("created_ts")),
            ),
        )
        .withColumn(
            "talk_time_calc",
            F.when(
                F.col("has_completed"),
                seconds_between(
                    F.coalesce(F.col("wrapup_ts"), F.col("completed_ts")), F.col("ts")
                ),
            ),
        )
        .withColumn(
            "wrapup_time_calc",
            F.when(
                F.col("has_completed"),
                F.when(
                    F.col("wrapup_ts").isNotNull(),
                    seconds_between(F.col("completed_ts"), F.col("wrapup_ts")),
                ).otherwise(F.lit(0)),
            ),
        )
    )
    aband = withentry.filter(et.isin(S.ET_TASK_CANCELED, S.ET_TASK_TRANSFER_FAILED))

    # QUEUE from accepted (only with an observed queue visit; engine policy)
    queue_acc = _branch(
        acc.filter(F.col("entry_ts").isNotNull()),
        "queue_acc",
        F.lit(S.QUEUE_SEGMENT),
        ov_queue_time=F.col("queue_time_calc"),
        ov_date=F.col("entry_date"),
    )

    # CONVERSATION (completed) / CONVERSATION IN PROGRESS (still open)
    convo = _branch(
        acc,
        "convo",
        F.when(F.col("has_completed"), F.lit(S.CONVO_SEG)).otherwise(
            F.lit(S.CONVO_IN_PROG_SEG)
        ),
        ov_queue_time=F.col("queue_time_calc"),
        ov_ring_time=F.col("ring_time_calc"),
        ov_talk_time=F.col("talk_time_calc"),
        ov_wrapup_time=F.col("wrapup_time_calc"),
        ov_segment_link=F.col("completed_segment_link"),
        ov_segment_link_set=F.coalesce(F.col("has_completed"), F.lit(False)),
    )

    # REJECTED / MISSED / REVOKED (terminal ring-only segments)
    failed_kind = (
        F.when(et == S.ET_RESERVATION_REJECTED, F.lit(S.CONVO_REJECTED))
        .when(et == S.ET_RESERVATION_RESCINDED, F.lit(S.CONVO_REVOKED))
        .otherwise(F.lit(S.CONVO_MISSED))
    )
    failed_seg = _branch(
        failed,
        "failed",
        failed_kind,
        ov_ring_time=F.when(
            F.col("created_ts").isNotNull(),
            seconds_between(F.col("ts"), F.col("created_ts")),
        ),
    )

    # abandoned-in-queue: QUEUE + CONVERSATION from the task event (D5)
    queue_aband = _branch(
        aband.filter(F.col("entry_ts").isNotNull()),
        "queue_ab",
        F.lit(S.QUEUE_SEGMENT),
        ov_queue_time=F.col("queue_time_calc"),
        ov_abandon_time=F.col("queue_time_calc"),
        ov_date=F.col("entry_date"),
    )
    convo_aband = _branch(
        aband,
        "convo_ab",
        F.lit(S.CONVO_SEG),
        ov_queue_time=F.col("queue_time_calc"),
        ov_abandon_time=F.col("queue_time_calc"),
    )

    # agent-status sessionization (D6): created/activity.update open
    # intervals; the NEXT activity.update closes the previous one and
    # carries its activity_time (reference events.js:639-664)
    openers = parsed.filter(et.isin(S.ET_WORKER_CREATED, S.ET_WORKER_ACTIVITY_UPDATE))
    sw = W.partitionBy("worker_sid").orderBy("ts", "arrival_idx")
    sess = openers.withColumn("next_wtip", F.lead("wtip").over(sw)).withColumn(
        "next_ts", F.lead("ts").over(sw)
    )
    agent_seg = _branch(
        sess,
        "agent",
        F.when(F.col("next_ts").isNotNull(), F.lit(S.AGENT_STATUS)).otherwise(
            F.lit(S.AGENT_STATUS_IN_PROGRESS)
        ),
        # closed → closing event's payload value; open → the opener's
        # own value for worker.created, explicit null for updates
        # (events.js:647,652)
        ov_activity_time=F.when(
            F.col("next_ts").isNotNull(), F.col("next_wtip")
        ).otherwise(
            F.when(et == S.ET_WORKER_CREATED, F.col("wtip")).otherwise(_null_long())
        ),
    )

    out = (
        queue_acc.unionByName(convo)
        .unionByName(failed_seg)
        .unionByName(queue_aband)
        .unionByName(convo_aband)
        .unionByName(agent_seg)
    )
    return _wide_project(out)


# ------------------------------------------------------- agents dimension


def taskrouter_agents_df(
    spark: SparkSession, raw: DataFrame, with_ordering: bool = False
) -> DataFrame:
    """Agents current-state dimension (S7 upsert → latest-wins recompute):
    latest worker.* event per worker supplies the 16 attribute columns
    (each reference upsert fully overwrites them, events.js:240-246);
    date_joined = first event's ts; state/date_left from the latest
    event's type. One window shuffle on worker_sid.

    ``with_ordering=True`` appends a ``last_ts`` column (the latest
    event's raw timestamp) so incremental upsert sinks can merge this
    batch's rows against an existing dimension (streaming foreachBatch
    path)."""
    return agents_from_parsed(ingest_taskrouter(raw), with_ordering)


def agents_from_parsed(parsed: DataFrame, with_ordering: bool = False) -> DataFrame:
    """The agents dimension over an ALREADY-PARSED (id-deduplicated)
    event log — the entry the incremental merge uses on the batch it has
    already parsed (see :func:`taskrouter_agents_df`)."""
    parsed.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    et = F.col("eventtype")
    workers = parsed.filter(et.isin(*S.WORKER_EVENT_TYPES))
    w = W.partitionBy("worker_sid")
    ww = w.orderBy(F.col("ts").desc(), F.col("arrival_idx").desc())
    latest = (
        workers.withColumn("rn", F.row_number().over(ww))
        .withColumn("first_ts", F.min("ts").over(w))
        .filter(F.col("rn") == 1)
    )
    wa = F.col("wa")
    is_deleted = et == S.ET_WORKER_DELETED
    cols = [
        F.col("worker_sid").alias("agent_uuid"),
        wa.getField("agent_attribute_1").alias("attribute_1"),
        wa.getField("agent_attribute_2").alias("attribute_2"),
        wa.getField("agent_attribute_3").alias("attribute_3"),
        wa.getField("email").alias("email"),
        wa.getField("agent_id").alias("agent_id"),
        wa.getField("location").alias("location"),
        wa.getField("phone").alias("phone"),
        roles_join(wa.getField("roles"), wa.getField("role")).alias("role"),
        wa.getField("team_id").alias("team_id"),
        wa.getField("team_name").alias("team_name"),
        wa.getField("team_name_in_hierarchy").alias("team_name_in_hierarchy"),
        wa.getField("manager").alias("manager"),
        wa.getField("department_id").alias("department_id"),
        wa.getField("department_name").alias("department_name"),
        wa.getField("department_name_in_hierarchy").alias("department_name_in_hierarchy"),
        F.when(is_deleted, F.lit(S.AGENT_DELETED)).otherwise(F.lit(S.AGENT_ACTIVE)).alias(
            "state"
        ),
        truncate_ms(F.col("first_ts")).alias("date_joined"),
        F.when(is_deleted, truncate_ms(F.col("ts"))).otherwise(_null_ts()).alias("date_left"),
    ]
    out = latest.select(*cols, F.col("ts").alias("last_ts"))
    ordered = [F.col(name).cast(S.SPARK_TYPE[t]).alias(name) for name, t in S.AGENT_COLUMNS]
    if with_ordering:
        ordered.append(F.col("last_ts"))
    return out.select(*ordered)
