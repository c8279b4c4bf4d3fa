"""CloudEvent envelope + TaskRouter payload schemas and the output column
specs (segments fact, agents dimension).

The envelope/payload shapes mirror the fields the reference actually
consumes (reference routes/events.js:338-352, 259-262, 487-501; see
FIXTURES.md §2). ``task_attributes`` / ``worker_attributes`` arrive as
JSON *strings* inside the payload and are parsed with ``from_json``
(S3); the two ``*_name_in_hierarchy`` custom fields can be a string OR
an array<string> in the wild (reference events.js:457,462), so they are
kept out of the typed struct and handled via ``get_json_object`` at
projection time.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------- event types

ET_TASK_QUEUE_ENTERED = "task-queue.entered"
ET_TASK_TRANSFER_INITIATED = "task.transfer-initiated"
ET_RESERVATION_CREATED = "reservation.created"
ET_RESERVATION_ACCEPTED = "reservation.accepted"
ET_RESERVATION_REJECTED = "reservation.rejected"
ET_RESERVATION_TIMEOUT = "reservation.timeout"
ET_RESERVATION_CANCELED = "reservation.canceled"
ET_RESERVATION_RESCINDED = "reservation.rescinded"
ET_RESERVATION_WRAPUP = "reservation.wrapup"
ET_RESERVATION_COMPLETED = "reservation.completed"
ET_TASK_CANCELED = "task.canceled"
ET_TASK_TRANSFER_FAILED = "task.transfer-failed"
ET_WORKER_CREATED = "worker.created"
ET_WORKER_DELETED = "worker.deleted"
ET_WORKER_ACTIVITY_UPDATE = "worker.activity.update"
ET_WORKER_ATTRIBUTES_UPDATE = "worker.attributes.update"

# the events that end a reservation without a conversation (terminal
# ring-only segments) and the events that update the agents dimension
FAILED_RESERVATION_EVENTS = (
    ET_RESERVATION_REJECTED,
    ET_RESERVATION_TIMEOUT,
    ET_RESERVATION_CANCELED,
    ET_RESERVATION_RESCINDED,
)
WORKER_EVENT_TYPES = (
    ET_WORKER_CREATED,
    ET_WORKER_DELETED,
    ET_WORKER_ACTIVITY_UPDATE,
    ET_WORKER_ATTRIBUTES_UPDATE,
)

TASKROUTER_PREFIX = "com.twilio.taskrouter"

# Segment kinds (reference events.js:27-35)
QUEUE_SEGMENT = "QUEUE"
CONVO_SEG = "CONVERSATION"
CONVO_IN_PROG_SEG = "CONVERSATION IN PROGRESS"
CONVO_CORRUPTED = "CORRUPTED CONVERSATION"
CONVO_REJECTED = "REJECTED CONVERSATION"
CONVO_MISSED = "MISSED CONVERSATION"
CONVO_REVOKED = "REVOKED CONVERSATION"
AGENT_STATUS = "AGENT STATUS"
AGENT_STATUS_IN_PROGRESS = "AGENT STATUS IN PROGRESS"

AGENT_ACTIVE = "Active"
AGENT_DELETED = "Deleted"

# ------------------------------------------------- custom-data field sets

# task_attributes.conversations numeric override fields (FIXTURES.md §2.3;
# reference events.js:369-408). All integer seconds (or priority rank).
CUSTOM_MEASURES = [
    "abandon_time",
    "queue_time",
    "ring_time",
    "talk_time",
    "wrapup_time",
    "time_in_seconds",
    "agent_talk_time",
    "longest_silence_before_agent",
    "longest_talk_by_agent",
    "silence_time",
    "cross_talk_time",
    "customer_talk_time",
    "longest_silence_before_customer",
    "longest_talk_by_customer",
    "hold_time",
    "average_response_time",
    "first_response_time",
    "focus_time",
    "ivr_time",
    "priority",
]

# task_attributes.conversations string override fields (the two
# *_name_in_hierarchy fields are handled separately — string-or-array).
CUSTOM_ATTRS = (
    [
        "conversation_id",
        "abandoned",
        "abandoned_phase",
        "activity",
        "campaign",
        "case",
        "channel",
        "content",
    ]
    + [f"conversation_attribute_{i}" for i in range(1, 11)]
    + [f"conversation_label_{i}" for i in range(1, 11)]
    + [
        "destination",
        "direction",
        "external_contact",
        "followed_by",
        "department_id",
        "department_name",
        "team_id",
        "team",
        "team_name",
        "hang_up_by",
        "in_business_hours",
        "initiated_by",
        "initiative",
        "ivr_path",
        "language",
        "order",
        "outcome",
        "preceded_by",
        "productive",
        "queue",
        "segment_link",
        "service_level",
        "source",
        "virtual",
        "workflow",
    ]
)

# worker_attributes fields (FIXTURES.md §2.5; reference events.js:258-295).
# The reference's custom-data merge spreads the WHOLE worker_attributes
# object over task_attributes.conversations (events.js:353-356), so any
# key both define is worker-wins — that's exactly these names.
WORKER_ATTR_STRINGS = [
    "agent_attribute_1",
    "agent_attribute_2",
    "agent_attribute_3",
    "email",
    "agent_id",
    "location",
    "phone",
    "role",
    "team_id",
    "team_name",
    "team_name_in_hierarchy",
    "manager",
    "department_id",
    "department_name",
    "department_name_in_hierarchy",
]

CONVERSATIONS_STRUCT = T.StructType(
    [T.StructField(f, T.LongType()) for f in CUSTOM_MEASURES]
    + [T.StructField(f, T.StringType()) for f in CUSTOM_ATTRS]
)

TASK_ATTRIBUTES_STRUCT = T.StructType(
    [
        T.StructField("direction", T.StringType()),
        T.StructField("from", T.StringType()),
        T.StructField("to", T.StringType()),
        T.StructField("reason", T.StringType()),
        T.StructField("conversations", CONVERSATIONS_STRUCT),
    ]
)

WORKER_ATTRIBUTES_STRUCT = T.StructType(
    [T.StructField("roles", T.ArrayType(T.StringType()))]
    + [T.StructField(f, T.StringType()) for f in WORKER_ATTR_STRINGS]
)

# Payload: the effective input schema (FIXTURES.md §2.2). The two
# *_attributes fields stay STRING here; they are from_json'd downstream.
PAYLOAD_STRUCT = T.StructType(
    [
        T.StructField("eventtype", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("task_sid", T.StringType()),
        T.StructField("reservation_sid", T.StringType()),
        T.StructField("worker_sid", T.StringType()),
        T.StructField("task_attributes", T.StringType()),
        T.StructField("worker_attributes", T.StringType()),
        T.StructField("task_completed_reason", T.StringType()),
        T.StructField("task_canceled_reason", T.StringType()),
        T.StructField("task_channel_unique_name", T.StringType()),
        T.StructField("workflow_name", T.StringType()),
        T.StructField("task_queue_name", T.StringType()),
        T.StructField("task_queue_sid", T.StringType()),
        T.StructField("worker_activity_name", T.StringType()),
        T.StructField("worker_time_in_previous_activity", T.LongType()),
    ]
)

# CloudEvent envelope (FIXTURES.md §2.1; reference events.js:487-501).
ENVELOPE_STRUCT = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField("payload", PAYLOAD_STRUCT),
                    T.StructField(
                        "publisher_metadata", T.MapType(T.StringType(), T.StringType())
                    ),
                    T.StructField("test_id", T.StringType()),
                ]
            ),
        ),
    ]
)

# ----------------------------------------------------- output column specs

# (name, sql_type) in canonical order. sql_type is the DuckDB/ANSI type
# used when rendering golden VALUES oracles; SPARK_TYPE gives the Spark
# type each one is cast to.
SPARK_TYPE = {"BIGINT": "long", "VARCHAR": "string", "TIMESTAMP": "timestamp"}

SEGMENT_COLUMNS: list[tuple[str, str]] = (
    [
        ("segment_kind", "VARCHAR"),
        ("conversation_id", "VARCHAR"),
        ("segment_external_id", "VARCHAR"),
        ("reservation_sid", "VARCHAR"),
        ("agent_uuid", "VARCHAR"),
        ("date", "TIMESTAMP"),
        ("time", "TIMESTAMP"),
        ("activity_time", "BIGINT"),
        ("abandon_time", "BIGINT"),
        ("queue_time", "BIGINT"),
        ("ring_time", "BIGINT"),
        ("talk_time", "BIGINT"),
        ("wrapup_time", "BIGINT"),
        ("time_in_seconds", "BIGINT"),
        ("agent_talk_time", "BIGINT"),
        ("longest_silence_before_agent", "BIGINT"),
        ("longest_talk_by_agent", "BIGINT"),
        ("silence_time", "BIGINT"),
        ("cross_talk_time", "BIGINT"),
        ("customer_talk_time", "BIGINT"),
        ("longest_silence_before_customer", "BIGINT"),
        ("longest_talk_by_customer", "BIGINT"),
        ("hold_time", "BIGINT"),
        ("average_response_time", "BIGINT"),
        ("first_response_time", "BIGINT"),
        ("focus_time", "BIGINT"),
        ("ivr_time", "BIGINT"),
        ("priority", "BIGINT"),
        ("abandoned", "VARCHAR"),
        ("abandoned_phase", "VARCHAR"),
        ("activity", "VARCHAR"),
        ("campaign", "VARCHAR"),
        ("case", "VARCHAR"),
        ("channel", "VARCHAR"),
        ("content", "VARCHAR"),
    ]
    + [(f"conversation_attribute_{i}", "VARCHAR") for i in range(1, 11)]
    + [(f"conversation_label_{i}", "VARCHAR") for i in range(1, 11)]
    + [
        ("destination", "VARCHAR"),
        ("direction", "VARCHAR"),
        ("external_contact", "VARCHAR"),
        ("followed_by", "VARCHAR"),
        ("handling_department_id", "VARCHAR"),
        ("handling_department_name", "VARCHAR"),
        ("handling_department_name_in_hierarchy", "VARCHAR"),
        ("handling_team_id", "VARCHAR"),
        ("handling_team_name", "VARCHAR"),
        ("handling_team_name_in_hierarchy", "VARCHAR"),
        ("hang_up_by", "VARCHAR"),
        ("in_business_hours", "VARCHAR"),
        ("initiated_by", "VARCHAR"),
        ("initiative", "VARCHAR"),
        ("ivr_path", "VARCHAR"),
        ("language", "VARCHAR"),
        ("order", "VARCHAR"),
        ("outcome", "VARCHAR"),
        ("preceded_by", "VARCHAR"),
        ("productive", "VARCHAR"),
        ("queue", "VARCHAR"),
        ("segment_link", "VARCHAR"),
        ("service_level", "VARCHAR"),
        ("source", "VARCHAR"),
        ("virtual", "VARCHAR"),
        ("workflow", "VARCHAR"),
    ]
)

AGENT_COLUMNS: list[tuple[str, str]] = [
    ("agent_uuid", "VARCHAR"),
    ("attribute_1", "VARCHAR"),
    ("attribute_2", "VARCHAR"),
    ("attribute_3", "VARCHAR"),
    ("email", "VARCHAR"),
    ("agent_id", "VARCHAR"),
    ("location", "VARCHAR"),
    ("phone", "VARCHAR"),
    ("role", "VARCHAR"),
    ("team_id", "VARCHAR"),
    ("team_name", "VARCHAR"),
    ("team_name_in_hierarchy", "VARCHAR"),
    ("manager", "VARCHAR"),
    ("department_id", "VARCHAR"),
    ("department_name", "VARCHAR"),
    ("department_name_in_hierarchy", "VARCHAR"),
    ("state", "VARCHAR"),
    ("date_joined", "TIMESTAMP"),
    ("date_left", "TIMESTAMP"),
]
