"""Kafka source wiring for the CloudEvent stream.

The production ingest topology the reference's HTTP endpoint maps to at
scale: Event Streams → a Kafka (or Kinesis-via-Kafka-API) topic → this
reader → ``parse_stream`` → the same stateful lifecycle / windowed
aggregations the file-source harnesses exercise. Everything downstream
of the reader is source-agnostic — ``parse_stream`` takes any streaming
DataFrame with a string ``value`` column, so
the full test surface (fixture goldens, batch parity, fuzz) certifies
the Kafka path's transformations too; only the connector I/O itself is
environment-dependent.

The ``spark-sql-kafka`` connector jar is NOT bundled in this
environment, so ``kafka_events_stream`` fails at ``.load()`` with
Spark's missing-data-source error unless the cluster provides it
(``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<version>``).
The config builder and the post-read transformation are real and
tested; the jar is deployment provisioning, not engine code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .taskrouter_stream import parse_stream


def kafka_cloudevents_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
):
    """Configured Kafka reader for the CloudEvents topic.

    ``maxOffsetsPerTrigger`` bounds micro-batch size — the backpressure
    knob that keeps state-store update rate and shuffle sizes flat when
    the topic has a backlog (the 100 TB replay case).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        # redelivery is handled semantically (each consumer of
        # parse_stream drops repeated CloudEvent ids: the conversation
        # lifecycle in its task state, the agent-status and hourly
        # streams within the watermark), so a lost-offset restart should
        # reprocess, not die
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader


def cloudevents_from_kafka_records(records: DataFrame) -> DataFrame:
    """Kafka WIRE SCHEMA → the shared ``parse_stream`` contract.

    ``records`` must carry Kafka's source schema (``key``/``value``
    binary, ``topic``, ``partition``, ``offset``, ``timestamp``,
    ``timestampType``): the CloudEvent JSON is the UTF-8 ``value``; keys,
    offsets, and broker timestamps are transport metadata the engine
    deliberately ignores (event time comes from the payload; redelivery
    is handled by the consumers of ``parse_stream``, which drop repeated
    CloudEvent ids). Split out
    from the reader so the wire-format adaptation is testable without a
    broker — tests/test_streaming.py feeds a file-backed stream with this
    exact schema through the full stateful pipeline."""
    return parse_stream(records.select(F.col("value").cast("string").alias("value")))


def kafka_events_stream(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """Kafka topic → parsed, watermarked event stream (the shared
    ``parse_stream`` contract; its consumers drop redelivered CloudEvent
    ids). Requires the spark-sql-kafka connector on the classpath."""
    raw = kafka_cloudevents_reader(spark, bootstrap_servers, topic).load()
    return cloudevents_from_kafka_records(raw)
