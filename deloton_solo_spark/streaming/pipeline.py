"""Structured Streaming surface — SURVEY.md §2.6 (S1, S2, S5 streaming
variants).

The reference's ingest is a Kafka poll loop drained into memory, a
single-pass sessionizer, and an idempotent Postgres INSERT
(main.py:45-66, 69-184, 207-208). The streaming re-expression:

- ``readStream`` over the Kafka wire schema (a live broker via
  ``kafka_stream_reader``, or deterministic file replay via
  ``file_wire_stream`` — same columns, so every downstream transform is
  shared),
- the stateless decode/parse as narrow streaming projections (zero
  Python in the hot path),
- ``Trigger.AvailableNow`` for the reference's bounded drain (S2):
  process everything available, then stop — checkpointed, so repeated
  runs resume from the committed offset exactly like the reference's
  manual ``commit()`` (main.py:61),
- ``foreachBatch`` + dedup-append for the INSERT … ON CONFLICT DO
  NOTHING sink (S5): at-least-once delivery + idempotent writes,
- ``session_window`` + watermark for streaming sessionization (X5).

Scale: all stateful streaming ops key by user — per-key state is
bounded, and a 1000-executor cluster shards the state store by the
groupBy key. Nothing here holds the whole stream in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.epoch import epoch_ms
from ..operators.sinks import idempotent_append
from ..operators.sources import decode_kafka_value

#: The Kafka wire schema as file replay serializes it (matches
#: operators/sources.kafka_wire minus broker-populated fields).
WIRE_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("key", StringType()),
        StructField("value", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "deloton",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1: the live-broker reader — ``readStream.format("kafka")``
    (reference consumer config at main.py:28-43: earliest offsets,
    subscribe model). Requires the spark-sql-kafka connector on the
    classpath; this environment has no broker, so tests exercise the
    file-replay twin below instead."""
    return wire_projection(
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def wire_projection(raw: DataFrame) -> DataFrame:
    """The projection from the connector's raw record shape (key/value
    binary, topic, partition, offset, timestamp, timestampType) onto
    :data:`WIRE_SCHEMA`. Factored out so the wire contract is testable
    without a broker: tests/test_wire_contract.py applies this to a
    frame with the connector's exact published schema and asserts the
    result matches WIRE_SCHEMA and ``kafka_wire``'s batch output."""
    return raw.select(
        "topic",
        "partition",
        "offset",
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.col("timestamp").alias("ts"),
    )


def file_wire_stream(spark: SparkSession, path: str) -> DataFrame:
    """Deterministic replay source: a directory of JSON files in the
    wire schema. Column-compatible with ``kafka_stream_reader`` output,
    so the whole downstream pipeline is source-agnostic."""
    return spark.readStream.schema(WIRE_SCHEMA).json(path)


def parse_wire_stream(wire: DataFrame) -> DataFrame:
    """S3 + the parse front-end as stateless streaming projections:
    decode the ``{"log": ...}`` envelope (main.py:53) and stamp the
    embedded line timestamp (main.py:23,54-55). Narrow ops only — no
    state, no shuffle; at scale this rides the source parallelism."""
    from ..functions import parsing as P

    return decode_kafka_value(wire).select(
        "partition",
        "offset",
        F.col("key").cast("long").alias("user_id"),
        P.ts_extract(F.col("log")).alias("line_ts"),
        P.line_type(F.col("log")).alias("line_type"),
        "log",
    )


def ingest_available_now(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    keys: list[str],
) -> None:
    """S2+S5: bounded drain into an idempotent sink. AvailableNow
    processes everything committed so far then stops (the reference's
    poll-until-caught-up loop, main.py:45-66); foreachBatch applies the
    dedup-append upsert (ON CONFLICT DO NOTHING, sql_wrapper.py:44-46),
    making redelivery after a checkpoint rollback harmless."""

    def _upsert(batch: DataFrame, _epoch: int) -> None:
        idempotent_append(batch, out_path, keys)

    (
        stream_df.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """X5 streaming twin: per-user session windows with a gap timeout.
    ``session_window`` keeps per-key state bounded by the gap; the
    watermark bounds how long closed sessions linger in the state store.
    Emission is append-mode: a session is final once the watermark
    passes its close (batch twin: operators/events.sessionize_events)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), gap).alias("w"),
        )
        .agg(
            epoch_ms(F.min("ts")).alias("session_start_ms"),
            epoch_ms(F.max("ts")).alias("session_end_ms"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "session_start_ms",
            "session_end_ms",
            "n_events",
        )
    )


def run_stream_to_parquet(
    stream_df: DataFrame, out_path: str, checkpoint: str
) -> None:
    """Drain a streaming frame to parquet with AvailableNow (append
    mode). Used by the sessionize pipeline; separate runs against the
    same checkpoint resume and flush newly-finalized windows."""
    (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
