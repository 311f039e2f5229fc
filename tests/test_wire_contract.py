"""Kafka wire-schema contract (VERDICT r3 task 10).

The live-broker path (`streaming/pipeline.kafka_stream_reader`) cannot
run in this sandbox — no broker, no spark-sql-kafka jar. What CAN be
pinned is the contract that makes the documented swap-in true:

1. Spark's Kafka connector yields a fixed, publicly documented record
   schema (key/value binary, topic string, partition int, offset long,
   timestamp timestamp, timestampType int — Structured Streaming Kafka
   Integration Guide). We freeze that schema here.
2. `wire_projection` (the post-`.load()` select shared by the live
   reader) applied to that schema must produce exactly `WIRE_SCHEMA`.
3. The batch generator `kafka_wire` and the file-replay source (a
   `Replay` over `WIRE_SCHEMA`) must emit the same columns/types, so
   every downstream operator is source-agnostic.

If Spark ever changes the connector schema, or an edit drifts any of
the three sources apart, this fails naming the column.
"""

from __future__ import annotations

from pyspark.sql import types as T

from deloton_solo_spark.functions.logsim import synthetic_log
from deloton_solo_spark.operators.sources import kafka_wire
from deloton_solo_spark.streaming.pipeline import (
    WIRE_SCHEMA,
    Replay,
    wire_projection,
)

from .conftest import SF_DIR

#: the connector's raw record shape, frozen from the public Kafka
#: integration guide (headers omitted — includeHeaders defaults false).
RAW_KAFKA_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def _shape(schema: T.StructType) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_wire_projection_maps_connector_schema_to_wire_schema(spark):
    raw = spark.createDataFrame([], RAW_KAFKA_SCHEMA)
    assert _shape(wire_projection(raw).schema) == _shape(WIRE_SCHEMA)


def test_batch_generator_matches_wire_schema(spark):
    wire = kafka_wire(synthetic_log(spark, SF_DIR))
    assert _shape(wire.schema) == _shape(WIRE_SCHEMA)


def test_file_replay_matches_wire_schema(spark):
    r = Replay(spark, "wire", WIRE_SCHEMA)
    r.feed(kafka_wire(synthetic_log(spark, SF_DIR)).limit(4))
    stream = r.stream()
    assert stream.isStreaming
    assert _shape(stream.schema) == _shape(WIRE_SCHEMA)
