"""Live-Kafka feature gate (VERDICT r8 task 6).

``kafka_source`` replays the reference's exact wire schema from
fixtures (oracle-gated, unconditional); ``kafka_stream_reader`` is the
live-broker leg, and this container has no broker and no
spark-sql-kafka connector jar — so the live test gates on the
``SPARK_KAFKA_BOOTSTRAP`` env probe (the state-v2 protobuf / Delta
convention, BASELINE.md gate rows; re-checked 2026-08-16 r9: unset).
Where a broker exists, the test drives ``readStream.format("kafka")``
through the identical wire projection and asserts the stream starts
and the schema matches :data:`WIRE_SCHEMA` — the contract the batch
fixtures pin, proven live. The broker-free leg of the contract (names
and types of ``wire_projection`` over the connector's schema) is
tests/test_wire_contract.py's.
"""

from __future__ import annotations

import os

import pytest

BOOTSTRAP = os.environ.get("SPARK_KAFKA_BOOTSTRAP")


@pytest.mark.skipif(
    not BOOTSTRAP,
    reason="SPARK_KAFKA_BOOTSTRAP unset — no broker in this container "
    "(probe-gated live path; re-checked 2026-08-16 r9)",
)
def test_kafka_stream_reader_live():
    import shutil
    import tempfile

    from deloton_solo_spark.session import get_spark
    from deloton_solo_spark.streaming.pipeline import (
        WIRE_SCHEMA,
        kafka_stream_reader,
    )

    spark = get_spark("kafka-live", master="local[4]", shuffle_partitions=4)
    stream = kafka_stream_reader(spark, BOOTSTRAP, topic="deloton")
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        f.name for f in WIRE_SCHEMA.fields
    ]
    ckpt = tempfile.mkdtemp(prefix="kafka_live_ckpt_")
    try:
        # bounded drain: availableNow consumes whatever the topic holds
        # (possibly zero rows — the assertion is that the live source
        # STARTS, progresses, and lands wire-schema rows in memory)
        q = (
            stream.writeStream.format("memory")
            .queryName("kafka_live_gate")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM kafka_live_gate")
        assert [f.name for f in got.schema.fields] == [
            f.name for f in WIRE_SCHEMA.fields
        ]
        assert got.count() >= 0
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
