"""Structured Streaming surface — SURVEY.md §2.6 (S1, S2, S5 streaming
variants).

The reference's ingest is a Kafka poll loop drained into memory, a
single-pass sessionizer, and an idempotent Postgres INSERT
(main.py:45-66, 69-184, 207-208). The streaming re-expression:

- ``readStream`` over the Kafka wire schema (a live broker via
  ``kafka_stream_reader``, or deterministic file replay via a
  :class:`Replay` with :data:`WIRE_SCHEMA` — same columns, so every
  downstream transform is shared),
- the stateless decode/parse as narrow streaming projections (zero
  Python in the hot path),
- ``Trigger.AvailableNow`` for the reference's bounded drain (S2):
  process everything available, then stop — checkpointed, so repeated
  runs resume from the committed offset exactly like the reference's
  manual ``commit()`` (main.py:61),
- ``foreachBatch`` + dedup-append for the INSERT … ON CONFLICT DO
  NOTHING sink (S5): at-least-once delivery + idempotent writes,
- ``session_window`` + watermark for streaming sessionization (X5).

Every streaming query in the engine runs through :class:`Replay`, the
one bounded-replay harness: it owns the scratch directories, the JSON
replay source, the AvailableNow drain (:func:`drain`), the
watermark-flushing sentinel rounds and the sink read, so a query states
only its transform, its kernel and its oracle.

Scale: all stateful streaming ops key by user — per-key state is
bounded, and a 1000-executor cluster shards the state store by the
groupBy key. Nothing here holds the whole stream in one task.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.epoch import epoch_ms
from ..operators.sources import decode_kafka_value
from ..session import scratch_dir

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
    file-replay twin (:class:`Replay` over :data:`WIRE_SCHEMA`)
    instead."""
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


#: Session gap and watermark delay of :func:`sessionize_stream` (the
#: batch twin's 30-minute gap; sessions finalize as soon as the
#: watermark passes their close).
SESSION_GAP = "30 minutes"
SESSION_WATERMARK = "0 seconds"


def sessionize_stream(events: DataFrame) -> DataFrame:
    """X5 streaming twin: per-user session windows with a gap timeout.
    ``session_window`` keeps per-key state bounded by the gap; the
    watermark bounds how long closed sessions linger in the state store.
    Emission is append-mode: a session is final once the watermark
    passes its close (batch twin: operators/events.sessionize_events)."""
    return (
        events.withWatermark("ts", SESSION_WATERMARK)
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), SESSION_GAP).alias("w"),
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


# The bounded-replay harness ---------------------------------------------
#: Files one micro-batch may take: far above any replay's file count, so
#: every AvailableNow drain lands in ONE micro-batch — the contract the
#: order-sensitive kernels (admission, dedup keeper, EWMA, lag,
#: inversion, CUSUM) state in their docstrings. Pinned rather than left
#: at Spark's default so a default change or a larger SF can never
#: silently split a drain and diverge from the oracle.
ONE_BATCH_FILES = 1000

#: Sentinel rounds that flush a watermarked query: each appends rows
#: this many days past the replay's high-water mark. The watermark only
#: advances between micro-batches, so the first round moves it past
#: every real window and the second round's micro-batch emits what
#: that watermark released.
FLUSH_DAYS = (10, 20)


def drain(
    frame: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str,
) -> StreamingQuery:
    """S2: drain a streaming frame with ``Trigger.AvailableNow`` —
    process everything committed so far, then stop (the reference's
    poll-until-caught-up loop, main.py:45-66). ``sink`` is a parquet
    path (the file sink; append mode only) or a ``foreachBatch``
    function, e.g. ``sinks.upsert_writer`` for the idempotent
    ON CONFLICT DO NOTHING upsert (S5, sql_wrapper.py:44-46). A rerun
    on the same ``checkpoint`` resumes from its committed offsets and
    processes only the delta. Returns the finished query (its
    ``recentProgress`` reports state-store sizes)."""
    writer = frame.writeStream.option("checkpointLocation", checkpoint)
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").option("path", sink)
    query = writer.outputMode(output_mode).trigger(availableNow=True).start()
    query.awaitTermination()
    return query


def high_water_mark(frame: DataFrame, column: str):
    """The replay's largest ``column`` value, for sentinels that must
    sort after every real row. A single-row scalar collect: deterministic
    and inherent to a bounded replay, but it costs a full source scan —
    a production pipeline tracks this in ingest metadata instead."""
    return frame.agg(F.max(column)).collect()[0][0]


def keyed_state(
    frame: DataFrame,
    key: str,
    kernel: Callable,
    output_schema: str,
    state_schema: str,
) -> DataFrame:
    """Wire a custom stateful kernel: ``groupBy(key)`` →
    ``applyInPandasWithState`` in append mode. NoTimeout because every
    kernel here closes its state on data (a marker, a flush row, the
    watermark-ordered arrival of the next bar), never on the clock."""
    return frame.groupBy(key).applyInPandasWithState(
        kernel,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class Replay:
    """One deterministic, bounded replay of a streaming query: a JSON
    source directory fed in rounds, one or more hops (a streaming frame
    drained into a sink with its own checkpoint), and the sink read.

    Directories are per purpose under ``session.scratch_dir`` —
    ``{name}_src``, and ``{name}_{purpose}`` for each sink and
    checkpoint — stable across reruns (no mkdtemp leak) and cleared
    when the replay first names them, because a reused checkpoint would
    resume and emit nothing. A later hop streams an earlier hop's
    parquet sink (:meth:`stream_sink`)."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        schema: str | StructType,
        files_per_trigger: int = ONE_BATCH_FILES,
    ) -> None:
        self.spark, self.name, self.schema = spark, name, schema
        self.files_per_trigger = files_per_trigger
        self._paths: dict[str, str] = {}
        self.src = self.path("src")

    def path(self, purpose: str) -> str:
        """This replay's directory for ``purpose``, emptied on first use
        (it exists, so a stream can be defined over it before the first
        round lands)."""
        if purpose not in self._paths:
            path = scratch_dir(f"{self.name}_{purpose}")
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            self._paths[purpose] = path
        return self._paths[purpose]

    def _reader(self, schema: str | StructType):
        return self.spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", self.files_per_trigger
        )

    def stream(self) -> DataFrame:
        """The replay source as a stream: the JSON rounds fed so far."""
        return self._reader(self.schema).json(self.src)

    def stream_sink(self, purpose: str, schema: str) -> DataFrame:
        """An upstream hop's parquet sink as the next hop's stream."""
        return self._reader(schema).parquet(self.path(purpose))

    def hop(
        self,
        frame: DataFrame,
        sink: str | Callable[[DataFrame, int], None],
        checkpoint: str,
        output_mode: str = "append",
    ) -> Callable[[], StreamingQuery]:
        """A streaming query of this replay; calling it drains once.
        ``sink`` is a purpose (a parquet directory of this replay) or a
        ``foreachBatch`` function; ``checkpoint`` is a purpose."""
        target = sink if callable(sink) else self.path(sink)
        ckpt = self.path(checkpoint)
        return lambda: drain(frame, target, ckpt, output_mode)

    def feed(self, frame: DataFrame, *hops) -> None:
        """Append ``frame`` to the source (one JSON file per partition),
        then drain each hop in order."""
        frame.write.mode("append").json(self.src)
        for run in hops:
            run()

    def flush_watermark(
        self, replayed: DataFrame, sentinels: list[dict], *hops
    ) -> None:
        """Flush a watermarked query after the data rounds: one round
        per :data:`FLUSH_DAYS` entry, each appending ``sentinels`` (rows
        under a sentinel key, given without ``ts``) stamped that many
        days past ``replayed``'s latest ``ts``. Queries drop the
        sentinel key from their result."""
        hwm = high_water_mark(replayed, "ts")
        rows = [{**row, "ts": hwm} for row in sentinels]
        for days in FLUSH_DAYS:
            late = F.col("ts") + F.expr(f"INTERVAL {days} DAYS")
            self.feed(
                self.spark.createDataFrame(rows, self.schema).withColumn(
                    "ts", late
                ),
                *hops,
            )

    def read(self, purpose: str) -> DataFrame:
        """A sink's contents as a batch frame."""
        return self.spark.read.parquet(self.path(purpose))
