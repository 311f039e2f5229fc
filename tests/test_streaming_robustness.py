"""Streaming robustness: corrupt records degrade to NULL (never kill
the stream), and checkpoint resume processes exactly the delta.

These are the operational properties §2.6 claims: at-least-once
delivery + idempotent sink = exact-once output, and one malformed
message must not take down a 100 TB ingest.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from deloton_solo_spark.streaming.pipeline import (
    file_wire_stream,
    ingest_available_now,
    parse_wire_stream,
)


def _scratch(prefix: str) -> str:
    p = tempfile.mkdtemp(prefix=prefix)
    shutil.rmtree(p, ignore_errors=True)
    return p


def _write_wire(spark, rows, src, mode="append"):
    spark.createDataFrame(
        rows,
        "topic string, partition int, offset long, key string, "
        "value string, ts timestamp",
    ).write.mode(mode).json(src)


def test_corrupt_envelope_degrades_to_null_not_crash(spark):
    src, out = _scratch("rob_src_"), _scratch("rob_out_")
    good = '{"log": "2024-01-01 10:00:00.000000 [INFO]: Getting user data from server"}'
    rows = [
        ("deloton", 0, 0, "1", good, None),
        ("deloton", 0, 1, "1", "NOT JSON AT ALL {{{", None),
        ("deloton", 0, 2, "1", '{"wrong_field": 1}', None),
    ]
    _write_wire(spark, rows, src)
    parsed = parse_wire_stream(file_wire_stream(spark, src)).select(
        "offset",
        "user_id",
        F.date_format("line_ts", "yyyy-MM-dd HH:mm:ss").alias("line_ts"),
        "line_type",
    )
    ingest_available_now(parsed, out, _scratch("rob_ckpt_"), keys=["offset"])
    got = {
        r.offset: r.asDict() for r in spark.read.parquet(out).collect()
    }
    assert set(got) == {0, 1, 2}  # nothing dropped, nothing crashed
    assert got[0]["line_type"] == "user_fetch"
    assert got[0]["line_ts"] == "2024-01-01 10:00:00"
    assert got[1]["line_ts"] is None and got[1]["line_type"] == "other"
    assert got[2]["line_ts"] is None and got[2]["line_type"] == "other"


def test_checkpoint_resume_processes_only_the_delta(spark):
    src, out = _scratch("delta_src_"), _scratch("delta_out_")
    ckpt = _scratch("delta_ckpt_")

    def run():
        parsed = parse_wire_stream(file_wire_stream(spark, src)).select(
            "offset", "line_type"
        )
        ingest_available_now(parsed, out, ckpt, keys=["offset"])

    batch1 = [
        ("deloton", 0, i, "1", '{"log": "x Ride - duration = 1; resistance = 2"}', None)
        for i in range(5)
    ]
    _write_wire(spark, batch1, src)
    run()
    assert spark.read.parquet(out).count() == 5

    # same checkpoint, new files appear → only the delta is read
    batch2 = [
        ("deloton", 0, 100 + i, "1", '{"log": "x Telemetry - hrt = 1; rpm = 2; power = 3"}', None)
        for i in range(3)
    ]
    _write_wire(spark, batch2, src)
    run()
    df = spark.read.parquet(out)
    assert df.count() == 8  # 5 + 3, no reprocessing duplicates
    assert df.filter(F.col("line_type") == "telemetry").count() == 3

    # rerun with NO new data: a no-op
    run()
    assert spark.read.parquet(out).count() == 8


def test_bounded_dedup_state_evicts_old_keys(spark):
    """dropDuplicatesWithinWatermark must EVICT seen-keys older than
    the watermark — the property that makes streaming dedup viable on
    an unbounded stream. Three drains on one checkpoint: a burst of
    old keys, then far-future rows that advance the watermark, then one
    more row; by the last drain the burst's keys must be gone from the
    state store (and the sink must still be exactly-once)."""
    import datetime

    src, out = _scratch("evict_src_"), _scratch("evict_out_")
    ckpt = _scratch("evict_ckpt_")
    schema = "event_id bigint, ts timestamp"
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def write(rows, mode="append"):
        spark.createDataFrame(rows, schema).write.mode(mode).json(src)

    def run():
        stream = spark.readStream.schema(schema).json(src)
        deduped = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        totals = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in (q.recentProgress or [])
            if p.get("stateOperators")
        ]
        return totals[-1] if totals else None

    # drain 1: 100 distinct keys (each delivered twice) at t0
    write([(i, t0) for i in range(100)] * 2)
    state1 = run()
    assert state1 == 100  # all keys in state, duplicates dropped

    # drain 2: 5 keys ten days later — watermark jumps past t0
    write([(1000 + i, t0 + datetime.timedelta(days=10)) for i in range(5)])
    run()

    # drain 3: one more advancing row; the t0 burst must now be evicted
    write([(2000, t0 + datetime.timedelta(days=10, minutes=1))])
    state3 = run()
    assert state3 is not None and state3 <= 10, (
        f"state store kept {state3} rows — watermark eviction not working"
    )

    got = spark.read.parquet(out)
    assert got.count() == 106  # 100 + 5 + 1, exactly-once
    assert got.select("event_id").distinct().count() == 106


def test_staged_upsert_writer_is_idempotent(spark):
    """The JDBC-shaped foreachBatch writer (staged_upsert via
    upsert_writer) in its parquet degradation: the same stream drained
    twice through fresh checkpoints (full redelivery) must leave the
    sink exactly-once."""
    from deloton_solo_spark.operators.sinks import upsert_writer

    src, out = _scratch("upsert_src_"), _scratch("upsert_out_")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k long, v string"
    ).write.json(src)

    for attempt in range(2):  # independent checkpoints = redelivery
        stream = spark.readStream.schema("k long, v string").json(src)
        (
            stream.writeStream.foreachBatch(
                upsert_writer(["k"], parquet_path=out)
            )
            .option("checkpointLocation", _scratch(f"upsert_ckpt{attempt}_"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    got = spark.read.parquet(out)
    assert got.count() == 50
    assert got.select("k").distinct().count() == 50


def test_staged_upsert_builds_not_exists_merge(spark, monkeypatch):
    """With a JDBC URL configured, staged_upsert must stage the batch
    and issue a keyed NOT-EXISTS merge — the ON CONFLICT DO NOTHING
    contract — through the JDBC statement hook."""
    from deloton_solo_spark.operators import sinks

    executed = []
    staged = []
    monkeypatch.setattr(
        sinks,
        "_execute_jdbc_statement",
        lambda spark_, url, sql_text, props: executed.append((url, sql_text)),
    )

    class FakeWriter:
        def __init__(self, df):
            self.df = df

        def mode(self, m):
            return self

        def option(self, k, v):
            return self

        def jdbc(self, url, table, properties=None):
            staged.append((url, table, self.df.count()))

    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k long, v string")
    monkeypatch.setattr(
        type(df.dropDuplicates(["k"])),
        "write",
        property(lambda self: FakeWriter(self)),
        raising=False,
    )
    sinks.staged_upsert(df, ["k"], jdbc_url="jdbc:postgresql://db/x", table="rides")
    assert staged and staged[0][1] == "rides__stage"
    assert staged[0][2] == 2  # batch deduped before staging
    url, sql_text = executed[0]
    assert "INSERT INTO rides" in sql_text
    assert "NOT EXISTS" in sql_text and 't."k" = s."k"' in sql_text


def test_idempotent_append_propagates_real_read_errors(spark, tmp_path):
    """A corrupt existing sink must raise, not silently degrade to a
    duplicate-producing plain append (the exactly-once guarantee)."""
    import pytest

    from deloton_solo_spark.operators.sinks import idempotent_append

    df = spark.createDataFrame([(1,)], "k long")
    # nonexistent path: legitimate first write
    first = str(tmp_path / "fresh")
    idempotent_append(df, first, ["k"])
    idempotent_append(df, first, ["k"])
    assert spark.read.parquet(first).count() == 1

    # corrupt parquet footer: must NOT be treated as first write
    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception) as ei:
        idempotent_append(df, str(bad), ["k"])
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_idempotent_append_reads_existing_keys_without_inference(
    spark, tmp_path
):
    """The existing keys are read with the batch's own key schema: one
    Spark job fewer per call than an inferring read, the same rows
    kept, and an empty sink directory reads as holding no keys."""
    from deloton_solo_spark.operators.sinks import idempotent_append

    from .test_api_surface import _jobs

    sink = str(tmp_path / "sink")
    inferring = str(tmp_path / "inferring")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").write.parquet(
        sink
    )
    shutil.copytree(sink, inferring)
    batch = spark.createDataFrame([(2, "b"), (3, "c")], "k long, v string")

    def append_inferring():
        existing = spark.read.parquet(inferring).select("k")
        batch.dropDuplicates(["k"]).join(existing, ["k"], "left_anti").write.mode(
            "append"
        ).parquet(inferring)

    inferring_jobs = _jobs(spark, append_inferring)
    assert _jobs(spark, lambda: idempotent_append(batch, sink, ["k"])) == (
        inferring_jobs - 1
    )
    assert sorted(spark.read.parquet(sink).collect()) == sorted(
        spark.read.parquet(inferring).collect()
    )
    assert spark.read.parquet(sink).count() == 3

    empty = tmp_path / "empty"
    empty.mkdir()
    idempotent_append(batch, str(empty), ["k"])
    assert spark.read.parquet(str(empty)).count() == 2


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction must shrink the file count to the byte-target shape
    and keep the row set bit-identical (no shuffle, only concat)."""
    from deloton_solo_spark.operators.sinks import compact_parquet

    path = str(tmp_path / "many")
    # simulate micro-batch litter: 20 tiny appends
    for i in range(20):
        spark.range(i * 100, (i + 1) * 100).withColumnRenamed(
            "id", "k"
        ).coalesce(1).write.mode("append").parquet(path)
    import os

    before_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(before_files) >= 20
    before_rows = sorted(r.k for r in spark.read.parquet(path).collect())

    n_after = compact_parquet(spark, path, target_file_bytes=1 << 20)
    after_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(after_files) == n_after <= 2
    after_rows = sorted(r.k for r in spark.read.parquet(path).collect())
    assert after_rows == before_rows


def test_staged_upsert_against_embedded_derby(spark, tmp_path):
    """The REAL JDBC path, end to end: Spark ships the Derby embedded
    database, so the staged upsert can run against an actual SQL
    database — stage-table write through Spark's JDBC writer, then the
    keyed NOT-EXISTS merge through DriverManager. Redelivery of the
    same (internally duplicated) batch must leave the target
    exactly-once: the reference's INSERT … ON CONFLICT DO NOTHING
    contract on a live database."""
    import os

    from deloton_solo_spark.operators.sinks import staged_upsert

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    batch = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b")], "k long, v string"
    )
    # target exists with the right schema (deploy-time DDL in the
    # reference, sql_wrapper.py); an empty JDBC write creates it
    batch.limit(0).write.mode("overwrite").jdbc(url, "rides", properties=props)
    for _delivery in range(2):
        staged_upsert(
            batch,
            ["k"],
            jdbc_url=url,
            table="rides",
            connection_properties=props,
        )
    got = spark.read.jdbc(url, "rides", properties=props)
    assert sorted((r.k, r.v) for r in got.collect()) == [(1, "a"), (2, "b")]
    # embedded Derby drops a derby.log in the cwd — keep the repo clean
    if os.path.exists("derby.log"):
        os.remove("derby.log")
