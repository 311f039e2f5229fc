"""Schema-drift pre-flight tests (VERDICT.md round-2 item 3).

The round-2 evaluation broke because the driver regenerated
``events.parquet`` with a different physical ``ts`` type
(TIMESTAMP(NANOS) → timestamp[us] NTZ) between builder self-check and
judging; 18 queries then failed with scattered DATATYPE_MISMATCH
errors. These tests pin the two defenses:

1. ``catalog.load_table`` normalizes BOTH storage shapes of
   ``events.ts`` to a session-TZ TimestampType with identical wall-clock
   values.
2. ``catalog.assert_schemas`` fails loudly, in one place, naming the
   drifted table+column.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from deloton_solo_spark.catalog import (
    TABLES,
    SchemaDriftError,
    assert_schemas,
    load_table,
)

from .conftest import SF_DIR

_ROWS = [
    (1, dt.datetime(2024, 3, 1, 12, 0, 0, 123456), 7, "view", 1.5, "{}"),
    (2, dt.datetime(2024, 3, 1, 12, 30, 1, 654321), 7, "click", 2.5, "{}"),
]


def _write_events(path, ts_type):
    """Write a 2-row events.parquet with ``ts`` in the given arrow type."""
    ids, tss, uids, types, vals, props = zip(*_ROWS)
    if pa.types.is_string(ts_type):
        ts_arr = pa.array([t.isoformat() for t in tss], ts_type)
    else:
        ts_arr = pa.array(list(tss), ts_type)
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array(uids, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    pq.write_table(table, str(path))


@pytest.mark.parametrize(
    "ts_type",
    [pa.timestamp("us"), pa.timestamp("us", tz="UTC"), pa.timestamp("ns")],
    ids=["ntz_us", "utc_us", "nanos"],
)
def test_load_table_normalizes_every_ts_shape(spark, tmp_path, ts_type):
    """All three storage shapes load as TIMESTAMP with identical values."""
    _write_events(tmp_path / "events.parquet", ts_type)
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r.ts for r in df.orderBy("event_id").select("ts").collect()]
    assert got == [r[1] for r in _ROWS]


def test_assert_schemas_passes_on_current_testdata(spark):
    assert_schemas(spark, SF_DIR)


def test_assert_schemas_names_drifted_column(spark, tmp_path):
    """A deliberately drifted events.ts (string!) produces ONE clear
    error naming the table+column — not a mid-query AnalysisException."""
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    _write_events(tmp_path / "events.parquet", pa.string())
    with pytest.raises(SchemaDriftError, match=r"events\.ts"):
        assert_schemas(spark, str(tmp_path))


def test_load_table_normalizes_date_typed_columns(spark, tmp_path):
    """The defense generalizes beyond events.ts: any temporal column
    shipped as DATE (or NTZ) loads as session-TZ TIMESTAMP — a future
    regeneration of orders/lineitem cannot re-create the round-2
    failure mode on the date columns."""
    t = pq.read_table(f"{SF_DIR}/orders.parquet")
    idx = t.schema.get_field_index("o_orderdate")
    as_date = t.set_column(
        idx, "o_orderdate", t.column("o_orderdate").cast(pa.date32())
    )
    pq.write_table(as_date, str(tmp_path / "orders.parquet"))
    df = load_table(spark, str(tmp_path), "orders")
    assert dict(df.dtypes)["o_orderdate"] == "timestamp"
    # midnight wall-clock values — the date survives exactly
    row = df.orderBy("o_orderkey").select("o_orderdate").first()
    assert row[0].hour == 0 and row[0].minute == 0


@pytest.mark.parametrize(
    "second",
    # INT96 and INT64 nanos footers share one Arrow type, timestamp[ns]:
    # a memo keyed by the Arrow schema would collide on them
    [pa.timestamp("us"), "int96"],
    ids=["nanos_then_ntz_us", "nanos_then_int96"],
)
def test_schema_memo_is_keyed_by_content(spark, tmp_path, second):
    """A file rewritten at the same path with another ``ts`` type is
    inferred again: a memo keyed by path or mtime would read the second
    file with the first file's bigint ``ts``."""
    path = tmp_path / "events.parquet"
    for ts_type in (pa.timestamp("ns"), second):
        if ts_type == "int96":
            _write_events(path, pa.timestamp("ns"))
            pq.write_table(
                pq.read_table(str(path)), str(path),
                use_deprecated_int96_timestamps=True,
            )
        else:
            _write_events(path, ts_type)
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = [r.ts for r in df.orderBy("event_id").select("ts").collect()]
        assert got == [r[1] for r in _ROWS]


def test_schema_memo_sees_same_size_rename(spark, tmp_path):
    """A column renamed to a name of the same length, with the old
    mtime kept (as a filesystem with coarse mtimes leaves a quick
    rewrite): size and mtime are unchanged, and the memo must still
    return the new name."""
    path = tmp_path / "events.parquet"
    _write_events(path, pa.timestamp("us"))
    before = path.stat()
    assert "props" in load_table(spark, str(tmp_path), "events").columns
    table = pq.read_table(str(path))
    renamed = ["propz" if c == "props" else c for c in table.column_names]
    pq.write_table(table.rename_columns(renamed), str(path))
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = path.stat()
    assert (after.st_size, after.st_mtime_ns) == (
        before.st_size, before.st_mtime_ns,
    )
    df = load_table(spark, str(tmp_path), "events")
    assert "propz" in df.columns and "props" not in df.columns
    assert df.select("propz").collect()[0][0] == "{}"
