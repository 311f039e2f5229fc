"""Custom stateful streaming operator: the ride state machine as
``applyInPandasWithState`` (SURVEY.md §2.6 option (b) — true streaming
parity for the per-ride state of main.py:69-153).

The batch engine re-expresses the reference's loop with window
functions (operators/pipeline.py). This module is the *streaming*
form: per-key mutable state that survives across micro-batches, exactly
like the reference's loop variables survive across poll batches —
except keyed by Kafka partition so a 1000-executor cluster shards the
state store instead of one consumer owning the world.

Semantics (per partition key, rows processed in offset order):
- a marker line closes the currently-open ride → emit one rollup row
  (ride_seq, last user blob's user_id, the fetch line's start time,
  last Ride-line duration/resistance, telemetry averages, line count);
- non-marker lines accumulate into the open ride;
- rides never closed by a marker stay in state (a live stream would
  close them on the next marker; bounded replays append one sentinel
  marker per partition).

This is the per-RIDE rollup — the semantic the reference *intended*
(SURVEY.md §2.3 T5 note) — so it complements, not duplicates, the
quirk-faithful per-user batch pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState

from .pipeline import keyed_state

#: Input: per-line parsed columns (no forward-fill — state does that).
LINE_SCHEMA = (
    "partition int, offset long, line_type string, start_dt string, "
    "user_id long, num1 double, num2 double, num3 double"
)

#: Emitted rollup row.
RIDE_SCHEMA = (
    "partition int, ride_seq long, user_id long, start_time string, "
    "duration double, resistance int, avg_hrt double, avg_rpm double, "
    "avg_power double, n_lines long"
)

#: Carried state: one open ride's accumulators.
STATE_SCHEMA = (
    "seq long, start_time string, user_id long, duration double, "
    "resistance int, sum_hrt double, sum_rpm double, sum_power double, "
    "n_tel long, n_lines long"
)

_EMPTY = (0, None, None, None, None, 0.0, 0.0, 0.0, 0, 0)


def ride_state_machine(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel. ``key`` = (partition,). Arrow
    hands us column batches; the engine only groups by key — it does
    NOT order rows, and a key's rows can span several Arrow chunks
    (maxRecordsPerBatch), so all chunks are concatenated and sorted by
    offset ONCE before replay. Sorting each chunk independently would
    silently process cross-chunk rows out of order."""
    st = list(state.get) if state.exists else list(_EMPTY)
    out: list[tuple] = []
    partition = key[0]

    def close_ride() -> None:
        seq, start, uid, dur, res, s_h, s_r, s_p, n_t, n_l = st
        if n_l > 0:
            out.append(
                (
                    partition,
                    seq,
                    uid,
                    start,
                    dur,
                    res,
                    s_h / n_t if n_t else None,
                    s_r / n_t if n_t else None,
                    s_p / n_t if n_t else None,
                    n_l,
                )
            )
        st[:] = _EMPTY
        st[0] = seq + 1

    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        merged = pd.concat(chunks, ignore_index=True)
        for row in merged.sort_values("offset").itertuples(index=False):
            lt = row.line_type
            if lt == "new_ride":
                close_ride()
                continue
            st[9] += 1  # n_lines
            if lt == "user_fetch":
                st[1] = row.start_dt
            elif lt == "user_data":
                st[2] = int(row.user_id)
            elif lt == "ride":
                st[3] = float(row.num2)  # duration
                st[4] = int(row.num1)  # resistance
            elif lt == "telemetry":
                st[5] += float(row.num3)  # hrt
                st[6] += float(row.num2)  # rpm
                st[7] += float(row.num1)  # power
                st[8] += 1
    state.update(tuple(st))
    cols = [c.split()[0] for c in RIDE_SCHEMA.split(", ")]
    yield pd.DataFrame(out, columns=cols)


def rides_stream(parsed_lines: DataFrame) -> DataFrame:
    """Wire the kernel: groupBy(partition) → applyInPandasWithState.
    State is per-partition (sharded by the state store at scale); ride
    closure is data-driven (the marker), not clock-driven."""
    return keyed_state(
        parsed_lines, "partition", ride_state_machine, RIDE_SCHEMA, STATE_SCHEMA
    )


def parse_lines_for_state(df: DataFrame) -> DataFrame:
    """Per-line parsed columns for LINE_SCHEMA (works on batch or
    streaming frames): extracts the raw per-line values WITHOUT
    forward-fill — carrying state is the operator's job."""
    from pyspark.sql import functions as F

    from ..functions import parsing as P

    c = F.col("log")
    d, _t = P.split_datetime_parts(c)
    return df.select(
        F.col("partition").cast("int").alias("partition"),
        F.col("offset").alias("offset"),
        P.line_type(c).alias("line_type"),
        F.when(
            c.contains(P.MARKERS["user_fetch"]),
            F.concat(d, F.lit(" "), _t),
        ).alias("start_dt"),
        F.when(
            c.contains(P.MARKERS["user_data"]),
            P.user_struct(c).getField("user_id"),
        ).alias("user_id"),
        F.when(
            c.contains(P.MARKERS["ride"]) | c.contains(P.MARKERS["telemetry"]),
            P.nth_last_num(c, 1),
        ).alias("num1"),
        F.when(
            c.contains(P.MARKERS["ride"]) | c.contains(P.MARKERS["telemetry"]),
            P.nth_last_num(c, 2),
        ).alias("num2"),
        F.when(
            c.contains(P.MARKERS["telemetry"]), P.nth_last_num(c, 3)
        ).alias("num3"),
    )
