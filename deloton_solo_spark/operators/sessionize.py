"""Stateful-stream sessionization — SURVEY.md §2.3 (T1-T7).

The reference's ``data_cleanser`` (main.py:69-184) is a single ordered
pass with mutable state: ride-boundary resets, a running ride counter,
forward-filled telemetry, first-occurrence user dedup, per-user
aggregation with nth/last/mean quirks, and drop-first/last-group.

Spark-first re-expression: the stream becomes a DataFrame ordered by
``msg_idx`` (Kafka-offset stand-in = ``event_id``); state becomes window
functions. The running counters use the *distributed two-phase prefix
sum* (functions/windows.py) instead of a single-partition global window,
so boundary detection scales to 100 TB; the remaining windows are
partitioned by ride / user (bounded groups → bounded tasks).

Here the log-role mapping from functions/logsim.py applies:
marker line ≙ event_type='signup'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.windows import prefix_sum
from ..registry import query

_MARKER = "signup"
#: prefix-sum bucket width, deliberately small at test scale so the
#: multi-bucket carry path of the prefix sum is exercised.
_RIDE_BUCKET_SIZE = 100


def _with_ride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + ride id = running count of marker rows (T1/T2)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("msg_idx"), "user_id", "event_type", "ts", "value"
    )
    marker = (F.col("event_type") == _MARKER).cast("long")
    return prefix_sum(ev, marker, "msg_idx", "ride_id", bucket_size=_RIDE_BUCKET_SIZE)


# T1/T2 -------------------------------------------------------------------
@query(
    "session_boundary_reset",
    oracle="""
    SELECT event_id AS msg_idx,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             OVER (ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS ride_id
    FROM events
    """,
    tags=("sessionize",),
)
def session_boundary_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2: ride-boundary marker partitions the stream; ride_id is the
    running marker count (main.py:82,98-114,124). Implemented as a
    distributed prefix sum — no single-partition global window."""
    return _with_ride(spark, sf_dir).select("msg_idx", "ride_id")


# T2 ----------------------------------------------------------------------
@query(
    "ride_id_running_counter",
    oracle="""
    SELECT event_id AS msg_idx,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             OVER (ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - 1 AS BIGINT) AS ride_counter
    FROM events
    """,
    tags=("sessionize",),
)
def ride_id_running_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: ``ride_id += 1`` on each 'Getting user data' line, initialized
    at −1 (main.py:82,124) — user_fetch line ≙ event_type='view'.
    Same distributed prefix sum as T1, shifted by the initializer."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("msg_idx"), "event_type"
    )
    fetch = (F.col("event_type") == "view").cast("long")
    return prefix_sum(ev, fetch, "msg_idx", "ride_counter").select(
        "msg_idx", (F.col("ride_counter") - 1).alias("ride_counter")
    )


# T3 ----------------------------------------------------------------------
@query(
    "forward_fill_state",
    oracle="""
    WITH r AS (
      SELECT event_id AS msg_idx, event_type, value,
             CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER (ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ride_id
      FROM events
    )
    SELECT msg_idx, ride_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY ride_id ORDER BY msg_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS carried_duration,
           last_value(CASE WHEN event_type = 'error' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY ride_id ORDER BY msg_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS carried_rpm
    FROM r
    """,
    tags=("sessionize",),
)
def forward_fill_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: telemetry values persist across subsequent lines until
    overwritten, reset at ride boundaries (main.py:77-94,140-153) —
    ``last(…, ignorenulls)`` over a per-ride ordered window."""
    r = _with_ride(spark, sf_dir)
    w = (
        Window.partitionBy("ride_id")
        .orderBy("msg_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dur = F.when(F.col("event_type") == "purchase", F.col("value"))
    rpm = F.when(F.col("event_type") == "error", F.col("value"))
    return r.select(
        "msg_idx",
        "ride_id",
        F.last(dur, ignorenulls=True).over(w).alias("carried_duration"),
        F.last(rpm, ignorenulls=True).over(w).alias("carried_rpm"),
    )


# T4 ----------------------------------------------------------------------
@query(
    "first_occurrence_dedup",
    oracle="""
    SELECT msg_idx, user_id, event_type FROM (
      SELECT event_id AS msg_idx, user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("sessionize", "dedup"),
)
def first_occurrence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: keep only the first record per user_id — the reference's
    growing-set dedup (main.py:85,131-138). Shuffles once on user_id;
    at scale this is the standard keep-first pattern (no global order
    needed beyond the per-key sort)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        ev.select(
            F.col("event_id").alias("msg_idx"),
            "user_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# T5 ----------------------------------------------------------------------
@query(
    "groupby_agg_per_user",
    oracle="""
    WITH w AS (
      SELECT user_id,
             nth_value(strftime(ts, '%Y-%m-%d %H:%M:%S'), 2)
               OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS start_time,
             last_value(value)
               OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS last_duration,
             value
      FROM events
    )
    SELECT user_id,
           ANY_VALUE(start_time) AS start_time,
           ANY_VALUE(last_duration) AS duration,
           CAST(ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(*) AS DECIMAL(28,10)), 4) AS DOUBLE)
               AS avg_value,
           COUNT(*) AS n_rows
    FROM w GROUP BY user_id
    """,
    tags=("sessionize", "agg"),
)
def groupby_agg_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: the reference's quirky per-user aggregate — start_time is the
    *2nd* emitted value, duration the *last*, telemetry the mean
    (main.py:160-171; quirks verified by execution per SURVEY.md §2.3).
    nth_value/last over a full-frame window + one group shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ts_s = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    return (
        ev.select(
            "user_id",
            "value",
            F.nth_value(ts_s, 2).over(w).alias("start_time"),
            F.last("value").over(w).alias("last_duration"),
        )
        .groupBy("user_id")
        .agg(
            F.any_value(F.col("start_time")).alias("start_time"),
            F.any_value(F.col("last_duration")).alias("duration"),
            # divide in DECIMAL, round, then cast: rounding the double
            # quotient is tie-unstable in BOTH directions (see
            # operators/pipeline.py note)
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)"))
                / F.count(F.lit(1)),
                4,
            )
            .cast("double")
            .alias("avg_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# T6 ----------------------------------------------------------------------
@query(
    "drop_first_last_group",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(event_id) AS first_idx FROM events GROUP BY user_id
    ), ranked AS (
      SELECT user_id,
             row_number() OVER (ORDER BY first_idx) AS rn,
             COUNT(*) OVER () AS n
      FROM firsts
    )
    SELECT user_id FROM ranked WHERE rn > 1 AND rn < n
    """,
    tags=("sessionize",),
)
def drop_first_last_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: ``sql_list[1:-1]`` — discard the first and last group in
    first-appearance order; boundary rides are partial (main.py:175).

    No ranking window at all: dropping rank 1 and rank n only needs
    the global MIN and MAX of the (unique) per-group first-appearance
    index — a scalar aggregate broadcast back as a filter. The
    previous form ranked one row per group through a global window;
    groups grow with the corpus, so that input was NOT scale-bounded
    (the round-7 allowlist audit's finding)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("event_id").alias("first_idx"))
    # first_idx is unique per group (event_id is globally unique), so
    # rank 1 == MIN(first_idx) and rank n == MAX(first_idx) exactly.
    edges = firsts.agg(
        F.min("first_idx").alias("__lo"), F.max("first_idx").alias("__hi")
    )
    return (
        firsts.join(F.broadcast(edges))
        .filter(
            (F.col("first_idx") != F.col("__lo"))
            & (F.col("first_idx") != F.col("__hi"))
        )
        .select("user_id")
    )


# T7 ----------------------------------------------------------------------
@query(
    "declared_24h_window",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 24 HOURS
    """,
    tags=("sessionize", "filter"),
)
def declared_24h_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: the "last 24 hours" reduction the reference declares but
    no-ops (main.py:19-20,178-182) — implemented for real. Anchored to
    MAX(ts) instead of wall-clock for determinism. The max is a scalar
    subquery → broadcast; the filter pushes to the scan."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("cutoff")
    )
    return (
        ev.join(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("cutoff"))
        .select("event_id", "user_id", "event_type", "value")
    )
