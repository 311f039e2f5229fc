"""Well-formed deterministic ride log — the fixture for the *composed*
ingest pipeline (SURVEY.md §5 test 2).

The interleaved synthetic log (logsim.py) exercises individual parsers,
but the reference's loop (main.py:96-153) assumes a well-formed grammar:
every ride opens with a marker, then a user-fetch line, then a user
blob, then telemetry — emitting state-carrying rows along the way. A
malformed prefix (telemetry before any user fetch) would crash the
reference with a type error (``start_datetime`` resets to int 0,
main.py:101, then string-concats at :153), so the end-to-end fixture
generates the grammar the reference actually survives.

Every value is pure arithmetic on ``event_id`` — the Spark builder and
the DuckDB CTE below are formula-identical, keeping the whole composed
pipeline oracle-checkable. Layout, per 20-message block (= one ride):

  p = idx % 20 ->  0: boundary marker        (main.py:99)
                   1: 'Getting user data'    (main.py:118)
                   2: user dict blob         (main.py:127); user = block % 37
                   odd: 'Ride -' line        (main.py:140)
                   even: 'Telemetry -' line  (main.py:146)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .logsim import _TS_FMT_DUCK, _TS_FMT_SPARK, MARKER_TEXT

#: Users cycle with this period so each user owns several rides.
N_USERS = 37
_T0 = "2024-01-01 00:00:00"


def well_formed_ride_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(msg_idx, log) — one line per events row, grammar above."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("msg_idx")
    )
    idx = F.col("msg_idx")
    p = idx % 20
    block = (idx / 20).cast("long")
    uid = (block % N_USERS).cast("long")
    ts_s = F.date_format(
        F.to_timestamp(F.lit(_T0)) + F.make_dt_interval(secs=idx),
        _TS_FMT_SPARK,
    )
    ms = idx * 1000
    line = (
        F.when(
            p == 0,
            F.concat(ts_s, F.lit(f" [SYSTEM] {MARKER_TEXT}")),
        )
        .when(
            p == 1,
            F.concat(ts_s, F.lit(" [INFO]: Getting user data from server")),
        )
        .when(
            p == 2,
            F.concat(
                ts_s,
                F.lit(" [SYSTEM] data = {'user_id': "),
                uid,
                F.lit(", 'name': 'Mr User "),
                uid,
                F.lit("', 'gender': 'male', 'address': '"),
                uid,
                F.lit(" High St,Lowtown,AB1 2CD', 'date_of_birth': "),
                ms,
                F.lit(", 'height_cm': 180, 'weight_kg': 80, "),
                F.lit("'account_create_date': "),
                ms,
                F.lit(", 'original_source': 'offline'}"),
            ),
        )
        .when(
            p % 2 == 1,
            F.concat(
                ts_s,
                F.lit(" [INFO]: Ride - duration = "),
                (idx % 500),
                F.lit(".5; resistance = "),
                (idx % 60),
            ),
        )
        .otherwise(
            F.concat(
                ts_s,
                F.lit(" [INFO]: Telemetry - hrt = "),
                (60 + idx % 100),
                F.lit("; rpm = "),
                (80 + idx % 40),
                F.lit("; power = "),
                (100 + idx % 200),
            )
        )
    )
    return ev.select("msg_idx", line.alias("log"))


#: DuckDB twin. Consumers prepend ``WITH ridelog AS ({RIDE_LOG_CTE})``.
RIDE_LOG_CTE = f"""
    SELECT event_id AS msg_idx,
      CASE
        WHEN event_id % 20 = 0 THEN
          strftime(TIMESTAMP '{_T0}' + event_id * INTERVAL 1 SECOND,
                   '{_TS_FMT_DUCK}')
          || ' [SYSTEM] {MARKER_TEXT}'
        WHEN event_id % 20 = 1 THEN
          strftime(TIMESTAMP '{_T0}' + event_id * INTERVAL 1 SECOND,
                   '{_TS_FMT_DUCK}')
          || ' [INFO]: Getting user data from server'
        WHEN event_id % 20 = 2 THEN
          strftime(TIMESTAMP '{_T0}' + event_id * INTERVAL 1 SECOND,
                   '{_TS_FMT_DUCK}')
          || ' [SYSTEM] data = {{''user_id'': '
          || CAST((event_id // 20) % {N_USERS} AS VARCHAR)
          || ', ''name'': ''Mr User ' || CAST((event_id // 20) % {N_USERS} AS VARCHAR)
          || ''', ''gender'': ''male'', ''address'': '''
          || CAST((event_id // 20) % {N_USERS} AS VARCHAR)
          || ' High St,Lowtown,AB1 2CD'', ''date_of_birth'': '
          || CAST(event_id * 1000 AS VARCHAR)
          || ', ''height_cm'': 180, ''weight_kg'': 80, '
          || '''account_create_date'': ' || CAST(event_id * 1000 AS VARCHAR)
          || ', ''original_source'': ''offline''}}'
        WHEN event_id % 2 = 1 THEN
          strftime(TIMESTAMP '{_T0}' + event_id * INTERVAL 1 SECOND,
                   '{_TS_FMT_DUCK}')
          || ' [INFO]: Ride - duration = ' || CAST(event_id % 500 AS VARCHAR)
          || '.5; resistance = ' || CAST(event_id % 60 AS VARCHAR)
        ELSE
          strftime(TIMESTAMP '{_T0}' + event_id * INTERVAL 1 SECOND,
                   '{_TS_FMT_DUCK}')
          || ' [INFO]: Telemetry - hrt = ' || CAST(60 + event_id % 100 AS VARCHAR)
          || '; rpm = ' || CAST(80 + event_id % 40 AS VARCHAR)
          || '; power = ' || CAST(100 + event_id % 200 AS VARCHAR)
      END AS log
    FROM events
"""
