"""Event-stream queries: JSON decode, JSON output edge, session windows.

Covers S3 (json_decode, main.py:53), S8 (json_records_output,
api.py:66,...), and X5 (sessionize_events — session windows over
``events``, the driver-mandated extension; SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.epoch import epoch_ms, epoch_us
from ..functions.parity import exact_round, md5_int
from ..registry import query

SESSION_GAP_MIN = 30


# S3 ----------------------------------------------------------------------
@query(
    "json_decode",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    tags=("source", "json"),
)
def json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: per-message JSON decode (main.py:53) — ``get_json_object``
    over the events.props payload; stays in codegen, no shuffle."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


# S8 ----------------------------------------------------------------------
@query(
    "json_records_output",
    oracle="""
    SELECT r_regionkey,
           CAST(to_json(struct_pack(r_regionkey := r_regionkey,
                                    r_name := r_name)) AS VARCHAR) AS rec
    FROM region
    """,
    tags=("sink", "json"),
)
def json_records_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: rows → JSON records at the API edge
    (``to_json(orient='records')``, api.py:66,73,...). Spark ``to_json``
    and DuckDB ``to_json(struct_pack(...))`` agree byte-for-byte."""
    return load_table(spark, sf_dir, "region").select(
        "r_regionkey",
        F.to_json(F.struct("r_regionkey", "r_name")).alias("rec"),
    )


# X23 — funnel conversion -------------------------------------------------
@query(
    "funnel_conversion",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS step_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
    FROM firsts
    """,
    tags=("analytics", "funnel", "extension"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X23: ordered funnel view → click → purchase — users completing
    each prefix IN ORDER (first view before first click before first
    purchase). One partial-agg shuffle on user_id; the step logic is
    pure column arithmetic on per-user first-times."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    as_int = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        as_int(viewed).alias("step_view"),
        as_int(clicked).alias("step_click"),
        as_int(purchased).alias("step_purchase"),
    )


# X24 — weekly retention cohorts ------------------------------------------
@query(
    "weekly_retention",
    oracle="""
    WITH weeks AS (
      SELECT user_id,
             -- FLOOR, not //: DuckDB's // on DOUBLE is plain division,
             -- and CAST(.5 AS BIGINT) rounds — silently off-by-one
             CAST(FLOOR((epoch(ts) - epoch(TIMESTAMP '2024-01-01'))
                        / 604800) AS BIGINT) AS week
      FROM events
    ),
    cohorts AS (SELECT user_id, MIN(week) AS cohort FROM weeks GROUP BY user_id)
    SELECT c.cohort, w.week - c.cohort AS week_offset,
           COUNT(DISTINCT w.user_id) AS n_active
    FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
    GROUP BY c.cohort, w.week - c.cohort
    """,
    tags=("analytics", "retention", "extension"),
)
def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: cohort retention — users grouped by first-activity week,
    distinct-active counts per (cohort, week offset). Two shuffles
    (cohort assignment + the distinct-count agg); the cohort table is
    one row per user and broadcastable at reasonable user counts."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
        )
        / 604800
    ).cast("long")
    weeks = ev.select("user_id", week.alias("week"))
    cohorts = weeks.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        weeks.join(F.broadcast(cohorts), "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


# X5 ----------------------------------------------------------------------
@query(
    "sessionize_events",
    oracle=f"""
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_MIN} * 60 * 1000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), s AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(is_new)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_seq
      FROM d
    )
    SELECT user_id, session_seq,
           epoch_ms(MIN(ts)) AS session_start_ms,
           epoch_ms(MAX(ts)) AS session_end_ms,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_seq
    """,
    tags=("sessionize", "extension"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: 30-minute-gap session windows per user over events —
    gaps-and-islands with per-user windows (shuffle on user_id only;
    bounded per-key state → scales). The streaming twin uses
    ``session_window(ts, '30 minutes')`` (streaming/pipeline.py);
    semantics are identical for batch data."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    gap = us - F.lag(us).over(w)
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    s = d.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return s.groupBy("user_id", "session_seq").agg(
        epoch_ms(F.min("ts")).alias("session_start_ms"),
        epoch_ms(F.max("ts")).alias("session_end_ms"),
        F.count(F.lit(1)).alias("n_events"),
    )


# X29 — time-series resample (minute bars) --------------------------------
#: shared with the streaming twin (streaming_minute_bars) — both
#: execution modes must satisfy the identical oracle.
MINUTE_BARS_ORACLE = """
    WITH m AS (
      SELECT event_type, value, ts, event_id,
             date_trunc('minute', ts) AS minute
      FROM events
    ),
    o AS (
      SELECT event_type, minute, value, ts, event_id,
             row_number() OVER (PARTITION BY event_type, minute
                                ORDER BY ts, event_id) AS rn_open,
             row_number() OVER (PARTITION BY event_type, minute
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM m
    )
    SELECT event_type,
           strftime(minute, '%Y-%m-%d %H:%M') AS minute,
           ANY_VALUE(CASE WHEN rn_open = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           ANY_VALUE(CASE WHEN rn_close = 1 THEN value END) AS close,
           COUNT(*) AS n
    FROM o GROUP BY event_type, strftime(minute, '%Y-%m-%d %H:%M')
    """


@query(
    "resample_minute_bars",
    oracle=MINUTE_BARS_ORACLE,
    tags=("analytics", "timeseries", "extension"),
)
def resample_minute_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X29: downsample the event stream to per-minute OHLC bars per
    event type — the resample/aggregate shape of time-series storage
    engines. Open/close via per-bar ranking windows with a
    deterministic (ts, event_id) order; one shuffle on (type, minute);
    bar count, not event count, bounds the output."""
    ev = load_table(spark, sf_dir, "events")
    minute = F.date_trunc("minute", F.col("ts"))
    m = ev.select(
        "event_type", "value", "ts", "event_id", minute.alias("minute")
    )
    wo = Window.partitionBy("event_type", "minute").orderBy("ts", "event_id")
    wc = Window.partitionBy("event_type", "minute").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    o = m.select(
        "event_type",
        "minute",
        "value",
        F.row_number().over(wo).alias("rn_open"),
        F.row_number().over(wc).alias("rn_close"),
    )
    return o.groupBy(
        "event_type", F.date_format("minute", "yyyy-MM-dd HH:mm").alias("minute")
    ).agg(
        # max over the single non-null, NOT any_value: Spark's
        # any_value does not ignore nulls by default (DuckDB's does)
        F.max(F.when(F.col("rn_open") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_close") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


# X30 — table profiling ---------------------------------------------------
@query(
    "table_profile",
    oracle="""
    SELECT 'o_orderkey' AS col,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders
    """,
    tags=("analytics", "profiling", "extension"),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X30: data-quality profile — per-column null and distinct counts
    in one pass (single aggregate over the scan, then a tiny unpivot;
    the naive per-column UNION the oracle states would scan the table
    once per column at 100 TB)."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"null__{c}"),
            F.count_distinct(c).alias(f"dist__{c}"),
        ]
    wide = o.agg(*aggs)
    per_col = [
        wide.select(
            F.lit(c).alias("col"),
            F.col(f"null__{c}").alias("n_null"),
            F.col(f"dist__{c}").alias("n_distinct"),
        )
        for c in cols
    ]
    out = per_col[0]
    for p in per_col[1:]:
        out = out.unionAll(p)
    return out


# X115 — hopping (sliding) window counts ----------------------------------
@query(
    "hopping_window_counts",
    oracle="""
    SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(to_timestamp(ws + 600), '%Y-%m-%d %H:%M:%S')
             AS window_end,
           event_type,
           COUNT(*) AS n
    FROM (
      SELECT event_type,
             (epoch_us(ts) // 1000000 // 300) * 300 - k.k * 300 AS ws
      FROM events, (VALUES (0), (1)) AS k(k)
    )
    GROUP BY ws, event_type
    """,
    tags=("analytics", "timeseries", "extension"),
)
def hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X115: HOPPING-window event counts — 10-minute windows advancing
    every 5, so each event lands in exactly two overlapping windows
    (``F.window(ts, '10 minutes', '5 minutes')``, the built-in
    Structured-Streaming window shape run here in batch; the oracle
    states the same assignment arithmetic explicitly: the two
    5-minute-grid-aligned starts covering each timestamp). The smooth
    trend view dashboards want where tumbling windows saw-tooth.

    Scale shape: the window assignment is a narrow generate (2 rows
    per event), then ONE shuffle on (window, event_type) with map-side
    partial counts — identical cost profile to a tumbling-window count
    at 2x row volume. Window bounds stringify for cross-engine
    timestamp parity (the resample_minute_bars idiom)."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias(
                "window_end"
            ),
            "event_type",
            "n",
        )
    )


# X159 — session path mining ------------------------------------------------
#: path prefix length and report size for session path mining.
PATH_STEPS = 4
PATH_TOP = 20


@query(
    "session_path_topk",
    oracle=f"""
    WITH d AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_MIN} * 60 * 1000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(is_new)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_seq
      FROM d
    ), p AS (
      SELECT user_id, session_seq,
             array_to_string(
               (array_agg(event_type ORDER BY ts, event_id))[1:{PATH_STEPS}],
               '>') AS path
      FROM s GROUP BY user_id, session_seq
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {PATH_TOP}
    """,
    tags=("analytics", "sequence", "extension"),
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X159: SESSION PATH MINING — the clickstream-analysis staple: the
    top-{PATH_TOP} most common first-{PATH_STEPS}-step event-type
    paths across sessions ('view>click>view>purchase'), over the SAME
    30-minute-gap sessionization as X5 (shared CTE, so path mining
    can never disagree with the sessionizer it consumes).

    Plan: per-user ordered windows (shuffle on user_id, bounded state
    per key); in-session order restored with sort_array over
    (ts, event_id, type) structs — never a second window; the path
    count is one partial-agg exchange on short path strings and the
    report cut is TakeOrdered with the (count, path) full tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    gap = us - F.lag(us).over(w)
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    s = d.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    p = (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice("evs", 1, PATH_STEPS),
                    lambda e: e.getField("event_type"),
                ),
            ).alias("path")
        )
    )
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATH_TOP)
    )


# X160 — funnel step latency quantiles --------------------------------------
@query(
    "funnel_latency_quantiles",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                 THEN epoch_us(ts) END) AS t_view,
             MIN(CASE WHEN event_type = 'click'
                 THEN epoch_us(ts) END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN epoch_us(ts) END) AS t_purchase
      FROM events GROUP BY user_id
    ),
    gaps AS (
      SELECT 'view->click' AS step_pair,
             t_click - t_view AS gap_us
      FROM firsts WHERE t_view IS NOT NULL AND t_click > t_view
      UNION ALL
      SELECT 'click->purchase', t_purchase - t_click
      FROM firsts
      WHERE t_view IS NOT NULL AND t_click > t_view
        AND t_purchase > t_click
      UNION ALL
      SELECT 'view->purchase', t_purchase - t_view
      FROM firsts
      WHERE t_view IS NOT NULL AND t_click > t_view
        AND t_purchase > t_click
    )
    SELECT step_pair,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(ROUND(CAST(quantile_cont(gap_us, 0.5) / 1000000.0
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS p50_sec,
           CAST(ROUND(CAST(quantile_cont(gap_us, 0.9) / 1000000.0
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS p90_sec
    FROM gaps GROUP BY step_pair
    """,
    tags=("analytics", "funnel", "extension"),
)
def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X160: TIME-TO-CONVERT — X23 counts who converts; this measures
    HOW FAST: per ordered funnel leg (same in-order gating as X23, so
    the two reports can never disagree about who converted), the
    median and p90 latency between first occurrences, in seconds.

    Float discipline: gaps are exact bigint microseconds; the
    interpolated percentile operates on identical integers in both
    engines ((a+b)/2-style interpolation on exact doubles), divided
    by 1e6 once and rounded via the decimal idiom.

    Plan: one partial-agg shuffle on user_id builds the per-user
    first-times (three scalars per user); legs are narrow projections
    of that frame; each quantile reduces through a per-leg sort-based
    aggregate over converted users only. At 100 TB swap the exact
    percentile for the registered t-digest with the report shape
    unchanged."""
    ev = load_table(spark, sf_dir, "events")

    def first_us(t: str) -> F.Column:
        return F.min(
            F.when(F.col("event_type") == t, epoch_us("ts"))
        )

    firsts = ev.groupBy("user_id").agg(
        first_us("view").alias("t_view"),
        first_us("click").alias("t_click"),
        first_us("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_view").isNotNull() & (
        F.col("t_click") > F.col("t_view")
    )
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    legs = (
        firsts.filter(clicked)
        .select(
            F.lit("view->click").alias("step_pair"),
            (F.col("t_click") - F.col("t_view")).alias("gap_us"),
        )
        .unionAll(
            firsts.filter(purchased).select(
                F.lit("click->purchase").alias("step_pair"),
                (F.col("t_purchase") - F.col("t_click")).alias("gap_us"),
            )
        )
        .unionAll(
            firsts.filter(purchased).select(
                F.lit("view->purchase").alias("step_pair"),
                (F.col("t_purchase") - F.col("t_view")).alias("gap_us"),
            )
        )
    )
    return legs.groupBy("step_pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        exact_round(F.percentile("gap_us", F.lit(0.5)) / 1000000.0, 4).alias("p50_sec"),
        exact_round(F.percentile("gap_us", F.lit(0.9)) / 1000000.0, 4).alias("p90_sec"),
    )


# X163 — deterministic A/B experiment readout -------------------------------
def _ab_arm() -> F.Column:
    """The A/B arm of ``user_id``: ``A`` when the first hex digit of its
    salted hash is below 8. Shared by the experiment and its SRM check,
    so both split users the same way."""
    salted = F.concat(F.lit("ab-"), F.col("user_id").cast("string"))
    return F.when(md5_int(salted, 1).cast("bigint") < 8, "A").otherwise("B")


@query(
    "ab_experiment_report",
    oracle="""
    WITH y AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(
                    md5('ab-' || CAST(user_id AS VARCHAR)), 1, 1))
                    AS BIGINT) < 8
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS yu
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(yu) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(yu * yu) AS DECIMAL(38,4)) AS syy
      FROM y GROUP BY arm
    ),
    w AS (
      SELECT
        (SELECT n FROM s WHERE arm = 'A') AS n_a,
        (SELECT n FROM s WHERE arm = 'B') AS n_b,
        (SELECT CAST(sy AS DOUBLE) FROM s WHERE arm = 'A') AS sy_a,
        (SELECT CAST(sy AS DOUBLE) FROM s WHERE arm = 'B') AS sy_b,
        (SELECT CAST(syy AS DOUBLE) FROM s WHERE arm = 'A') AS syy_a,
        (SELECT CAST(syy AS DOUBLE) FROM s WHERE arm = 'B') AS syy_b
    )
    SELECT n_a, n_b,
           CAST(ROUND(CAST(sy_a / n_a AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS mean_a,
           CAST(ROUND(CAST(sy_b / n_b AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS mean_b,
           CAST(ROUND(CAST(sy_b / n_b - sy_a / n_a
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS diff,
           CAST(ROUND(CAST(
             (sy_b / n_b - sy_a / n_a)
             / sqrt(((syy_a - sy_a * sy_a / n_a) / (n_a - 1)) / n_a
                    + ((syy_b - sy_b * sy_b / n_b) / (n_b - 1)) / n_b)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS z_welch
    FROM w
    """,
    tags=("analytics", "experiment", "extension"),
)
def ab_experiment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X163: A/B EXPERIMENT readout — the experimentation-platform
    primitive: users assign deterministically to arms by content hash
    (md5 nibble, 50/50 — the same-user-same-arm property that makes
    assignment reproducible across engines and sessions), the metric
    aggregates at the UNIT OF RANDOMIZATION (per-user value totals —
    arm means over users, never over raw events, or correlated events
    fake precision), and the readout is the Welch z statistic on the
    arm means. On this non-experiment telemetry z should hover near 0
    — the A/A-test shape that validates the pipeline itself.

    Float discipline: per-user totals and both arm moment sums are
    exact DECIMAL; the Welch expression touches doubles once in one
    shared IEEE ordering (sqrt is correctly-rounded, safe); rounded
    via the decimal idiom.

    Plan: one user-keyed partial agg, then a 2-group agg — the whole
    experiment reads in two exchanges at any scale."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    arm = _ab_arm()
    y = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("yu")
        )
        .select(arm.alias("arm"), "yu")
    )
    s = y.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yu").cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("yu") * F.col("yu")).cast("decimal(38,4)").alias("syy"),
    )
    a = s.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"),
        F.col("sy").cast("double").alias("sy_a"),
        F.col("syy").cast("double").alias("syy_a"),
    )
    b = s.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"),
        F.col("sy").cast("double").alias("sy_b"),
        F.col("syy").cast("double").alias("syy_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    mean_a = F.col("sy_a") / na
    mean_b = F.col("sy_b") / nb
    var_a = (F.col("syy_a") - F.col("sy_a") * F.col("sy_a") / na) / (na - 1)
    var_b = (F.col("syy_b") - F.col("sy_b") * F.col("sy_b") / nb) / (nb - 1)
    z = (mean_b - mean_a) / F.sqrt(var_a / na + var_b / nb)
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        exact_round(mean_a, 4).alias("mean_a"),
        exact_round(mean_b, 4).alias("mean_b"),
        exact_round(mean_b - mean_a, 4).alias("diff"),
        exact_round(z, 4).alias("z_welch"),
    )


# X164 — sequence-model lag features ----------------------------------------
@query(
    "lag_feature_matrix",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value, 1) OVER w AS lag1,
           lag(value, 2) OVER w AS lag2,
           lag(value, 3) OVER w AS lag3,
           value - lag(value, 1) OVER w AS delta1,
           epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("analytics", "sequence", "extension"),
)
def lag_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X164: LAG-FEATURE materialization — the feature-engineering pass
    sequence models (churn, next-event, anomaly) consume: per event,
    the previous three values, the first difference, and the
    inter-arrival gap in exact microseconds, all within the user's own
    ordered history (deterministic (ts, event_id) order; NULLs at
    history edges — the model's mask, not an error).

    Plan: ONE per-user ordered window serves all five features (Spark
    plans a single WindowExec; bounded state per key, shuffle on
    user_id only). Subtraction on raw doubles/bigints of identical
    provenance — no arithmetic ladder needed."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("lag1"),
        F.lag("value", 2).over(w).alias("lag2"),
        F.lag("value", 3).over(w).alias("lag3"),
        (F.col("value") - F.lag("value", 1).over(w)).alias("delta1"),
        (us - F.lag(us, 1).over(w)).alias("gap_us"),
    )


# X165 — rolling median over minute bars ------------------------------------
#: trailing bar count for the rolling median.
ROLL_MED_BARS = 5


@query(
    "rolling_median_bars",
    oracle=f"""
    WITH m AS (
      SELECT event_type, value, ts, event_id,
             date_trunc('minute', ts) AS minute
      FROM events
    ),
    o AS (
      SELECT event_type, minute, value,
             row_number() OVER (PARTITION BY event_type, minute
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM m
    ),
    bars AS (
      SELECT event_type,
             strftime(minute, '%Y-%m-%d %H:%M') AS minute,
             ANY_VALUE(CASE WHEN rn_close = 1 THEN value END) AS close
      FROM o GROUP BY event_type, strftime(minute, '%Y-%m-%d %H:%M')
    )
    SELECT event_type, minute, close,
           CAST(ROUND(CAST(
             median(close) OVER (PARTITION BY event_type ORDER BY minute
                                 ROWS BETWEEN {ROLL_MED_BARS - 1} PRECEDING
                                 AND CURRENT ROW)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS med{ROLL_MED_BARS}
    FROM bars
    """,
    tags=("analytics", "timeseries", "extension"),
)
def rolling_median_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X165: ROLLING MEDIAN over per-minute close bars — the robust
    smoother (median filter) used where EWMA (X136) is outlier-
    sensitive; trailing {ROLL_MED_BARS}-bar window per type. Spark has
    no windowed percentile, so the median is computed EXPLICITLY:
    collect the bounded trailing frame, sort_array, interpolate —
    semantically identical to DuckDB's windowed median (both
    interpolate (a+b)/2 on even counts over identical doubles).

    Plan: bars first (event->bar reduction bounds everything
    downstream by BAR cardinality, time-range-bounded like X136); one
    per-type ordered window whose per-row state is the constant
    {ROLL_MED_BARS}-element array — never a corpus-sized buffer."""
    ev = load_table(spark, sf_dir, "events")
    minute = F.date_trunc("minute", F.col("ts"))
    m = ev.select(
        "event_type", "value", "ts", "event_id", minute.alias("minute")
    )
    wc = Window.partitionBy("event_type", "minute").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    bars = (
        m.select(
            "event_type",
            "minute",
            "value",
            F.row_number().over(wc).alias("rn_close"),
        )
        .groupBy(
            "event_type",
            F.date_format("minute", "yyyy-MM-dd HH:mm").alias("minute"),
        )
        .agg(
            F.max(F.when(F.col("rn_close") == 1, F.col("value"))).alias(
                "close"
            )
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(-(ROLL_MED_BARS - 1), 0)
    )
    arr = F.sort_array(F.collect_list("close").over(w))
    n = F.size(arr)
    mid_hi = (n / 2 + 1).cast("int")
    mid_lo = (n / 2).cast("int")
    odd_mid = ((n + 1) / 2).cast("int")
    med = F.when(
        n % 2 == 1, F.element_at(arr, odd_mid)
    ).otherwise(
        (F.element_at(arr, mid_lo) + F.element_at(arr, mid_hi)) / 2.0
    )
    return bars.select(
        "event_type",
        "minute",
        "close",
        exact_round(med, 4).alias(f"med{ROLL_MED_BARS}"),
    )


# X169 — time-weighted average (TWAP) ---------------------------------------
@query(
    "time_weighted_avg",
    oracle="""
    WITH e AS (
      SELECT event_type,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
             epoch_us(date_trunc('hour', ts)) + 3600000000 AS hour_end_us,
             epoch_us(ts) AS us,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS next_us
      FROM events
    ),
    w AS (
      SELECT event_type, hour, cents,
             LEAST(COALESCE(next_us, hour_end_us), hour_end_us) - us
               AS w_us
      FROM e
    )
    SELECT event_type, hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(w_us) AS BIGINT) AS covered_us,
           CAST(ROUND(CAST(
             CAST(SUM(CAST(cents * w_us AS DECIMAL(38,0)))
                  AS DOUBLE) / 100.0
             / CAST(SUM(w_us) AS DOUBLE)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS twap
    FROM w
    WHERE w_us > 0
    GROUP BY event_type, hour
    """,
    tags=("analytics", "timeseries", "extension"),
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X169: TIME-WEIGHTED average per (type, hour) — the TWAP /
    ``time_weight`` primitive of time-series engines: each observation
    holds its value until the next one (clipped to its own hour; the
    hour's last observation extends to the hour boundary), so
    irregular sampling cannot bias the hourly mean the way a plain
    AVG does (a burst of readings in one second would dominate it).
    Segments with zero duration (same-microsecond successors) drop —
    they carry no time mass.

    Float discipline: durations are exact bigint microseconds; values
    become exact integer cents (2-dp doubles × 100 rounded);
    cents·µs products sum in DECIMAL(38,0) — the single division to
    doubles happens once, rounded via the decimal idiom.

    Plan: one per-type ordered window (lead only — bounded state),
    one (type, hour) partial agg. The window shuffles on type; at
    100 TB partition the source by (type, day) and the window is
    partition-local."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    hour_start = F.date_trunc("hour", F.col("ts"))
    us = epoch_us("ts")
    e = ev.select(
        "event_type",
        F.date_format(hour_start, "yyyy-MM-dd HH:00").alias("hour"),
        (epoch_us(hour_start) + 3600000000).alias("hour_end_us"),
        us.alias("us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.lead(us).over(w).alias("next_us"),
    )
    w_us = (
        F.least(F.coalesce("next_us", "hour_end_us"), F.col("hour_end_us"))
        - F.col("us")
    )
    return (
        e.select("event_type", "hour", "cents", w_us.alias("w_us"))
        .filter(F.col("w_us") > 0)
        .groupBy("event_type", "hour")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("w_us").cast("bigint").alias("covered_us"),
            exact_round(
                F.sum(
                    (F.col("cents") * F.col("w_us")).cast("decimal(38,0)")
                ).cast("double")
                / 100.0
                / F.sum("w_us").cast("double"),
                4,
            ).alias("twap"),
        )
    )


# X170 — hour-of-week seasonality profile -----------------------------------
@query(
    "hour_of_week_seasonality",
    oracle="""
    WITH base AS (
      SELECT dayofweek(ts) AS dow,
             CAST(hour(ts) AS BIGINT) AS hr,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events
    ),
    cell AS (
      SELECT dow, hr,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS DECIMAL(38,2)) AS sy
      FROM base GROUP BY dow, hr
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gn,
             CAST(SUM(y) AS DECIMAL(38,2)) AS gsy
      FROM base
    )
    SELECT CAST(c.dow AS BIGINT) AS dow, c.hr, c.n,
           CAST(ROUND(CAST(CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS mean_value,
           CAST(ROUND(CAST(
             (CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE))
             / (CAST(g.gsy AS DOUBLE) / CAST(g.gn AS DOUBLE))
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS seasonality_index
    FROM cell c CROSS JOIN g
    """,
    tags=("analytics", "timeseries", "extension"),
)
def hour_of_week_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X170: HOUR-OF-WEEK seasonality profile — the 7×24 heat-map
    behind capacity planning and anomaly baselining: per (day-of-week,
    hour) cell, the mean value and its SEASONALITY INDEX (cell mean /
    global mean; 1.0 = no seasonal effect). Day-of-week normalized to
    DuckDB's 0=Sunday convention (Spark's dayofweek is 1=Sunday — the
    off-by-one that silently shifts every weekly profile).

    Plan: one partial agg onto the constant 168-cell grid + a 1-row
    global broadcast; exact decimal sums, the two ratios in one shared
    IEEE ordering. One scan at any scale."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )
    cell = base.groupBy("dow", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("decimal(38,2)").alias("sy"),
    )
    g = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("gn"),
        F.sum("y").cast("decimal(38,2)").alias("gsy"),
    )
    cell_mean = F.col("sy").cast("double") / F.col("n").cast("double")
    global_mean = F.col("gsy").cast("double") / F.col("gn").cast("double")
    return cell.crossJoin(F.broadcast(g)).select(
        "dow",
        "hr",
        "n",
        exact_round(cell_mean, 4).alias("mean_value"),
        exact_round(cell_mean / global_mean, 4).alias("seasonality_index"),
    )


# X174 — Markov sequence-likelihood anomaly ---------------------------------
#: report size and minimum transitions for a scoreable session.
MKV_TOP = 20
MKV_MIN_TRANS = 3


@query(
    "markov_sequence_likelihood",
    oracle=f"""
    WITH mseq AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    m AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS BIGINT)
               AS tot
      FROM mseq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    d AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_MIN} * 60 * 1000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(is_new)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_seq
      FROM d
    ),
    tr AS (
      SELECT user_id, session_seq, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id, session_seq
               ORDER BY ts, event_id) AS next_type
      FROM s
    ),
    scored AS (
      SELECT t.user_id, t.session_seq,
             CAST(ROUND(CAST(
               -log2(CAST(m.n AS DOUBLE) / CAST(m.tot AS DOUBLE))
               AS DECIMAL(18,12)), 12) AS DECIMAL(18,12)) AS nll
      FROM tr t JOIN m ON t.event_type = m.event_type
                     AND t.next_type = m.next_type
      WHERE t.next_type IS NOT NULL
    )
    SELECT user_id, session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_trans,
           CAST(ROUND(CAST(
             CAST(SUM(nll) AS DOUBLE) / COUNT(*)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_nll
    FROM scored
    GROUP BY user_id, session_seq
    HAVING COUNT(*) >= {MKV_MIN_TRANS}
    ORDER BY avg_nll DESC, user_id, session_seq
    LIMIT {MKV_TOP}
    """,
    tags=("analytics", "sequence", "extension"),
)
def markov_sequence_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X174: SEQUENCE-LIKELIHOOD anomaly — score every session against
    the corpus first-order Markov matrix (X58's user-stream transition
    counts, shared definition) by average negative log2-likelihood of
    its IN-SESSION transitions; the top-{MKV_TOP} most improbable
    sessions (≥ {MKV_MIN_TRANS} transitions) are the bot/fraud/broken-
    client review queue. The sequence-level consumer of the matrix the
    way X159 is of the sessionizer.

    Float discipline: probabilities stay as exact count ratios; each
    −log2 term is rounded to a 12-dp decimal constant before the
    per-session sum (X133 idiom), the average rounded 4 dp.

    Plan: matrix = |types|² rows, broadcast onto the transition
    stream; sessions and transitions come from the same per-user
    ordered window family as X5/X58 (bounded state per key); the cut
    is TakeOrdered with a full tiebreak."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    mseq = ev.withColumn("next_type", F.lead("event_type").over(wu)).filter(
        F.col("next_type").isNotNull()
    )
    wt = Window.partitionBy("event_type")
    m = (
        mseq.groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("tot", F.sum("n").over(wt).cast("bigint"))
    )
    us = epoch_us("ts")
    gap = us - F.lag(us).over(wu)
    s = ev.withColumn(
        "session_seq",
        F.sum(
            F.when(
                gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1
            ).otherwise(0)
        ).over(wu.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    tr = s.withColumn("next_type", F.lead("event_type").over(ws)).filter(
        F.col("next_type").isNotNull()
    )
    nll = F.round(
        (
            -F.log2(F.col("n").cast("double") / F.col("tot").cast("double"))
        ).cast("decimal(18,12)"),
        12,
    ).cast("decimal(18,12)")
    scored = tr.join(F.broadcast(m), ["event_type", "next_type"]).select(
        "user_id", "session_seq", nll.alias("nll")
    )
    return (
        scored.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trans"),
            exact_round(
                F.sum("nll").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("avg_nll"),
        )
        .filter(F.col("n_trans") >= MKV_MIN_TRANS)
        .orderBy(F.col("avg_nll").desc(), "user_id", "session_seq")
        .limit(MKV_TOP)
    )


# X180 — seasonality-adjusted robust anomaly --------------------------------
@query(
    "seasonal_residual_anomaly",
    oracle="""
    WITH base AS (
      SELECT event_id, event_type, value,
             dayofweek(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hr
      FROM events
    ),
    cell AS (
      SELECT event_type, dow, hr,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sy
      FROM base GROUP BY event_type, dow, hr
    ),
    r AS (
      SELECT b.event_id, b.event_type, b.value,
             CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE) AS expected,
             b.value - CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE) AS resid
      FROM base b JOIN cell c
        ON b.event_type = c.event_type AND b.dow = c.dow AND b.hr = c.hr
    ),
    med AS (
      SELECT event_type, median(resid) AS med FROM r GROUP BY event_type
    ),
    mad AS (
      SELECT r.event_type, median(ABS(r.resid - m.med)) AS mad,
             MIN(m.med) AS med
      FROM r JOIN med m ON r.event_type = m.event_type
      GROUP BY r.event_type
    )
    SELECT r.event_id, r.event_type, r.value,
           CAST(ROUND(CAST(r.expected AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS expected,
           CAST(ROUND(CAST((r.resid - s.med) / (1.4826 * s.mad)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS rz
    FROM r JOIN mad s ON r.event_type = s.event_type
    WHERE s.mad > 0
      AND ABS((r.resid - s.med) / (1.4826 * s.mad)) > 3.5
    """,
    tags=("analytics", "quality", "timeseries", "extension"),
)
def seasonal_residual_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X180: SEASONALITY-ADJUSTED robust anomalies — the third and
    final member of the anomaly family (X59 plain z, X145 median/MAD):
    score each event's RESIDUAL against its (type, day-of-week, hour)
    seasonal baseline, then apply the X145 robust cut to the
    residuals. What it buys: a Sunday-3am value that is normal for
    Sunday 3am but 4σ against the global profile stays quiet, and a
    weekday-noon value hiding inside the global spread but wild for
    its own cell gets flagged — context the unconditional detectors
    cannot express.

    Float discipline: cell means from exact decimal sums, the residual
    and rz expressions in one shared IEEE ordering, medians
    interpolate identically on identical doubles; output rounded 4 dp.

    Plan: one (type, dow, hr) partial agg (≤ |types|·168 rows,
    broadcast back), then the X145 two-median pass over residuals —
    three broadcast-joined aggregates, no row-level shuffle."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        "value",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
    )
    cell = base.groupBy("event_type", "dow", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("sy"),
    )
    expected = F.col("sy").cast("double") / F.col("n").cast("double")
    r = base.join(F.broadcast(cell), ["event_type", "dow", "hr"]).select(
        "event_id",
        "event_type",
        "value",
        expected.alias("expected"),
        (F.col("value") - expected).alias("resid"),
    )
    med = r.groupBy("event_type").agg(F.median("resid").alias("med"))
    mad = (
        r.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.median(F.abs(F.col("resid") - F.col("med"))).alias("mad"),
            F.min("med").alias("med"),
        )
    )
    rz = (F.col("resid") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        r.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.abs(rz) > 3.5))
        .select(
            "event_id",
            "event_type",
            "value",
            exact_round(F.col("expected"), 4).alias("expected"),
            exact_round(rz, 4).alias("rz"),
        )
    )


# X181 — cohort lifetime-value curve ----------------------------------------
@query(
    "cohort_ltv_curve",
    oracle="""
    WITH weeks AS (
      SELECT user_id,
             CAST(FLOOR((epoch(ts) - epoch(TIMESTAMP '2024-01-01'))
                        / 604800) AS BIGINT) AS week,
             CAST(value AS DECIMAL(18,2)) AS rev
      FROM events
    ),
    cohorts AS (
      SELECT user_id, MIN(week) AS cohort FROM weeks GROUP BY user_id
    ),
    size_c AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM cohorts GROUP BY cohort
    ),
    wk AS (
      SELECT c.cohort, w.week - c.cohort AS week_offset,
             CAST(SUM(w.rev) AS DECIMAL(38,2)) AS revenue
      FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
      GROUP BY c.cohort, w.week - c.cohort
    ),
    cum AS (
      SELECT cohort, week_offset, revenue,
             CAST(SUM(revenue) OVER (PARTITION BY cohort
               ORDER BY week_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,2)) AS cum_rev
      FROM wk
    )
    SELECT m.cohort, m.week_offset, s.n_users,
           CAST(ROUND(CAST(CAST(m.revenue AS DOUBLE)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(CAST(m.cum_rev AS DOUBLE)
                           / CAST(s.n_users AS DOUBLE)
                           AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS cum_ltv_per_user
    FROM cum m JOIN size_c s ON m.cohort = s.cohort
    """,
    tags=("analytics", "retention", "extension"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X181: COHORT LTV CURVE — X24 counts who comes back; this tracks
    what they are WORTH: per (first-activity-week cohort, week
    offset), the cohort's revenue that week and its cumulative
    lifetime value per user — the payback-period curve growth teams
    steer by. Same week/cohort definitions as X24 (shared anchor and
    arithmetic), so retention and LTV can never disagree about who is
    in which cohort.

    Float discipline: weekly revenue in exact DECIMAL; the cumulative
    window sums decimals (order-independent); one division to doubles
    per row, rounded 4 dp.

    Plan: one (user, week) reduction, the one-row-per-user cohort
    frame broadcast back, one (cohort, offset) partial agg; the
    cumulative window is partitioned BY COHORT over week offsets —
    bounded by the calendar, never by event volume."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
        )
        / 604800
    ).cast("long")
    weeks = ev.select(
        "user_id",
        week.alias("week"),
        F.col("value").cast("decimal(18,2)").alias("rev"),
    )
    cohorts = weeks.groupBy("user_id").agg(F.min("week").alias("cohort"))
    size_c = cohorts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    wk = (
        weeks.join(F.broadcast(cohorts), "user_id")
        .groupBy(
            "cohort", (F.col("week") - F.col("cohort")).alias("week_offset")
        )
        .agg(F.sum("rev").cast("decimal(38,2)").alias("revenue"))
    )
    wcum = (
        Window.partitionBy("cohort")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = wk.withColumn(
        "cum_rev", F.sum("revenue").over(wcum).cast("decimal(38,2)")
    )
    return cum.join(F.broadcast(size_c), "cohort").select(
        "cohort",
        "week_offset",
        "n_users",
        exact_round(F.col("revenue").cast("double"), 4).alias("revenue"),
        exact_round(
            F.col("cum_rev").cast("double") / F.col("n_users").cast("double"), 4
        ).alias("cum_ltv_per_user"),
    )


# X182 — funnel conversion by customer segment ------------------------------
@query(
    "funnel_by_segment",
    oracle="""
    WITH firsts AS (
      SELECT e.user_id, c.c_mktsegment AS segment,
             MIN(CASE WHEN e.event_type = 'view' THEN e.ts END) AS t_view,
             MIN(CASE WHEN e.event_type = 'click' THEN e.ts END) AS t_click,
             MIN(CASE WHEN e.event_type = 'purchase' THEN e.ts END)
               AS t_purchase
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY e.user_id, c.c_mktsegment
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS step_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                       AND t_purchase > t_click
                      THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS conversion_rate
    FROM firsts GROUP BY segment
    """,
    tags=("analytics", "funnel", "extension"),
)
def funnel_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X182: the X23 ordered funnel SPLIT BY CUSTOMER SEGMENT — the
    dimensional-enrichment form every funnel dashboard actually ships
    (events join the customer dim on user_id = c_custkey, which this
    testdata guarantees): per market segment, users completing each
    ordered prefix and the end-to-end conversion rate. Same in-order
    gating expressions as X23, so the segmented and global funnels
    can never disagree on step semantics.

    Plan: the customer dim BROADCASTS onto the event stream (the
    canonical star-schema enrich); one (user, segment) partial agg
    then a |segments|-row reduction."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )

    def first_ts(t: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("user_id", "segment")
        .agg(
            first_ts("view").alias("t_view"),
            first_ts("click").alias("t_click"),
            first_ts("purchase").alias("t_purchase"),
        )
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    as_int = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return firsts.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        as_int(viewed).alias("step_view"),
        as_int(clicked).alias("step_click"),
        as_int(purchased).alias("step_purchase"),
        exact_round(
            F.sum(F.when(purchased, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("conversion_rate"),
    )


# X184 — rolling correlation of two series ----------------------------------
#: correlated pair and trailing window length in bars.
CORR_TYPE_A = "click"
CORR_TYPE_B = "purchase"
CORR_BARS = 10


@query(
    "rolling_correlation_bars",
    oracle=f"""
    WITH m AS (
      SELECT event_type, value, ts, event_id,
             date_trunc('minute', ts) AS minute
      FROM events WHERE event_type IN ('{CORR_TYPE_A}', '{CORR_TYPE_B}')
    ),
    o AS (
      SELECT event_type, minute, value,
             row_number() OVER (PARTITION BY event_type, minute
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM m
    ),
    bars AS (
      SELECT event_type,
             strftime(minute, '%Y-%m-%d %H:%M') AS minute,
             CAST(ANY_VALUE(CASE WHEN rn_close = 1 THEN value END)
                  AS DECIMAL(18,2)) AS close
      FROM o GROUP BY event_type, strftime(minute, '%Y-%m-%d %H:%M')
    ),
    pair AS (
      SELECT a.minute, a.close AS x, b.close AS y
      FROM bars a JOIN bars b ON a.minute = b.minute
      WHERE a.event_type = '{CORR_TYPE_A}'
        AND b.event_type = '{CORR_TYPE_B}'
    ),
    w AS (
      SELECT minute, x, y,
             CAST(COUNT(*) OVER win AS BIGINT) AS n,
             CAST(SUM(x) OVER win AS DECIMAL(38,2)) AS sx,
             CAST(SUM(y) OVER win AS DECIMAL(38,2)) AS sy,
             CAST(SUM(x * y) OVER win AS DECIMAL(38,4)) AS sxy,
             CAST(SUM(x * x) OVER win AS DECIMAL(38,4)) AS sxx,
             CAST(SUM(y * y) OVER win AS DECIMAL(38,4)) AS syy
      FROM pair
      WINDOW win AS (ORDER BY minute
                     ROWS BETWEEN {CORR_BARS - 1} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT minute, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y, n,
           CASE WHEN n >= 3
                 AND (n * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (n * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN CAST(ROUND(CAST(
                  (n * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((n * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (n * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                  AS DECIMAL(28,10)), 4) AS DOUBLE)
                ELSE NULL END AS roll_corr
    FROM w
    """,
    tags=("analytics", "timeseries", "extension"),
)
def rolling_correlation_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X184: ROLLING CORRELATION between the '{CORR_TYPE_A}' and
    '{CORR_TYPE_B}' per-minute close series over a trailing
    {CORR_BARS}-bar window — the co-movement monitor (pairs trading,
    metric-coupling alerts) that completes the windowed-statistics
    family (X136 EWMA, X165 median). NULL where the window is too
    short (< 3) or either side is degenerate (zero variance) — a
    correlation of 0/0 is undefined, not zero.

    Float discipline: closes are exact 2-dp decimals; ALL five
    windowed sums are exact decimal arithmetic (windowed double sums
    would be accumulation-order-dependent across engines), so only
    the final Pearson ratio touches doubles — one shared IEEE
    ordering, sqrt correctly-rounded, 4-dp output.

    Plan: event->bar reduction first; the pair join and the rolling
    window operate on BAR cardinality — time-range-bounded, one row
    per minute (window allowlisted on exactly that ground). At 100 TB
    the bars frame is tiny however large the event volume."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(CORR_TYPE_A, CORR_TYPE_B)
    )
    minute = F.date_trunc("minute", F.col("ts"))
    m = ev.select(
        "event_type", "value", "ts", "event_id", minute.alias("minute")
    )
    wc = Window.partitionBy("event_type", "minute").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    bars = (
        m.select(
            "event_type",
            "minute",
            "value",
            F.row_number().over(wc).alias("rn_close"),
        )
        .groupBy(
            "event_type",
            F.date_format("minute", "yyyy-MM-dd HH:mm").alias("minute"),
        )
        .agg(
            F.max(F.when(F.col("rn_close") == 1, F.col("value")))
            .cast("decimal(18,2)")
            .alias("close")
        )
    )
    a = bars.filter(F.col("event_type") == CORR_TYPE_A).select(
        "minute", F.col("close").alias("x")
    )
    b = bars.filter(F.col("event_type") == CORR_TYPE_B).select(
        "minute", F.col("close").alias("y")
    )
    pair = a.join(b, "minute")
    win = Window.orderBy("minute").rowsBetween(-(CORR_BARS - 1), 0)
    w = pair.select(
        "minute",
        "x",
        "y",
        F.count(F.lit(1)).over(win).cast("bigint").alias("n"),
        F.sum("x").over(win).cast("decimal(38,2)").alias("sx"),
        F.sum("y").over(win).cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(win)
        .cast("decimal(38,4)")
        .alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(win)
        .cast("decimal(38,4)")
        .alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win)
        .cast("decimal(38,4)")
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    vy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    return w.select(
        "minute",
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
        "n",
        F.when(
            (F.col("n") >= 3) & (vx > 0) & (vy > 0),
            exact_round(num / F.sqrt(vx * vy), 4),
        ).alias("roll_corr"),
    )


# X185 — churn-model feature table ------------------------------------------
@query(
    "churn_feature_table",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS mx FROM events),
    f AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(datediff('day', CAST(MAX(ts) AS DATE),
                           CAST(a.mx AS DATE)) AS BIGINT)
               AS days_since_last,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_view,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_click,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchase,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_error,
             CAST(ROUND(CAST(
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
               AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_value
      FROM events CROSS JOIN anchor a
      GROUP BY user_id, a.mx
    )
    SELECT user_id, n_events, days_since_last,
           n_view, n_click, n_purchase, n_error, avg_value
    FROM f
    """,
    tags=("analytics", "sequence", "extension"),
)
def churn_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X185: the CHURN-MODEL feature table — one row per user with
    recency (days since last activity vs the corpus high-water mark),
    frequency (total + per-type event counts — the pivot a model
    one-hot consumes), and monetary signal (exact-decimal average
    value): the classic RFM-style feature materialization a batch
    scoring job joins against the label table. X164 builds
    event-level sequence features; this is its user-level sibling.

    Plan: ONE user-keyed partial agg computes every feature (the
    per-type counts are conditional sums in the same aggregate, not
    joins); the 1-row anchor broadcasts. One scan at any scale."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("mx"))

    def cnt(t: str) -> F.Column:
        return (
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{t}")
        )

    return (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "mx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.datediff(
                F.max("mx").cast("date"), F.max("ts").cast("date")
            )
            .cast("bigint")
            .alias("days_since_last"),
            cnt("view"),
            cnt("click"),
            cnt("purchase"),
            cnt("error"),
            exact_round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("avg_value"),
        )
        .select(
            "user_id",
            "n_events",
            "days_since_last",
            "n_view",
            "n_click",
            "n_purchase",
            "n_error",
            "avg_value",
        )
    )


# X207 — event arrival-order inversion report --------------------------------
#: shared with the streaming twin (streaming_inversion_monitor) — the
#: two execution modes must satisfy the identical oracle.
INVERSION_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY event_id) AS prev_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN us < prev_us THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inversions,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN us < prev_us THEN 1 ELSE 0 END) AS DOUBLE)
             / GREATEST(COUNT(*) - 1, 1)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS inversion_rate,
           CAST(COALESCE(MAX(CASE WHEN us < prev_us
                                  THEN prev_us - us END), 0) AS BIGINT)
             AS max_backstep_us
    FROM seq
    GROUP BY user_id
    """


@query(
    "event_order_inversion_report",
    oracle=INVERSION_ORACLE,
    tags=("events", "streaming", "audit", "extension"),
)
def event_order_inversion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X207: ARRIVAL-ORDER INVERSION report — per user, how often does
    event time run BACKWARDS in arrival order (event_id is the ingest
    sequence), and by how much at worst? This is the measurement that
    SIZES A WATERMARK: streaming_sessionize/streaming_minute_bars pick
    their lateness allowance from exactly this out-of-orderness
    distribution, and a rate spike is the canonical symptom of a
    misbehaving producer clock.

    Exact arithmetic: backsteps are integer microsecond deltas
    (epoch_us), counts are integers; the single ratio is one rounded
    IEEE division.

    Plan: ONE per-user window (partitioned — bounded state per user,
    the streaming-safe shape) feeding one user-keyed partial agg; no
    global window, no second scan."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_us("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = ev.withColumn("prev_us", F.lag("us").over(w))
    inv = F.when(F.col("us") < F.col("prev_us"), 1).otherwise(0)
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(inv).cast("bigint").alias("n_inversions"),
        exact_round(
            F.sum(inv).cast("double")
            / F.greatest(F.count(F.lit(1)) - 1, F.lit(1)).cast(
                "double"
            ),
            6,
        ).alias("inversion_rate"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("us") < F.col("prev_us"),
                    F.col("prev_us") - F.col("us"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("max_backstep_us"),
    )


# X224 — sample-ratio-mismatch check ------------------------------------------
#: chi-squared(1 df) critical value at alpha = 0.05.
SRM_CHI2_CRIT = 3.841


@query(
    "ab_srm_check",
    oracle=f"""
    WITH arms AS (
      SELECT CASE WHEN CAST(('0x' || substr(
               md5('ab-' || CAST(user_id AS VARCHAR)), 1, 1))
               AS BIGINT) < 8
             THEN 'A' ELSE 'B' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM arms
    )
    SELECT n_a, n_b,
      CAST(ROUND(CAST(
        CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
        / CAST(n_a + n_b AS DOUBLE)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS chi2_srm,
      (CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
       / CAST(n_a + n_b AS DOUBLE)) > {SRM_CHI2_CRIT} AS srm_detected
    FROM s
    """,
    tags=("events", "statistics", "audit", "extension"),
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X224: SAMPLE-RATIO-MISMATCH check for the registered A/B
    experiment — a χ²(1) test that the deterministic arm hash
    (md5('ab-'||user), X163's exact rule, embedded verbatim) actually
    delivered 50/50. SRM is the canonical invalidator of an
    experiment readout: if this flags, ab_experiment_report's lift is
    meaningless regardless of its t-statistic — which is why the
    check ships as the readout's gate, not a footnote.

    Exact arithmetic: arm counts are exact BIGINTs; χ² = (n_a−n_b)²/n
    is integers into one rounded IEEE division; the detection flag
    compares the UNROUNDED statistic on both engines.

    Plan: one user-distinct reduction (the experiment's unit of
    randomization) + a two-cell conditional count to a single row."""
    ev = load_table(spark, sf_dir, "events").select("user_id").distinct()
    arm = _ab_arm()
    s = ev.select(arm.alias("arm")).agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    diff2 = (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    chi2 = diff2.cast("double") / (F.col("n_a") + F.col("n_b")).cast(
        "double"
    )
    return s.select(
        "n_a",
        "n_b",
        exact_round(chi2, 6).alias("chi2_srm"),
        (chi2 > SRM_CHI2_CRIT).alias("srm_detected"),
    )


# X231 — rolling active users (DAU / WAU) ---------------------------------------
#: trailing window width in days for the WAU metric.
WAU_DAYS = 7


@query(
    "rolling_active_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d0 FROM events
    ),
    bounds AS (
      SELECT MIN(d0) AS dmin, MAX(d0) AS dmax FROM ud
    ),
    contrib AS (
      SELECT ud.user_id, ud.d0 + CAST(u.i AS INTEGER) AS d, u.i AS off
      FROM ud, UNNEST(range(0, {WAU_DAYS})) AS u(i), bounds b
      WHERE ud.d0 + CAST(u.i AS INTEGER) <= b.dmax
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT CASE WHEN off = 0 THEN user_id END)
                AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau_7d
    FROM contrib
    GROUP BY 1
    """,
    tags=("events", "analytics", "timeseries", "extension"),
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X231: DAU / trailing-{WAU_DAYS}-day WAU per day — the canonical
    product-health series. The sliding-DISTINCT problem (a naive
    trailing window cannot deduplicate users across its frame) solved
    the scale-safe way: each (user, active-day) row fans out to the
    {WAU_DAYS} window days it supports (a bounded 7× explode), and
    one day-keyed COUNT(DISTINCT) exchange does the dedup — no
    range-join, no per-day rescan, no window state proportional to
    users.

    DAU rides the same exchange as a conditional distinct (offset 0),
    so both series come from ONE scan + ONE shuffle. Days past the
    corpus max are clipped (no phantom ramp-down rows beyond data).

    Plan: distinct (user, day) reduction → narrow 7-row explode →
    one day-keyed distinct agg; the bounds frame is a 1-row
    broadcast."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d0")
    )
    ud = ev.distinct()
    bounds = ud.agg(F.max("d0").alias("dmax"))
    contrib = (
        ud.select(
            "user_id",
            "d0",
            F.explode(
                F.sequence(F.lit(0), F.lit(WAU_DAYS - 1))
            ).alias("off"),
        )
        .select(
            "user_id",
            F.expr("date_add(d0, off)").alias("d"),
            "off",
        )
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("d") <= F.col("dmax"))
    )
    return contrib.groupBy(
        F.date_format("d", "yyyy-MM-dd").alias("day")
    ).agg(
        F.countDistinct(
            F.when(F.col("off") == 0, F.col("user_id"))
        )
        .cast("bigint")
        .alias("dau"),
        F.countDistinct("user_id").cast("bigint").alias("wau_7d"),
    )


# X233 — event burstiness (Fano factor) report ----------------------------------
#: overdispersion flag threshold: Poisson arrivals have Fano ≈ 1.
FANO_BURSTY = 1.5


@query(
    "event_burstiness_report",
    oracle=f"""
    WITH b AS (
      SELECT MIN(date_trunc('hour', ts)) AS hmin,
             MAX(date_trunc('hour', ts)) AS hmax
      FROM events
    ),
    spine AS (
      SELECT t.event_type, u.h
      FROM (SELECT DISTINCT event_type FROM events) t,
           b, UNNEST(generate_series(b.hmin, b.hmax,
                                     INTERVAL 1 HOUR)) AS u(h)
    ),
    cnt AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.event_type, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN cnt c
        ON c.event_type = s.event_type AND c.h = s.h
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM grid GROUP BY event_type
    )
    SELECT event_type, n_hours,
      CAST(ROUND(CAST(CAST(s1 AS DOUBLE) / n_hours
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS mean_per_hour,
      CAST(ROUND(CAST(
        (CAST(s2 AS DOUBLE) / n_hours
         - (CAST(s1 AS DOUBLE) / n_hours)
           * (CAST(s1 AS DOUBLE) / n_hours))
        / (CAST(s1 AS DOUBLE) / n_hours)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS fano,
      ((CAST(s2 AS DOUBLE) / n_hours
        - (CAST(s1 AS DOUBLE) / n_hours)
          * (CAST(s1 AS DOUBLE) / n_hours))
       / (CAST(s1 AS DOUBLE) / n_hours)) > {FANO_BURSTY} AS is_bursty
    FROM m
    """,
    tags=("events", "statistics", "audit", "extension"),
)
def event_burstiness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X233: BURSTINESS (Fano factor) per event type — variance-to-mean
    of hourly arrival counts over the FULL hour spine (zeros included:
    skipping empty hours silently deflates the variance and hides the
    burst). Fano ≈ 1 is Poisson; > {FANO_BURSTY} flags overdispersed
    types — the capacity-planning and bot-detection signal that
    anomaly_zscore (pointwise) and hour_of_week_seasonality (cyclic
    mean) don't capture: bursts are about VARIANCE, not level.

    Exact arithmetic: hourly counts and their squares are exact
    BIGINTs over the spine-completed grid; mean/Fano are one shared
    IEEE expression rounded 6 dp; the flag compares the unrounded
    statistic both engines.

    Plan: one (type, hour) partial-agg exchange; the spine is
    |types|·|hours| rows from a 1-row bounds broadcast (bounded by
    calendar, not data); zeros via one left join; per-type reduction
    to |types| rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    b = ev.agg(
        F.min("h").alias("hmin"), F.max("h").alias("hmax")
    )
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(b))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("hmin"),
                    F.col("hmax"),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("h"),
        )
    )
    cnt = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = (
        spine.join(cnt, ["event_type", "h"], "left")
        .select(
            "event_type", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    m = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_hours")
    fano = (
        F.col("s2").cast("double") / F.col("n_hours") - mean * mean
    ) / mean
    return m.select(
        "event_type",
        "n_hours",
        exact_round(mean, 6).alias("mean_per_hour"),
        exact_round(fano, 6).alias("fano"),
        (fano > FANO_BURSTY).alias("is_bursty"),
    )


# X234 — autocorrelation report --------------------------------------------------
#: ACF lags (minutes) reported per event type.
ACF_MAX_LAG = 5


@query(
    "autocorrelation_report",
    oracle=f"""
    WITH bars AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('minute', ts)) / 60000000
                  AS BIGINT) AS mk,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS x
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu
      FROM bars GROUP BY event_type
    ),
    dev AS (
      SELECT b.event_type, b.mk,
             CAST(ROUND(CAST(CAST(b.x AS DOUBLE) - s.mu
                  AS DECIMAL(18,10)), 10) AS DECIMAL(18,10)) AS d
      FROM bars b JOIN st s ON s.event_type = b.event_type
    ),
    den AS (
      SELECT event_type,
             CAST(SUM(CAST(ROUND(CAST(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
                  AS DECIMAL(18,10)), 10) AS DECIMAL(18,10)))
                  AS DECIMAL(38,10)) AS ss
      FROM dev GROUP BY event_type
    ),
    lags AS (SELECT CAST(u.k AS BIGINT) AS lag
             FROM UNNEST(range(1, {ACF_MAX_LAG} + 1)) AS u(k)),
    pairs AS (
      SELECT a.event_type, l.lag,
             CAST(ROUND(CAST(CAST(a.d AS DOUBLE) * CAST(b.d AS DOUBLE)
                  AS DECIMAL(18,10)), 10) AS DECIMAL(18,10)) AS p
      FROM dev a CROSS JOIN lags l
      JOIN dev b ON b.event_type = a.event_type
                AND b.mk = a.mk - l.lag
    )
    SELECT p.event_type, p.lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(ROUND(CAST(
             CAST(CAST(SUM(p.p) AS DECIMAL(38,10)) AS DOUBLE)
             / CAST(dn.ss AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS acf
    FROM pairs p JOIN den dn ON dn.event_type = p.event_type
    GROUP BY p.event_type, p.lag, dn.ss
    """,
    tags=("events", "timeseries", "statistics", "extension"),
)
def autocorrelation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X234: AUTOCORRELATION function (lags 1-{ACF_MAX_LAG} minutes)
    of per-minute value bars per event type — the memory/periodicity
    diagnostic that tells a forecaster whether ewma_smoothing's decay
    or hour_of_week_seasonality's cycle is the right model, and the
    standard residual-whiteness check after seasonal_residual_anomaly.
    Pairs skip gap minutes (observed-bars estimator); denominator is
    the full Σ(x−x̄)² so gaps deflate rather than inflate the ACF.

    Float discipline: bars are exact decimal sums; deviations,
    squared deviations and lag products each round to 10-dp DECIMAL
    before order-free sums; the final ratio is one rounded IEEE
    division.

    Plan: one (type, minute) partial agg; per-type stats broadcast
    back; the lag pairing is an EQUI-join on (type, mk − lag) after a
    bounded {ACF_MAX_LAG}× lag fan-out — no window over the series,
    no self-cartesian."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    )
    bars = ev.groupBy(
        "event_type",
        (epoch_us(F.date_trunc("minute", F.col("ts"))) / 60000000)
        .cast("bigint")
        .alias("mk"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("x")
    )
    st = bars.groupBy("event_type").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu")
    )

    def r10(c):
        return F.round(c.cast("decimal(18,10)"), 10).cast(
            "decimal(18,10)"
        )

    dev = bars.join(F.broadcast(st), "event_type").select(
        "event_type",
        "mk",
        r10(F.col("x").cast("double") - F.col("mu")).alias("d"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(r10(F.col("d").cast("double") * F.col("d").cast("double")))
        .cast("decimal(38,10)")
        .alias("ss")
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    a = dev.crossJoin(F.broadcast(lags)).select(
        "event_type",
        "lag",
        (F.col("mk") - F.col("lag")).alias("mk_prev"),
        F.col("d").alias("da"),
    )
    b = dev.select(
        F.col("event_type").alias("b_type"),
        F.col("mk").alias("b_mk"),
        F.col("d").alias("db"),
    )
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("b_type"))
        & (F.col("mk_prev") == F.col("b_mk")),
    ).select(
        "event_type",
        "lag",
        r10(F.col("da").cast("double") * F.col("db").cast("double")).alias(
            "p"
        ),
    )
    return (
        pairs.groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("p").cast("decimal(38,10)").alias("sp"),
        )
        .join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            "lag",
            "n_pairs",
            exact_round(
                F.col("sp").cast("double") / F.col("ss").cast("double"), 6
            ).alias("acf"),
        )
    )


# X235 — CUSUM changepoint report -------------------------------------------------
#: CUSUM slack (in σ units) and alarm threshold (in σ units).
CUSUM_SLACK_SIGMA = 0.5
CUSUM_ALARM_SIGMA = 5.0


#: shared with the streaming twin (streaming_cusum_monitor) — both
#: execution modes must satisfy the identical oracle.
CUSUM_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS x
      FROM orders GROUP BY 1
    ),
    st AS (
      SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
             sqrt(GREATEST(
               CAST(SUM(CAST(ROUND(CAST(CAST(x AS DOUBLE)
                    * CAST(x AS DOUBLE) AS DECIMAL(28,6)), 6)
                    AS DECIMAL(28,6))) AS DECIMAL(38,6)) / COUNT(*)
               - (CAST(SUM(x) AS DOUBLE) / COUNT(*))
                 * (CAST(SUM(x) AS DOUBLE) / COUNT(*)), 0.0)) AS sigma
      FROM daily
    ),
    dev AS (
      SELECT d.d, d.x,
             CAST(ROUND(CAST(CAST(d.x AS DOUBLE)
                  - (s.mu + {CUSUM_SLACK_SIGMA} * s.sigma)
                  AS DECIMAL(18,6)), 6) AS DECIMAL(18,6)) AS dv,
             s.sigma
      FROM daily d CROSS JOIN st s
    ),
    p1 AS (
      SELECT d, x, sigma,
             CAST(SUM(dv) OVER (ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DECIMAL(38,6)) AS pt
      FROM dev
    ),
    pfx AS (
      SELECT d, x, sigma, pt,
             CAST(LEAST(CAST(0 AS DECIMAL(38,6)),
               CAST(MIN(pt) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS minp
      FROM p1
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(x AS DOUBLE) AS revenue,
           CAST(CAST(pt - minp AS DECIMAL(38,6)) AS DOUBLE) AS s_stat,
           CAST(CAST(pt - minp AS DECIMAL(38,6)) AS DOUBLE)
             > {CUSUM_ALARM_SIGMA} * sigma AS is_alarm
    FROM pfx
    """


@query(
    "changepoint_cusum_report",
    oracle=CUSUM_ORACLE,
    tags=("analytics", "timeseries", "statistics", "extension"),
)
def changepoint_cusum_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X235: one-sided CUSUM changepoint detector over daily revenue —
    S_t = P_t − min(0, min_{{j≤t}} P_j) with P the running sum of
    (x − μ − {CUSUM_SLACK_SIGMA}σ); S_t > {CUSUM_ALARM_SIGMA}σ alarms.
    The LEVEL-SHIFT detector the anomaly family lacked: z-scores and
    seasonal residuals flag single wild days; CUSUM accumulates many
    small same-direction drifts into one alarm (the classic
    quality-control chart).

    Float discipline: daily revenues are exact decimal; deviations
    round to 6-dp decimal, so the running sum, running min and S are
    EXACT DECIMAL arithmetic end to end (prefix quantities have no
    accumulation-order freedom at all); only the σ-threshold compare
    touches doubles — identical expression both engines.

    Plan: one day-keyed partial agg (calendar-bounded: ~2.4k rows for
    this dataset's 6.5-year span at ANY fact scale), one 1-row stats
    broadcast, then running sum + running min in a single ordered
    window over that bounded day aggregate (allowlisted on exactly
    that ground — the window input is days, never fact rows)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("x")
    )
    mu = F.sum("x").cast("double") / F.count(F.lit(1))
    st = daily.agg(
        mu.alias("mu"),
        F.sqrt(
            F.greatest(
                F.sum(
                    F.round(
                        (
                            F.col("x").cast("double")
                            * F.col("x").cast("double")
                        ).cast("decimal(28,6)"),
                        6,
                    ).cast("decimal(28,6)")
                )
                .cast("decimal(38,6)")
                .cast("double")
                / F.count(F.lit(1))
                - mu * mu,
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    dev = daily.crossJoin(F.broadcast(st)).select(
        "d",
        "x",
        "sigma",
        F.round(
            (
                F.col("x").cast("double")
                - (
                    F.col("mu")
                    + F.lit(CUSUM_SLACK_SIGMA) * F.col("sigma")
                )
            ).cast("decimal(18,6)"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("dv"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pfx = dev.select(
        "d",
        "x",
        "sigma",
        F.sum("dv").over(w).cast("decimal(38,6)").alias("pt"),
    ).select(
        "d",
        "x",
        "sigma",
        "pt",
        F.least(
            F.lit(0).cast("decimal(38,6)"),
            F.min("pt").over(w).cast("decimal(38,6)"),
        ).alias("minp"),
    )
    s_stat = (F.col("pt") - F.col("minp")).cast("decimal(38,6)")
    return pfx.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("double").alias("revenue"),
        s_stat.cast("double").alias("s_stat"),
        (
            s_stat.cast("double")
            > F.lit(CUSUM_ALARM_SIGMA) * F.col("sigma")
        ).alias("is_alarm"),
    )


# X245 — survival / censoring hazard curve (Nelson-Aalen) --------------------
@query(
    "survival_hazard_curve",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS first_day,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS purch_day
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT MAX(CAST(ts AS DATE)) AS h FROM events),
    durs AS (
      SELECT CASE WHEN purch_day IS NOT NULL
                  THEN date_diff('day', first_day, purch_day)
                  ELSE date_diff('day', first_day, h) END AS dur,
             CASE WHEN purch_day IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user CROSS JOIN horizon
    ),
    daytbl AS (
      SELECT CAST(dur AS BIGINT) AS t_days,
             CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM durs GROUP BY dur
    ),
    risk AS (
      SELECT t_days, d,
             (SELECT COUNT(*) FROM durs) -
               COALESCE(SUM(m) OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM daytbl
    ),
    haz AS (
      SELECT t_days, d, CAST(n_risk AS BIGINT) AS n_risk,
             ROUND(CAST(CAST(d AS DOUBLE) / n_risk
                        AS DECIMAL(28,12)), 10) AS term
      FROM risk
    )
    SELECT t_days, n_risk, d AS n_events,
           CAST(ROUND(CAST(CAST(d AS DOUBLE) / n_risk AS DECIMAL(28,10)),
                      6) AS DOUBLE) AS hazard,
           CAST(ROUND(CAST(SUM(term) OVER (ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(28,10)), 6) AS DOUBLE) AS cum_hazard
    FROM haz
    WHERE d > 0
    """,
    tags=("events", "statistics", "extension"),
)
def survival_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X245: SURVIVAL analysis with right-censoring — time from each
    user's first event to their first PURCHASE, users who never
    purchase censored at the corpus horizon; the Nelson-Aalen hazard
    table (per event-day: risk set, events, hazard d/n, cumulative
    hazard Σd/n). The censoring-aware family the funnel/latency
    queries can't express: funnel_latency_quantiles silently DROPS
    non-converters, biasing time-to-convert down — here they stay in
    the risk set until their censoring day, which is the whole point
    of the estimator. (Survival S(t) ≈ exp(−H(t)) is left to the
    consumer: Nelson-Aalen is additive, so the whole curve stays in
    exact decimal; a Kaplan-Meier product would force cross-engine
    transcendental parity.)

    Float discipline: ONE IEEE division per event day (d/n on exact
    ints), hazard rounded 6 dp through decimal; the cumulative sums
    10-dp-decimal TERMS — an exact-decimal prefix with zero
    accumulation-order freedom (the changepoint_cusum discipline).

    Scale shape: per-user reduction is one partial agg keyed on
    user_id; everything after operates on the DAY table (calendar-
    bounded — the allowlisted-window ground changepoint_cusum_report
    established, runtime row-bound asserted in the sweep); the risk
    set comes from one exclusive prefix over that bounded table, not a
    per-user rescan."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(day).alias("first_day"),
        F.min(
            F.when(F.col("event_type") == "purchase", day)
        ).alias("purch_day"),
    )
    horizon = ev.agg(F.max(day).alias("h"))
    durs = per_user.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("purch_day").isNotNull(),
            F.datediff("purch_day", "first_day"),
        )
        .otherwise(F.datediff("h", "first_day"))
        .cast("bigint")
        .alias("dur"),
        F.when(F.col("purch_day").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ev"),
    )
    daytbl = durs.groupBy(F.col("dur").alias("t_days")).agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    total = durs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    w = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = daytbl.crossJoin(F.broadcast(total)).select(
        "t_days",
        "d",
        (
            F.col("n_total") - F.coalesce(F.sum("m").over(w), F.lit(0))
        ).alias("n_risk"),
    )
    term = F.round(
        (F.col("d").cast("double") / F.col("n_risk")).cast(
            "decimal(28,12)"
        ),
        10,
    )
    haz = risk.select("t_days", "d", "n_risk", term.alias("term"))
    wc = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        haz.select(
            "t_days",
            "n_risk",
            "d",
            exact_round(F.col("d").cast("double") / F.col("n_risk"), 6).alias("hazard"),
            exact_round(F.sum("term").over(wc), 6).alias("cum_hazard"),
        )
        .filter(F.col("d") > 0)
        .select(
            "t_days", "n_risk", F.col("d").alias("n_events"), "hazard", "cum_hazard"
        )
    )


# X257 — interval-union coverage sweep --------------------------------------
#: base interval length added to every event (microseconds) — keeps
#: intervals non-degenerate even for zero-valued events.
IUC_BASE_US = 60_000_000

#: The per-user interval islands (``iv``, ``sweep``, ``isl`` CTEs, no
#: leading ``WITH``) — shared with the streaming twin
#: (streaming_interval_union), which emits the islands themselves.
IUC_ISLANDS_CTE = f"""iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + {IUC_BASE_US}
               + CAST(floor(GREATEST(value, 0.0) * 1000000.0) AS BIGINT)
               AS e
      FROM events
    ),
    sweep AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_e
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e,
                     CASE WHEN prev_e IS NULL OR s > prev_e
                          THEN 0 ELSE 1 END
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM sweep
    )"""


@query(
    "interval_union_coverage",
    oracle=f"""
    WITH {IUC_ISLANDS_CTE},
    per_island AS (
      SELECT user_id, island, MIN(s) AS i_start, MAX(e) AS i_end,
             COUNT(*) AS n_ev
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us,
           CAST(ROUND(CAST(
             CAST(SUM(i_end - i_start) AS DOUBLE)
             / CAST(MAX(i_end) - MIN(i_start) AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS coverage_ratio
    FROM per_island
    GROUP BY user_id
    """,
    tags=("analytics", "sequence", "extension"),
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X257: INTERVAL-UNION coverage — the distributed sweep-line:
    each event opens an interval [ts, ts + 60s + value·1s]; per user,
    overlapping intervals merge into maximal islands (running MAX of
    interval end decides whether the next interval connects or starts
    a new island) and the report gives total covered time and its
    share of the user's active span. The variable-length complement
    of `activity_islands` (X60: integer consecutive-day runs): this is
    the session-coverage / uptime-union / billing-merge shape, where
    interval ends are data, not a grid.

    Exactness: all epoch-microsecond integer arithmetic
    (`floor` before the BIGINT cast — Spark truncates double casts,
    DuckDB rounds, floor removes the divergence); ratio emitted
    6-dp-decimal-rounded.

    Scale shape: one per-user ordered window for the running MAX
    (carry = ONE value per row, bounded state), one per-user prefix
    sum for island ids, two partial-agg shuffles — all partitioned by
    user_id, never a global order. The tie-break column in the
    prefix-sum ORDER BY pins rows that share (s, e) to a
    deterministic island id on both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("s"),
        (
            epoch_us("ts")
            + F.lit(IUC_BASE_US)
            + F.floor(F.greatest(F.col("value"), F.lit(0.0)) * 1000000.0).cast(
                "bigint"
            )
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    sweep = ev.withColumn(
        "prev_e",
        F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    is_new = F.when(
        F.col("prev_e").isNull() | (F.col("s") > F.col("prev_e")), 1
    ).otherwise(0)
    wi = Window.partitionBy("user_id").orderBy(
        "s", "e", F.when(is_new == 1, 0).otherwise(1)
    )
    isl = sweep.withColumn(
        "island",
        F.sum(is_new).over(
            wi.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_island = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"),
        F.max("e").alias("i_end"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    return per_island.groupBy("user_id").agg(
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start"))
        .cast("bigint")
        .alias("covered_us"),
        exact_round(
            F.sum(F.col("i_end") - F.col("i_start")).cast("double")
            / (F.max("i_end") - F.min("i_start")).cast("double"),
            6,
        ).alias("coverage_ratio"),
    )


# X263 — clamped running balance (reflected walk) ----------------------------
#: per-event balance delta: floor(value) - CBW_DRAIN (mixes signs).
CBW_DRAIN = 2


@query(
    "clamped_balance_walk",
    oracle=f"""
    WITH d AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value) AS BIGINT) - {CBW_DRAIN} AS delta
      FROM events
    ),
    s1 AS (
      SELECT user_id, event_id, ts, delta,
             SUM(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS run
      FROM d
    ),
    s2 AS (
      SELECT user_id, delta, run,
             MIN(run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS run_min,
             LEAST(COALESCE(
               MIN(run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0), 0) AS prev_floor
      FROM s1
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(delta) - LEAST(MIN(run), 0) AS BIGINT)
             AS final_balance,
           CAST(MAX(run - LEAST(run_min, 0)) AS BIGINT) AS peak_balance,
           CAST(SUM(CASE WHEN run < prev_floor THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stockouts
    FROM s2 GROUP BY user_id
    """,
    tags=("analytics", "sequence", "extension"),
)
def clamped_balance_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X263: CLAMPED running balance — the reflected random walk
    bal_i = max(0, bal_{{i-1}} + delta_i) per user (inventory with
    stockouts, prepaid credit with a zero floor, token-bucket rate
    limiting), plus how often the clamp fired and the walk's peak. The
    NONLINEAR recursion no window frame expresses directly — the
    classic "can a distributed engine do sequential state?" op.

    The engine answer: the clamp has the closed form
    bal_i = S_i − min(0, min_{{k≤i}} S_k) (S = plain prefix sum), so
    the whole walk becomes two per-user cumulative windows and one
    aggregate — Lindley's recursion / the reflection principle for
    queues, turned into shuffle-free-after-one-partition plan. A
    stockout at i is exactly S_i dropping below the previous running
    floor. tests/test_new_ops_properties.py proves the closed form ==
    the sequential fold on real per-user streams.

    Exactness: pure BIGINT arithmetic end to end (floor before the
    cast). Scale shape: two per-user ordered windows (bounded carry),
    one partial-agg groupBy; at 100 TB this is one user-keyed exchange
    + linear scans — no state store, no iteration."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        (F.floor("value").cast("bigint") - CBW_DRAIN).alias("delta"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cur = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    s1 = ev.withColumn("run", F.sum("delta").over(cur))
    s2 = s1.select(
        "user_id",
        "delta",
        "run",
        F.min("run").over(cur).alias("run_min"),
        F.least(
            F.coalesce(F.min("run").over(prev), F.lit(0)), F.lit(0)
        ).alias("prev_floor"),
    )
    return s2.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.sum("delta") - F.least(F.min("run"), F.lit(0)))
        .cast("bigint")
        .alias("final_balance"),
        F.max(F.col("run") - F.least(F.col("run_min"), F.lit(0)))
        .cast("bigint")
        .alias("peak_balance"),
        F.sum(
            F.when(F.col("run") < F.col("prev_floor"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_stockouts"),
    )
