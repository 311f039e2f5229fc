"""Temporal join operators — as-of and range joins (extension; the
build brief names them as operators Spark lacks natively).

Both are implemented as compositions of existing DataFrame ops using
the standard scalable shapes — no theta-join explosion, no UDFs:

- **as-of** (X12): the union-merge pattern. Tag both sides, union,
  one per-key ordered window forward-fills the right side's columns,
  keep left rows. One shuffle on the join key; per-key state is
  bounded. (A sort-merge theta join would re-scan right rows per left
  row; this is O(n log n) per key.)
- **range** (X13): the bucketed-bin pattern. Quantize time into bins
  the width of the query interval; each probe row can only match bins
  {b-1, b}, so an explode(2) + equi-join on (key, bin) + exact-filter
  replaces the unbounded inequality join. Shuffle carries (key, bin) —
  co-partitioned, skew-safe under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.parity import exact_round
from ..registry import query

_BIN_DAYS = 30
_BIN_SECS = _BIN_DAYS * 86400


def _shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem + its order's custkey: (custkey, l_orderkey,
    l_linenumber, ship_ts)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("custkey"),
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.col("l_shipdate").alias("ship_ts"),
    )


# X12 ---------------------------------------------------------------------
@query(
    "asof_join_shipments",
    oracle="""
    WITH l AS (
      SELECT o1.o_custkey AS custkey, li.l_orderkey, li.l_linenumber,
             li.l_shipdate AS ship_ts,
             row_number() OVER () AS rid  -- (l_orderkey, l_linenumber)
                                          -- is NOT unique in the data;
                                          -- keep one output per input ROW
      FROM lineitem li JOIN orders o1 ON li.l_orderkey = o1.o_orderkey
    ),
    cand AS (
      SELECT l.l_orderkey, l.l_linenumber, l.custkey,
             strftime(l.ship_ts, '%Y-%m-%d') AS ship_date,
             o2.o_orderkey AS asof_orderkey,
             o2.o_totalprice AS asof_totalprice,
             row_number() OVER (
               PARTITION BY l.rid
               ORDER BY o2.o_orderdate DESC, o2.o_orderkey DESC) AS rn
      FROM l JOIN orders o2
        ON o2.o_custkey = l.custkey AND o2.o_orderdate <= l.ship_ts
    )
    SELECT l_orderkey, l_linenumber, custkey, ship_date,
           asof_orderkey, asof_totalprice
    FROM cand WHERE rn = 1
    """,
    tags=("temporal", "join", "extension"),
)
def asof_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: for each shipment, the customer's most recent order with
    o_orderdate <= l_shipdate (ties → highest orderkey) — an as-of
    join via union-merge: one window pass instead of a per-row
    backward scan. The DuckDB oracle states the same semantics as a
    correlated top-1, so the scalable plan is checked against the
    naive definition."""
    ship = _shipments(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("asof_orderkey"),
        F.col("o_totalprice").alias("asof_totalprice"),
    )
    left = ship.select(
        "custkey",
        F.col("ship_ts").alias("ts"),
        "l_orderkey",
        "l_linenumber",
        F.lit(None).cast("long").alias("asof_orderkey"),
        F.lit(None).cast("double").alias("asof_totalprice"),
        F.lit(1).alias("side"),
    )
    right = o.select(
        "custkey",
        "ts",
        F.lit(None).cast("long").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
        "asof_orderkey",
        "asof_totalprice",
        F.lit(0).alias("side"),
    )
    # side=0 before side=1 at equal ts → the <= is inclusive; among
    # equal-ts orders, ascending orderkey → last() picks the highest.
    w = (
        Window.partitionBy("custkey")
        .orderBy("ts", "side", "asof_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        left.unionByName(right)
        .select(
            "*",
            F.last("asof_orderkey", ignorenulls=True)
            .over(w)
            .alias("__ok"),
            F.last("asof_totalprice", ignorenulls=True)
            .over(w)
            .alias("__tp"),
        )
        .filter((F.col("side") == 1) & F.col("__ok").isNotNull())
        .select(
            "l_orderkey",
            "l_linenumber",
            "custkey",
            F.date_format("ts", "yyyy-MM-dd").alias("ship_date"),
            F.col("__ok").alias("asof_orderkey"),
            F.col("__tp").alias("asof_totalprice"),
        )
    )


# X13 ---------------------------------------------------------------------
@query(
    "range_join_shipments",
    oracle=f"""
    SELECT o.o_orderkey,
           COUNT(*) AS n_ship_{_BIN_DAYS}d,
           ROUND(CAST(SUM(CAST(li.l_quantity AS DECIMAL(18,2))) AS DOUBLE),
                 4) AS qty_{_BIN_DAYS}d
    FROM orders o
    JOIN (
      SELECT o1.o_custkey AS custkey, li.l_quantity, li.l_shipdate
      FROM lineitem li JOIN orders o1 ON li.l_orderkey = o1.o_orderkey
    ) li
      ON li.custkey = o.o_custkey
     AND o.o_orderdate <= li.l_shipdate
     AND li.l_shipdate < o.o_orderdate + INTERVAL {_BIN_DAYS} DAYS
    GROUP BY o.o_orderkey
    """,
    tags=("temporal", "join", "extension"),
)
def range_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: per order, the customer's shipments falling inside
    [o_orderdate, o_orderdate + {BIN}d) — a range join via bin
    quantization: probe rows explode into the only two bins an
    interval of exactly one bin width can straddle, then an equi-join
    on (custkey, bin) + exact range filter. The oracle states the
    naive inequality join."""
    ship = _shipments(spark, sf_dir).select(
        "custkey",
        "l_quantity",
        "ship_ts",
        F.floor(F.unix_timestamp("ship_ts") / _BIN_SECS).alias("bin"),
    )
    probe = ship.select(
        "custkey",
        "l_quantity",
        "ship_ts",
        F.explode(F.array(F.col("bin") - 1, F.col("bin"))).alias("bin"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        "o_orderdate",
        F.floor(F.unix_timestamp("o_orderdate") / _BIN_SECS).alias("bin"),
    )
    joined = o.join(probe, ["custkey", "bin"]).filter(
        (F.col("o_orderdate") <= F.col("ship_ts"))
        & (
            F.col("ship_ts")
            < F.col("o_orderdate") + F.expr(f"INTERVAL {_BIN_DAYS} DAYS")
        )
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias(f"n_ship_{_BIN_DAYS}d"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 4
        ).alias(f"qty_{_BIN_DAYS}d"),
    )


# X69 — calendar-spine resample + forward fill ----------------------------
@query(
    "daily_resample_ffill",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, "value"
      FROM events
    ),
    daily AS (
      SELECT user_id, day, "value" AS v FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn
        FROM e
      ) WHERE rn = 1
    ),
    span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM e GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, CAST(gs AS DATE) AS day
      FROM span, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS g(gs)
    )
    SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
           last_value(d.v IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
    FROM spine s
    LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
    tags=("temporal", "resample", "extension"),
)
def daily_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69: resample each user's event stream onto a daily calendar
    spine and forward-fill gap days with the last observed value — the
    time-series regularization step (pandas ``resample().ffill()``)
    every telemetry pipeline needs, in pure DataFrame ops.

    Plan: per-(user, day) last-observation via a ranking window (bounded
    partitions), the spine generated with ``sequence()`` per user (no
    driver loop, no cross join with a global calendar), left join on
    (user, day), then a per-user ``last(ignorenulls=True)`` running
    window. Everything is partitioned by user_id — bounded state per
    key at any corpus size."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    w1 = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        ev.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("v"))
    )
    span = ev.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.last("v", ignorenulls=True).over(w2).alias("value_ffill"),
    )


# X130 — gap-fill with linear interpolation -------------------------------
@query(
    "gap_fill_interpolate",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(epoch_us(ts) / 60000000) AS BIGINT) AS m,
             "value"
      FROM events
    ),
    obs AS (
      SELECT event_type, m,
             CAST(ROUND(
               CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 4) AS DOUBLE) AS v
      FROM e GROUP BY event_type, m
    ),
    span AS (
      SELECT event_type, MIN(m) AS m0, MAX(m) AS m1 FROM e
      GROUP BY event_type
    ),
    spine AS (
      SELECT event_type, CAST(gs AS BIGINT) AS m
      FROM span, UNNEST(generate_series(m0, m1)) AS g(gs)
    ),
    j AS (
      SELECT s.event_type, s.m, o.v,
             last_value(o.v IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN o.v IS NOT NULL THEN s.m END
                        IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm,
             first_value(o.v IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.m
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN o.v IS NOT NULL THEN s.m END
                         IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.m
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nm
      FROM spine s LEFT JOIN obs o
        ON s.event_type = o.event_type AND s.m = o.m
    )
    SELECT event_type,
           strftime(to_timestamp(m * 60), '%Y-%m-%d %H:%M') AS minute,
           (v IS NOT NULL) AS observed,
           CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE CAST(ROUND(CAST(
               pv + (nv - pv) * (m - pm) / (nm - pm)
               AS DECIMAL(28,10)), 4) AS DOUBLE)
           END AS value_interp
    FROM j
    """,
    tags=("temporal", "resample", "extension"),
)
def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X130: gap-fill the per-(event_type, minute) value series by
    LINEAR INTERPOLATION — the regularization step between
    forward-fill (X69, step function) and model-based imputation:
    every minute in each type's observed span gets a value, missing
    minutes sit on the straight line between their bracketing
    observations (edges clamp to the nearest observation). The
    ``observed`` flag keeps real and imputed rows distinguishable
    downstream.

    Plan: per-(type, minute) mean via one partial agg (decimal-exact,
    4 dp); the spine is ``sequence()`` per type (no global calendar
    cross join); bracketing observations come from two running
    ``last(ignorenulls)`` window pairs over the SPINE, one ascending
    and one descending in ``m`` — both framed unboundedPreceding →
    currentRow, so each is one streaming pass. A forward frame
    (currentRow → unboundedFollowing) is re-evaluated per row and
    grows with the square of a type's span. The spine's
    size is time-range-bounded (minutes in span × types), not
    corpus-bounded — at 100 TB the event count grows but the spine
    does not, and the per-type window state is one scalar. The
    interpolation formula is written once, the same IEEE order on both
    engines, rounded to 4 dp through DECIMAL."""
    from ..functions.epoch import epoch_us

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(epoch_us("ts") / 60_000_000).cast("bigint").alias("m"),
        "value",
    )
    obs = ev.groupBy("event_type", "m").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            4,
        )
        .cast("double")
        .alias("v")
    )
    span = ev.groupBy("event_type").agg(
        F.min("m").alias("m0"), F.max("m").alias("m1")
    )
    spine = span.select(
        "event_type", F.explode(F.sequence("m0", "m1")).alias("m")
    )
    j = spine.join(obs, ["event_type", "m"], "left")
    back = (
        Window.partitionBy("event_type")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy(F.col("m").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m_obs = F.when(F.col("v").isNotNull(), F.col("m"))
    j = j.select(
        "event_type",
        "m",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.last(m_obs, ignorenulls=True).over(back).alias("pm"),
        F.last("v", ignorenulls=True).over(fwd).alias("nv"),
        F.last(m_obs, ignorenulls=True).over(fwd).alias("nm"),
    )
    interp = (
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (F.col("m") - F.col("pm"))
        / (F.col("nm") - F.col("pm"))
    )
    return j.select(
        "event_type",
        F.date_format(
            F.timestamp_seconds(F.col("m") * 60), "yyyy-MM-dd HH:mm"
        ).alias("minute"),
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(exact_round(interp, 4))
        .alias("value_interp"),
    )


# X136 — EWMA smoothing over per-minute bars --------------------------------
#: smoothing factor and lookback depth. alpha = 1/4 makes every weight
#: alpha·(1-alpha)^j an EXACT binary double (3^j < 2^52 for j < 16), so
#: both engines multiply by the identical constant.
EWMA_ALPHA = 0.25
EWMA_DEPTH = 16


def _ewma_weights() -> list[float]:
    ws, w = [], 1.0
    for _ in range(EWMA_DEPTH):
        ws.append(EWMA_ALPHA * w)  # exact: products stay representable
        w *= 1.0 - EWMA_ALPHA
    return ws


def _ewma_oracle() -> str:
    ws = _ewma_weights()
    num = " + ".join(
        f"COALESCE(lag(bar, {j}) OVER w, 0) * {w!r}"
        for j, w in enumerate(ws)
    )
    den = " + ".join(
        f"(CASE WHEN lag(bar, {j}) OVER w IS NULL THEN 0 ELSE {w!r} END)"
        for j, w in enumerate(ws)
    )
    navail = " + ".join(
        f"(CASE WHEN lag(bar, {j}) OVER w IS NULL THEN 0 ELSE 1 END)"
        for j, w in enumerate(ws)
    )
    return f"""
    WITH b AS (
      SELECT event_type, date_trunc('minute', ts) AS minute_ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bar
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           strftime(minute_ts, '%Y-%m-%d %H:%M') AS minute,
           bar,
           CAST({navail} AS BIGINT) AS n_bars_used,
           CAST(ROUND(CAST(({num}) / ({den})
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS ewma
    FROM b
    WINDOW w AS (PARTITION BY event_type ORDER BY minute_ts)
    """


@query(
    "ewma_smoothing",
    oracle=_ewma_oracle(),
    tags=("analytics", "timeseries", "extension"),
)
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X136: EXPONENTIALLY-WEIGHTED moving average over the per-minute
    value bars, per event type — the smoothing pass behind anomaly
    baselines and trend views ({EWMA_DEPTH}-bar lookback ≈ the full
    EWMA: the truncated tail weight is (1-α)^{EWMA_DEPTH} < 1%,
    renormalized by the present-weight sum so series edges are
    unbiased).

    EWMA is a linear RECURRENCE — the canonical "can't window this"
    shape. The distributed form: expand the recurrence to its closed
    form Σ w_j·x_{{t-j}} over a BOUNDED depth, which IS expressible as
    a fixed lag combination. α = 1/4 makes every weight an exact
    binary double, products round identically on both engines, and the
    addition order is the literal expression's — float parity without
    a decimal ladder.

    Scale shape: one (type, minute) partial-agg shuffle builds bars;
    the lag window is partitioned by event_type and its input is
    BAR-cardinality (time-range-bounded, not event-bounded — the
    ``gap_fill_interpolate`` argument); all {EWMA_DEPTH} lags share
    one window frame."""
    ev = load_table(spark, sf_dir, "events")
    bars = ev.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("minute_ts")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("bar")
    )
    w = Window.partitionBy("event_type").orderBy("minute_ts")
    ws = _ewma_weights()
    lags = [F.lag("bar", j).over(w) for j in range(EWMA_DEPTH)]
    num = None
    den = None
    navail = None
    for j, (lagc, wt) in enumerate(zip(lags, ws)):
        t_num = F.coalesce(lagc, F.lit(0.0)) * F.lit(wt)
        t_den = F.when(lagc.isNull(), F.lit(0.0)).otherwise(F.lit(wt))
        t_n = F.when(lagc.isNull(), F.lit(0)).otherwise(F.lit(1))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
        navail = t_n if navail is None else navail + t_n
    return bars.select(
        "event_type",
        F.date_format("minute_ts", "yyyy-MM-dd HH:mm").alias("minute"),
        "bar",
        navail.cast("bigint").alias("n_bars_used"),
        exact_round(num / den, 4).alias("ewma"),
    )


# X137 — interval overlap join (grid-bucketed) ------------------------------
#: grid cell width for the overlap join, in epoch-microseconds (15 min).
OVERLAP_CELL_US = 900 * 1_000_000


def _session_iv_sql(alias: str) -> str:
    """Session intervals (user, seq, start/end epoch-µs) as a
    name-prefixed CTE chain — the ``sessionize_events`` fragment
    restated so the overlap oracle quotes the registered session
    definition verbatim."""
    from .events import SESSION_GAP_MIN

    return f"""
    {alias}_d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_MIN} * 60 * 1000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    {alias}_s AS (
      SELECT user_id, ts,
             CAST(SUM(is_new)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_seq
      FROM {alias}_d
    ),
    {alias} AS (
      SELECT user_id, session_seq,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS a_us,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS b_us
      FROM {alias}_s GROUP BY user_id, session_seq
    )"""


@query(
    "interval_overlap_join",
    oracle=f"""
    WITH {_session_iv_sql("iv")}
    SELECT x.user_id AS user_a, y.user_id AS user_b,
           x.session_seq AS session_a, y.session_seq AS session_b,
           LEAST(x.b_us, y.b_us) - GREATEST(x.a_us, y.a_us) AS overlap_us
    FROM iv x JOIN iv y
      ON x.user_id < y.user_id
     AND x.a_us <= y.b_us AND y.a_us <= x.b_us
    """,
    tags=("temporal", "join", "extension"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X137: INTERVAL OVERLAP JOIN — every pair of concurrent sessions
    across distinct users, with the shared-microseconds measure. The
    third temporal-join family next to as-of (nearest-past) and range
    (key + bounded distance): overlap has NO equi-key at all, the
    shape engines with interval indexes special-case.

    Spark shape — make an equi-key from geometry: each interval
    registers in the 15-minute grid cells it spans (sequence() —
    bounded by session length / cell width), candidates come from the
    cell equi-join, and each qualifying pair is emitted EXACTLY ONCE
    by the cell that contains the later interval start (that cell is
    provably inside both intervals' ranges, so no second pass
    deduplicates). Candidates ∝ per-cell density² × cells — never the
    all-pairs cross product the naive range join plans; the oracle
    states the quadratic form directly.

    Intervals reuse ``sessionize_events``' registered definition
    (quoted verbatim in the oracle); overlap arithmetic is exact
    integer epoch-µs."""
    from ..functions.epoch import epoch_us
    from .events import SESSION_GAP_MIN

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
    iv = s.groupBy("user_id", "session_seq").agg(
        epoch_us(F.min("ts")).cast("bigint").alias("a_us"),
        epoch_us(F.max("ts")).cast("bigint").alias("b_us"),
    )
    cells = iv.select(
        "user_id",
        "session_seq",
        "a_us",
        "b_us",
        F.explode(
            F.sequence(
                (F.col("a_us") / OVERLAP_CELL_US).cast("long"),
                (F.col("b_us") / OVERLAP_CELL_US).cast("long"),
            )
        ).alias("cell"),
    )
    x = cells.select(
        F.col("user_id").alias("user_a"),
        F.col("session_seq").alias("session_a"),
        F.col("a_us").alias("xa"),
        F.col("b_us").alias("xb"),
        "cell",
    )
    y = cells.select(
        F.col("user_id").alias("user_b"),
        F.col("session_seq").alias("session_b"),
        F.col("a_us").alias("ya"),
        F.col("b_us").alias("yb"),
        "cell",
    )
    later_start = F.greatest(F.col("xa"), F.col("ya"))
    return (
        x.join(y, "cell")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("xa") <= F.col("yb"))
            & (F.col("ya") <= F.col("xb"))
            # emit-once: only the cell holding the later start speaks
            & (F.col("cell") == (later_start / OVERLAP_CELL_US).cast("long"))
        )
        .select(
            "user_a",
            "user_b",
            "session_a",
            "session_b",
            (
                F.least(F.col("xb"), F.col("yb"))
                - F.greatest(F.col("xa"), F.col("ya"))
            ).alias("overlap_us"),
        )
    )


# X183 — shipping SLA latency report ----------------------------------------
#: SLA cutoff in days for the on-time share.
SLA_DAYS = 30


@query(
    "shipping_sla_report",
    oracle=f"""
    WITH lag AS (
      SELECT o.o_orderpriority AS priority,
             datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(ROUND(CAST(quantile_cont(lag_days, 0.5)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS p50_days,
           CAST(ROUND(CAST(quantile_cont(lag_days, 0.9)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS p90_days,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN lag_days BETWEEN 0 AND {SLA_DAYS}
                      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS pct_within_sla,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS pct_negative
    FROM lag GROUP BY priority
    """,
    tags=("analytics", "temporal", "extension"),
)
def shipping_sla_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X183: ORDER-TO-SHIP SLA report — per order priority, the p50/p90
    days from order to line shipment, the share inside the
    {SLA_DAYS}-day SLA, and the share with NEGATIVE lag. The last
    column is deliberate data-quality instrumentation: this synthetic
    testdata ships lines before their orders exist, and a latency
    dashboard that silently clipped or dropped those rows would report
    a fictional SLA — the report surfaces the defect instead
    (the X152/X153 audit discipline applied to temporal joins).

    Float discipline: day lags are exact integers (date-cast
    datediff), percentiles interpolate identically, shares rounded
    via the decimal idiom.

    Plan: one lineitem⋈orders join on the key (orders side reduced to
    two columns; AQE picks the strategy), one priority-keyed
    partial agg with the percentile buffers per group. At 100 TB the
    join is the bucketed-table shape."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("lag_days"),
    )
    within = F.col("lag_days").between(0, SLA_DAYS)
    return lag.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        exact_round(F.percentile("lag_days", F.lit(0.5)), 4).alias("p50_days"),
        exact_round(F.percentile("lag_days", F.lit(0.9)), 4).alias("p90_days"),
        exact_round(
            F.sum(F.when(within, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("pct_within_sla"),
        exact_round(
            F.sum(F.when(F.col("lag_days") < 0, 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("pct_negative"),
    )
