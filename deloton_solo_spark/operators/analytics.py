"""Analytic breadth beyond the reference surface — SURVEY.md §2.5
lists sorts/limits, set operations, outer/semi/anti joins, grouping
sets and ranking windows as ABSENT from the reference; a replacement
engine needs them, so they are first-class oracle-checked operators
here (X14-X18).

All are single-shuffle-or-less plans: rollup reuses one exchange for
every grouping set (Spark Expand), the joins broadcast their small
side, ranking windows partition by key (bounded state per group).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.epoch import epoch_us
from ..functions.parity import exact_round, md5_int, tokens
from ..functions.quantiles import exact_quantiles_two_pass
from ..functions.windows import (
    distributed_row_number,
    ntile_from_rank,
    range_carry,
)
from ..registry import query


# X14 — grouping sets / rollup -------------------------------------------
@query(
    "rollup_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
                 4) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    """,
    tags=("analytics", "agg", "extension"),
)
def rollup_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14: revenue by (nation, segment) with ROLLUP subtotals and a
    grand total — one Expand + one exchange serves all three grouping
    levels; nation/customer are broadcast dims."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    ).join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return j.rollup(
        F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            4,
        ).alias("revenue"),
    )


# X15 — ranking / analytic windows ---------------------------------------
@query(
    "window_rank_orders",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS price_rank,
           dense_rank() OVER w AS price_dense_rank,
           ROUND(o_totalprice
                 - lag(o_totalprice, 1, 0.0) OVER
                     (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey), 4) AS delta_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
    QUALIFY price_rank <= 3
    """,
    tags=("analytics", "window", "extension"),
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: per-customer top-3 orders by price with rank, dense_rank
    and a lag delta in chronological order — ranking windows partition
    by customer (bounded per-key state; no global sort)."""
    o = load_table(spark, sf_dir, "orders")
    wp = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    wt = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(wp).cast("long").alias("price_rank"),
            F.dense_rank().over(wp).cast("long").alias("price_dense_rank"),
            F.round(
                F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(wt),
                4,
            ).alias("delta_prev"),
        )
        .filter(F.col("price_rank") <= 3)
    )


# X16 — set operations ----------------------------------------------------
@query(
    "set_ops_customers",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                    WHERE o_totalprice > 150000),
    eventers AS (SELECT DISTINCT user_id AS custkey FROM events)
    SELECT 'both' AS cohort, custkey
    FROM (SELECT custkey FROM buyers INTERSECT SELECT custkey FROM eventers)
    UNION ALL
    SELECT 'buyer_only', custkey
    FROM (SELECT custkey FROM buyers EXCEPT SELECT custkey FROM eventers)
    """,
    tags=("analytics", "setop", "extension"),
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: INTERSECT / EXCEPT / UNION ALL — big-spender customers vs
    event-active users. Set ops lower to aggregate/join plans; the
    distinct sides are pre-shrunk before the shuffle."""
    buyers = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    eventers = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("custkey"))
        .distinct()
    )
    both = buyers.intersect(eventers).select(
        F.lit("both").alias("cohort"), "custkey"
    )
    only = buyers.exceptAll(eventers).select(
        F.lit("buyer_only").alias("cohort"), "custkey"
    )
    return both.unionAll(only)


# X17 — outer join with null handling ------------------------------------
@query(
    "left_outer_order_coverage",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           COALESCE(ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                               AS DOUBLE), 4), 0.0) AS revenue,
           CASE WHEN COUNT(o.o_orderkey) = 0 THEN 1 ELSE 0 END AS inactive
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    tags=("analytics", "join", "extension"),
)
def left_outer_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17: customers LEFT JOIN orders — unmatched customers survive
    with zeroed aggregates (COUNT of a null column = 0). Customer side
    broadcast; nulls handled in the agg, not a post-pass."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    j = F.broadcast(c).join(o, c.c_custkey == o.o_custkey, "left")
    return j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.coalesce(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                4,
            ),
            F.lit(0.0),
        ).alias("revenue"),
        F.when(F.count("o_orderkey") == 0, F.lit(1))
        .otherwise(F.lit(0))
        .alias("inactive"),
    )


# X19 — salted two-phase aggregation for skewed keys ---------------------
_N_SALT = 16


@query(
    "salted_skew_agg",
    oracle="""
    SELECT CASE WHEN user_id < 50 THEN -1 ELSE user_id END AS cohort,
           COUNT(*) AS n_events,
           CAST(ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                                AS DOUBLE) / COUNT(*)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_value
    FROM events
    GROUP BY CASE WHEN user_id < 50 THEN -1 ELSE user_id END
    """,
    tags=("analytics", "agg", "skew", "extension"),
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19: two-phase salted aggregation over a deliberately skewed key
    (a third of all events collapse into cohort −1 — the shape of a
    hot-key groupBy at 100 TB, where one reducer would receive the
    whole hot key and straggle).

    Phase 1 groups by (key, salt) so the hot key spreads over
    ``_N_SALT`` reducers; phase 2 merges the per-salt partials — its
    input is ≤ |keys| × _N_SALT rows, trivially small. Decomposable
    aggregates only (COUNT → SUM, SUM → SUM), so the result is exactly
    the plain groupBy the oracle states. (Spark's map-side partial agg
    helps the same way only when the hot key is spread across input
    partitions; explicit salting also covers post-shuffle skew and is
    the pattern AQE skew-join can't apply to aggregations.)"""
    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("user_id") < 50, F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("cohort"),
        "value",
        (F.col("event_id") % _N_SALT).alias("__salt"),
    )
    partial = ev.groupBy("cohort", "__salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
    )
    return partial.groupBy("cohort").agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("s") / F.sum("n"), 4).cast("double").alias("avg_value"),
    )


# X18 — semi / anti joins -------------------------------------------------
@query(
    "semi_anti_join_parts",
    oracle="""
    WITH shipped AS (SELECT DISTINCT l_partkey FROM lineitem)
    SELECT 'shipped' AS status, p_partkey, p_name
    FROM part WHERE p_partkey IN (SELECT l_partkey FROM shipped)
    UNION ALL
    SELECT 'never_shipped', p_partkey, p_name
    FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM shipped)
    """,
    tags=("analytics", "join", "extension"),
)
def semi_anti_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: LEFT SEMI + LEFT ANTI — parts that ever shipped vs never
    shipped. Semi/anti carry only the left columns through the join
    (no row multiplication), the existence side is pre-distinct."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    shipped = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    semi = p.join(
        shipped, p.p_partkey == shipped.l_partkey, "left_semi"
    ).select(F.lit("shipped").alias("status"), "p_partkey", "p_name")
    anti = p.join(
        shipped, p.p_partkey == shipped.l_partkey, "left_anti"
    ).select(F.lit("never_shipped").alias("status"), "p_partkey", "p_name")
    return semi.unionAll(anti)


# X25 — exact percentile summary ------------------------------------------
_R4 = "CAST(ROUND(CAST({x} AS DECIMAL(28,10)), 4) AS DOUBLE)"


@query(
    "percentile_summary",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           {_R4.format(x="quantile_cont(o_totalprice, 0.5)")} AS p50,
           {_R4.format(x="quantile_cont(o_totalprice, 0.9)")} AS p90,
           {_R4.format(x="quantile_cont(o_totalprice, 0.99)")} AS p99
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("analytics", "stats", "extension"),
)
def percentile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25: exact interpolated percentiles of order value per priority
    class — Spark's ``percentile`` and DuckDB's ``quantile_cont`` share
    the (n−1)p linear-interpolation definition, so even the quantiles
    are oracle-checked (4dp-rounded to absorb last-ulp arithmetic
    order). At 100 TB swap in ``percentile_approx`` (t-digest sketch,
    mergeable map-side) — same plan shape, bounded memory."""
    o = load_table(spark, sf_dir, "orders")

    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        exact_round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        exact_round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        exact_round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


# X26 — fixed-width histogram ---------------------------------------------
_BIN_W = 50.0


@query(
    "value_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(FLOOR(value / {_BIN_W}) AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM events GROUP BY event_type, CAST(FLOOR(value / {_BIN_W}) AS BIGINT)
    """,
    tags=("analytics", "stats", "extension"),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26: fixed-width value histogram per event type — the binning is
    a narrow map, the count a partial-agg shuffle on (type, bin); bin
    cardinality (not row count) bounds the shuffle at any scale."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.floor(F.col("value") / _BIN_W).cast("long").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# X27 — HLL sketch distinct counts (approx; rows-only check) -------------
@query("distinct_users_hll", oracle=None, tags=("analytics", "sketch", "extension"))
def distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X27: HyperLogLog++ distinct-user counts per event type, exact
    ground truth alongside. The sketch is mergeable map-side — at
    100 TB the shuffle carries fixed-size sketch buffers instead of
    user-id sets (rsd 1.5%). Engines' HLL implementations differ, so
    this is a rows-only driver check; the test bound is the documented
    rsd against the exact column."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.015).alias("n_users_hll"),
        F.count_distinct("user_id").alias("n_users_exact"),
    )


# X28 — pivot / unpivot ----------------------------------------------------
_EVENT_TYPES = ("signup", "view", "click", "purchase", "error")


@query(
    "pivot_event_counts",
    oracle=f"""
    SELECT user_id,
           {", ".join(
             f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
             f" AS BIGINT) AS n_{t}"
             for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
    tags=("analytics", "pivot", "extension"),
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28: long→wide pivot — per-user event counts, one column per
    event type. ``pivot`` with an EXPLICIT value list: never the
    two-pass distinct-discovery form, which adds a full extra scan at
    scale. One partial-agg shuffle, same as a plain groupBy."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


@query(
    "unpivot_event_counts",
    oracle=f"""
    WITH wide AS (
      SELECT user_id,
             {", ".join(
               f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS n_{t}"
               for t in _EVENT_TYPES)}
      FROM events GROUP BY user_id
    )
    SELECT user_id, event_type, n FROM wide
    UNPIVOT (n FOR event_type IN ({", ".join(f"n_{t}" for t in _EVENT_TYPES)}))
    """,
    tags=("analytics", "pivot", "extension"),
)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28b: wide→long unpivot (melt) of the pivoted counts — Spark's
    ``unpivot`` lowers to Expand: a narrow row-multiplying map, no
    shuffle beyond the pivot's own aggregation."""
    wide = pivot_event_counts(spark, sf_dir)
    return wide.unpivot(
        "user_id",
        [f"n_{t}" for t in _EVENT_TYPES],
        "event_type",
        "n",
    )


# X31 — map-typed column ops ----------------------------------------------
@query(
    "map_column_ops",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status,
           o_orderpriority AS priority,
           2 AS n_keys,
           'priority,status' AS keys_sorted
    FROM orders
    """,
    tags=("analytics", "types", "extension"),
)
def map_column_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31: MapType round-trip — build a map column from scalars,
    read it back via element_at / map_keys / size. Completes the
    engine's complex-type coverage (arrays: embeddings; structs: P4
    user blobs; maps: here). All JVM expressions, no shuffle; the
    oracle states the equivalent flat projection."""
    o = load_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status"),
        F.element_at(m, "priority").alias("priority"),
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
    )


# X34 — RANGE-frame window (trailing time window) -------------------------
@query(
    "trailing_hour_running_sum",
    oracle="""
    SELECT event_id, user_id,
           -- epoch_us (exact BIGINT micros) on BOTH engines: a
           -- seconds-truncated key admits different boundary rows into
           -- the frame than a fractional one (caught at sf0.1)
           CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS sum_1h
    FROM events
    """,
    tags=("analytics", "window", "timeseries", "extension"),
)
def trailing_hour_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34: per-user running sum over a trailing ONE-HOUR RANGE frame —
    the value-based frame (vs ROWS) that sliding-window analytics need:
    the frame holds whatever rows fall in the time interval, not a
    fixed row count. Per-user partitions keep state bounded; sums in
    DECIMAL for exact parity."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        exact_round(
            F.sum(F.col("value").cast("decimal(18,2)")).over(w), 4
        ).alias("sum_1h"),
    )


# X35 — ntile quantile bucketing ------------------------------------------
@query(
    "ntile_customer_value",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, total_spend,
           CAST(ntile(10) OVER (ORDER BY total_spend DESC, o_custkey)
                AS BIGINT) AS decile
    FROM spend
    """,
    tags=("analytics", "window", "extension"),
)
def ntile_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X35: customer-value deciles via ntile semantics, computed with
    the DISTRIBUTED rank (functions/windows.distributed_row_number):
    the pre-aggregated per-customer frame is range-partitioned, ranked
    per partition, and carried — the dimension never funnels through
    one WindowExec task (it used to: |customers| grows with the
    corpus, the round-6 allowlist audit's genuine hazard). NTILE(10)
    is reconstructed from (rank, total) in integer arithmetic
    (ntile_from_rank), placement identical to SQL NTILE."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_spend")
    )
    ranked = distributed_row_number(
        spend,
        [F.col("total_spend").desc(), F.col("o_custkey")],
        with_total="__n",
    )
    return ranked.select(
        "o_custkey",
        "total_spend",
        ntile_from_rank(F.col("rn"), F.col("__n"), 10).alias("decile"),
    )


# X36 — null-preserving lateral expansion ---------------------------------
@query(
    "posexplode_tokens",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(i - 1 AS INT) AS pos,
           t[i] AS token
    FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    WHERE len(t) > 0
    UNION ALL
    SELECT doc_id, NULL, NULL FROM toks WHERE len(t) = 0
    """,
    tags=("analytics", "lateral", "extension"),
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X36: positional lateral expansion with null preservation —
    ``posexplode_outer`` keeps empty-token documents as a (NULL, NULL)
    row instead of dropping them (the outer-join semantics of lateral
    views; plain explode silently loses rows). Narrow row-expanding
    map, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    return docs.select(
        "doc_id", F.posexplode_outer(toks).alias("pos", "token")
    )


# X37 — approximate quantile sketch (rows-only; bounded by local test) ---
@query(
    "percentile_approx_sketch",
    oracle=None,
    tags=("analytics", "sketch", "extension"),
)
def percentile_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37: the sketch form of X25 — ``percentile_approx`` (Greenwald-
    Khanna/t-digest style, mergeable map-side with bounded memory) next
    to the exact interpolated quantile as ground truth. At 100 TB the
    exact form needs the values; the sketch shuffles fixed-size
    summaries. Accuracy parameter 10000 → tight bounds (held to 1%
    relative error in tests/test_sketches.py). Engine-specific sketch →
    rows-only driver check."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias(
            "p50_sketch"
        ),
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50_exact"),
        F.percentile_approx("o_totalprice", F.lit(0.99), F.lit(10000)).alias(
            "p99_sketch"
        ),
        F.percentile("o_totalprice", F.lit(0.99)).alias("p99_exact"),
    )


# X38 — CUBE grouping ------------------------------------------------------
@query(
    "cube_orders_status_priority",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("analytics", "agg", "extension"),
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X38: CUBE — all four grouping combinations (full, by status, by
    priority, grand total) from ONE Expand + one exchange; completes
    the grouping-sets family next to ROLLUP (X14)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))


# X40 — statistical moments via decimal-exact sums ------------------------
@query(
    "moments_by_priority",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))
                 * CAST(o_totalprice AS DECIMAL(18,2))) AS s2
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           CAST(ROUND(CAST(CAST(s1 AS DOUBLE) / n AS DECIMAL(28,10)), 4)
                AS DOUBLE) AS mean,
           CAST(ROUND(CAST((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                           / (n - 1) AS DECIMAL(38,6)), 2) AS DOUBLE)
               AS variance
    FROM s
    """,
    tags=("analytics", "stats", "extension"),
)
def moments_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X40: mean/variance per group from DECIMAL-exact power sums — the
    sufficient-statistics form (n, Σx, Σx²) that map-side combines and
    merges exactly, unlike engine-specific streaming variance
    algorithms whose last-ulp results differ (built-in ``var_samp`` is
    the convenience path; this is the cross-engine-reproducible one).
    Variance rounded at 2dp: its magnitude is price², so 2 decimals ≈
    12 significant digits."""
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * dec).alias("s2"),
    )
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    nd = F.col("n")
    return s.select(
        "o_orderpriority",
        "n",
        exact_round(s1d / nd, 4).alias("mean"),
        F.round(
            ((s2d - s1d * s1d / nd) / (nd - 1)).cast("decimal(38,6)"), 2
        )
        .cast("double")
        .alias("variance"),
    )


# X41 — correlation via decimal-exact co-sums -----------------------------
@query(
    "corr_quantity_price",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(ROUND(CAST(
             (n * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(n * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           AS DECIMAL(28,10)), 4) AS DOUBLE) AS corr_qty_price
    FROM s
    """,
    tags=("analytics", "stats", "extension"),
)
def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X41: Pearson correlation per group from decimal-exact co-sums —
    same sufficient-statistics shape as X40 (one partial-agg shuffle,
    all moments merge exactly); the formula arithmetic is identical
    double ops on identical inputs on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return s.select(
        "l_returnflag",
        "n",
        exact_round(corr, 4).alias("corr_qty_price"),
    )


# Count-Min Sketch heavy hitters ------------------------------------------
#: depth (independent hash rows) × width (counters per row). The sketch
#: is 3×256 counters TOTAL regardless of corpus size — that bounded
#: state is the whole point at 100 TB. Hashes are md5-derived (28-bit
#: prefix, identical in both engines) so even the sketch's
#: overestimates are deterministic and oracle-checked exactly.
_CMS_D = 3
_CMS_W = 256
_CMS_K = 20


def _cms_bucket(tok: F.Column, j: int) -> F.Column:
    return md5_int(F.concat(F.lit(f"{j}|"), tok), 7).cast("long") % _CMS_W


def _cms_bucket_sql(tok: str, j: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{j}|' || {tok}), 1, 7)) AS BIGINT)"
        f" % {_CMS_W}"
    )


@query(
    "heavy_hitters_cms",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
      FROM documents
    ),
    keys AS (
      SELECT tok, j.j AS j,
             CASE j.j
               {" ".join(f"WHEN {j} THEN {_cms_bucket_sql('tok', j)}" for j in range(_CMS_D))}
             END AS bucket
      FROM tok CROSS JOIN generate_series(0, {_CMS_D - 1}) j(j)
    ),
    sk AS (SELECT j, bucket, COUNT(*) AS c FROM keys GROUP BY j, bucket),
    cand AS (SELECT DISTINCT tok FROM tok),
    est AS (
      SELECT c.tok, MIN(s.c) AS est_count
      FROM cand c
      CROSS JOIN generate_series(0, {_CMS_D - 1}) j(j)
      JOIN sk s ON s.j = j.j AND s.bucket =
        (CASE j.j
           {" ".join(f"WHEN {j} THEN {_cms_bucket_sql('c.tok', j)}" for j in range(_CMS_D))}
         END)
      GROUP BY c.tok
    )
    SELECT tok, est_count FROM est
    ORDER BY est_count DESC, tok LIMIT {_CMS_K}
    """,
    tags=("sketch", "extension", "text"),
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters over the corpus token stream.

    Scale shape: the sketch build is ONE narrow map (each token emits
    its D bucket keys) into a groupBy whose keyspace is the fixed D×W
    counter grid — partial aggregation collapses everything map-side,
    so the shuffle carries at most D×W rows per task regardless of
    corpus size. The query step joins the distinct-token candidates
    against the broadcast (tiny) sketch and takes min-of-rows; top-K is
    orderBy().limit() → TakeOrderedAndProject, never a full sort.
    CMS overestimates (collisions inflate counts) — deterministically
    so, given the fixed hash family, which is why the oracle can check
    the sketch output exactly rather than within a bound."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens()).alias("tok"))
    keyed = tok.select(
        "tok",
        F.posexplode(
            F.array(*[_cms_bucket(F.col("tok"), j) for j in range(_CMS_D)])
        ).alias("j", "bucket"),
    )
    sk = keyed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    cand = tok.distinct()
    est = (
        cand.select(
            "tok",
            F.posexplode(
                F.array(
                    *[_cms_bucket(F.col("tok"), j) for j in range(_CMS_D)]
                )
            ).alias("j", "bucket"),
        )
        .join(F.broadcast(sk), ["j", "bucket"])
        .groupBy("tok")
        .agg(F.min("c").alias("est_count"))
    )
    return est.orderBy(F.col("est_count").desc(), "tok").limit(_CMS_K)


# Salted skew JOIN ---------------------------------------------------------
@query(
    "salted_skew_join",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN user_id < 50 THEN -1 ELSE user_id END AS cohort,
             value
      FROM events
    ),
    d AS (
      SELECT CASE WHEN user_id < 50 THEN -1 ELSE user_id END AS cohort,
             COUNT(DISTINCT event_type) AS n_types
      FROM events GROUP BY 1
    )
    SELECT f.cohort, d.n_types,
           COUNT(*) AS n_events,
           CAST(ROUND(CAST(CAST(SUM(CAST(f.value AS DECIMAL(18,2)))
                                AS DOUBLE) / COUNT(*)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_value
    FROM f JOIN d ON f.cohort = d.cohort
    GROUP BY f.cohort, d.n_types
    """,
    tags=("analytics", "join", "skew", "extension"),
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted JOIN over a deliberately hot key — the companion to
    ``salted_skew_agg`` for the join case AQE's skew-split cannot
    always save (e.g. when the skewed side is the OUTPUT of an
    upstream stage AQE already coalesced).

    The fact side carries a deterministic salt (event_id mod S); the
    dimension side is REPLICATED S× (explode of [0..S)) so every
    (key, salt) bucket finds its dimension row; the join key becomes
    (cohort, salt) and the hot cohort spreads over S reducers. The
    trailing re-aggregation merges the salted partials. Result is
    provably the plain join + group-by the oracle states.

    The dimension here is small enough to broadcast — the salt
    machinery is exercised against a forced shuffle join (merge hint)
    because at 100 TB the dimension of interest (per-user profiles,
    say) is itself too large to broadcast."""
    ev = load_table(spark, sf_dir, "events")
    cohort = (
        F.when(F.col("user_id") < 50, F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("cohort")
    )
    f = ev.select(
        cohort, "value", (F.col("event_id") % _N_SALT).alias("__salt")
    )
    d = (
        ev.select(cohort, "event_type")
        .groupBy("cohort")
        .agg(F.count_distinct("event_type").alias("n_types"))
        .withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(_N_SALT - 1)))
        )
        .hint("merge")
    )
    joined = f.join(d, ["cohort", "__salt"])
    partial = joined.groupBy("cohort", "n_types", "__salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
    )
    return partial.groupBy("cohort", "n_types").agg(
        F.sum("n").alias("n_events"),
        F.round(F.sum("s") / F.sum("n"), 4).cast("double").alias("avg_value"),
    )


# X72 — distribution-position windows (percent_rank / cume_dist) ----------
@query(
    "customer_percentiles",
    oracle="""
    WITH spend AS (
      SELECT c_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS spend
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    )
    SELECT c_custkey, spend,
           CAST(ROUND(CAST(percent_rank() OVER (ORDER BY spend, c_custkey)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS pct_rank,
           CAST(ROUND(CAST(cume_dist() OVER (ORDER BY spend, c_custkey)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS cume
    FROM spend
    """,
    tags=("analytics", "window", "extension"),
)
def customer_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72: each customer's position in the spend distribution —
    ``percent_rank`` (relative rank in [0,1]) and ``cume_dist``
    (fraction of customers at or below) — the remaining ranking-window
    family members X15/X35 don't cover. The (spend, custkey) tiebreak
    makes every peer group a singleton, so percent_rank = (rn-1)/(n-1)
    and cume_dist = rn/n with rn the global row_number — computed with
    the DISTRIBUTED rank (functions/windows.distributed_row_number), so
    the customer dimension never funnels through one WindowExec task.
    The divisions are the same IEEE expressions Spark's window
    functions evaluate, so both engines still agree exactly."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("spend")
        )
    )
    ranked = distributed_row_number(
        spend, [F.col("spend"), F.col("c_custkey")], with_total="__n"
    )

    # percent_rank is defined as 0.0 for n == 1 (no peers) — same guard
    # Spark's PercentRank applies before dividing by n-1.
    pr = F.when(
        F.col("__n") > 1,
        (F.col("rn") - 1).cast("double")
        / (F.col("__n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    cm = F.col("rn").cast("double") / F.col("__n").cast("double")
    return ranked.select(
        "c_custkey",
        "spend",
        exact_round(pr, 4).alias("pct_rank"),
        exact_round(cm, 4).alias("cume"),
    )


# X73 — full-outer reconciliation -----------------------------------------
@query(
    "full_outer_reconciliation",
    oracle="""
    SELECT COALESCE(o.o_orderkey, l.l_orderkey) AS orderkey,
           o.o_orderkey IS NOT NULL AS has_order,
           l.l_orderkey IS NOT NULL AS has_lineitem,
           COALESCE(l.n_items, 0) AS n_items
    FROM orders o
    FULL JOIN (
      SELECT l_orderkey, COUNT(*) AS n_items
      FROM lineitem GROUP BY l_orderkey
    ) l ON o.o_orderkey = l.l_orderkey
    """,
    tags=("analytics", "join", "extension"),
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73: FULL OUTER join — the one outer-join shape the surface
    didn't cover yet. Reconciles the orders table against the lineitem
    rollup: every orderkey from either side appears once, flagged for
    presence on each side (the audit query behind every ingest
    pipeline's "did both tables land?" check).

    Plan: lineitem partially aggregates to one row per orderkey before
    the join, so the full-outer shuffle carries |orders| + |distinct
    orderkeys| rows, not raw lineitems."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    l = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    j = o.join(l, o.o_orderkey == l.l_orderkey, "full_outer")
    return j.select(
        F.coalesce("o_orderkey", "l_orderkey").alias("orderkey"),
        F.col("o_orderkey").isNotNull().alias("has_order"),
        F.col("l_orderkey").isNotNull().alias("has_lineitem"),
        F.coalesce("n_items", F.lit(0)).alias("n_items"),
    )


# X74 — shuffle-key skew diagnostics --------------------------------------
@query(
    "partition_skew_report",
    oracle="""
    WITH per_key AS (
      SELECT l_orderkey AS grp_key, COUNT(*) AS n
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT COUNT(*) AS n_keys,
           MIN(n) AS min_rows,
           MAX(n) AS max_rows,
           CAST(ROUND(CAST(CAST(SUM(n) AS DOUBLE) / COUNT(*)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS mean_rows,
           CAST(ROUND(CAST(CAST(MAX(n) AS DOUBLE)
                           / (CAST(SUM(n) AS DOUBLE) / COUNT(*))
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS skew_factor,
           CAST(SUM(CASE WHEN n >= 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hot_keys
    FROM per_key
    """,
    tags=("analytics", "diagnostics", "extension"),
)
def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74: shuffle-key skew diagnostics — the report you run BEFORE
    choosing a join/agg strategy at 100 TB: per-key row counts reduced
    to min/max/mean, a skew factor (max key ÷ mean key), and the hot-key
    count. A skew factor near 1 → plain hash shuffle is fine; large →
    reach for `salted_skew_agg`/`salted_skew_join` or AQE skew-join
    (both implemented here).

    Plan: one partial agg per key, then a single-row global reduce —
    the diagnostic costs one pass, never a sort."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    per_key = li.groupBy(F.col("l_orderkey").alias("grp_key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    mean = F.sum("n").cast("double") / F.count(F.lit(1))

    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("n").alias("min_rows"),
        F.max("n").alias("max_rows"),
        exact_round(mean, 4).alias("mean_rows"),
        exact_round(F.max("n").cast("double") / mean, 4).alias("skew_factor"),
        F.sum(F.when(F.col("n") >= 7, 1).otherwise(0)).alias("n_hot_keys"),
    )


#: explicit HLL: 64 registers (p=6), 52-bit rho stream, alpha for m=64.
_HLL_M = 64
_HLL_ALPHA = 0.709
_HLL_MAX_RHO_POW = 1 << 53  # 2^53: empty-register contribution 2^(53-0)


# X77 — oracle-EXACT HyperLogLog (explicit registers) ----------------------
@query(
    "hll_explicit_registers",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr(md5('hll-' || CAST(user_id AS VARCHAR)),
                                  1, 2)) AS INT) % {_HLL_M} AS bucket,
             CAST(('0x' || substr(md5('hll-' || CAST(user_id AS VARCHAR)),
                                  3, 13)) AS BIGINT) AS v
      FROM events
    ),
    regs AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN v = 0 THEN 53
                      ELSE 53 - length(bin(v)) END) AS m_j
      FROM h GROUP BY event_type, bucket
    ),
    s AS (
      SELECT event_type,
             CAST(SUM(CAST(POWER(2, 53 - m_j) AS BIGINT)) AS BIGINT)
               + ({_HLL_M} - CAST(COUNT(*) AS BIGINT))
                 * CAST({_HLL_MAX_RHO_POW} AS BIGINT) AS denom,
             CAST(COUNT(*) AS BIGINT) AS n_filled
      FROM regs GROUP BY event_type
    ),
    est0 AS (
      SELECT event_type,
             {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
               * CAST({_HLL_MAX_RHO_POW} AS DOUBLE) / denom AS raw,
             {_HLL_M} - n_filled AS n_empty
      FROM s
    )
    SELECT e0.event_type,
           CAST(ROUND(CAST(
             CASE WHEN e0.raw <= {2.5 * _HLL_M} AND e0.n_empty > 0
                  THEN {float(_HLL_M)} * ln({float(_HLL_M)} / e0.n_empty)
                  ELSE e0.raw END
           AS DECIMAL(28,10)), 4) AS DOUBLE) AS est_users,
           e.n_exact
    FROM est0 e0
    JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
          FROM events GROUP BY event_type) e
      ON e0.event_type = e.event_type
    """,
    tags=("analytics", "sketch", "extension"),
)
def hll_explicit_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77: HyperLogLog with EXPLICIT registers — the same sketch
    X27's engine-native `approx_count_distinct` computes, but with the
    hash family (md5), bucketing (p=6, 64 registers), rho
    (leading-zero rank of a 52-bit stream) and the raw HLL estimate
    alpha·m²/Σ2^(-M_j) all written out — so Spark and DuckDB build
    BIT-IDENTICAL registers and the approximation itself is
    oracle-exact (the CMS treatment from X49, applied to cardinality).
    The float discipline: Σ2^(-M_j) is computed as the exact INTEGER
    Σ2^(53-M_j) (every term ≤ 2^52 — no rounding), one double division
    at the end.

    Scale shape: registers partially aggregate map-side (MAX is
    commutative) onto a fixed 64-cell grid per group — the shuffle
    carries ≤ m rows per event_type regardless of corpus size, the
    defining property of the sketch."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = F.md5(F.concat(F.lit("hll-"), F.col("user_id").cast("string")))
    bucket = (
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % _HLL_M
    ).alias("bucket")
    v = F.conv(F.substring(h, 3, 13), 16, 10).cast("bigint")
    rho = F.when(v == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(v))
    )
    regs = (
        ev.select("event_type", bucket, rho.alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    s = regs.groupBy("event_type").agg(
        (
            F.sum(
                F.pow(F.lit(2), F.lit(53) - F.col("m_j")).cast("bigint")
            ).cast("bigint")
            + (_HLL_M - F.count(F.lit(1)).cast("bigint"))
            * F.lit(_HLL_MAX_RHO_POW).cast("bigint")
        ).alias("denom"),
        F.count(F.lit(1)).cast("bigint").alias("n_filled"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    raw = (
        F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
        * F.lit(float(_HLL_MAX_RHO_POW))
        / F.col("denom")
    )
    n_empty = F.lit(_HLL_M) - F.col("n_filled")
    # small-range (linear counting) correction — the standard HLL rule:
    # below 2.5m with empty registers, count the empties instead.
    corrected = F.when(
        (raw <= 2.5 * _HLL_M) & (n_empty > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / n_empty),
    ).otherwise(raw)
    est = exact_round(corrected, 4)
    return (
        s.join(F.broadcast(exact), "event_type")
        .select("event_type", est.alias("est_users"), "n_exact")
    )


# X79 — custom GROUPING SETS with grouping markers ------------------------
@query(
    "grouping_sets_custom",
    oracle="""
    SELECT n.n_name AS nation, o.o_orderpriority AS priority,
           CAST(GROUPING(n.n_name) AS INT) AS g_nation,
           CAST(GROUPING(o.o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n.n_name, o.o_orderpriority),
                            (o.o_orderpriority), ())
    """,
    tags=("analytics", "agg", "extension"),
)
def grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79: hand-picked GROUPING SETS — (nation, priority), (priority),
    and the grand total, but NOT (nation): the asymmetric set list that
    neither ROLLUP (X14) nor CUBE (X26) can express, plus GROUPING()
    markers to distinguish "NULL because subtotal" from a NULL value.

    Plan: the same single Expand + one exchange as rollup/cube — the
    set list only changes the Expand projection count, not the shuffle
    count."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("o_orderpriority").alias("priority"),
        )
    )
    j.createOrReplaceTempView("_gs_src")
    return spark.sql(
        """
        SELECT nation, priority,
               CAST(GROUPING(nation) AS INT) AS g_nation,
               CAST(GROUPING(priority) AS INT) AS g_priority,
               COUNT(*) AS n_orders
        FROM _gs_src
        GROUP BY GROUPING SETS ((nation, priority), (priority), ())
        """
    )


# X87 — RFM customer segmentation -----------------------------------------
@query(
    "rfm_segmentation",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS c_custkey,
             CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                            (SELECT CAST(MAX(o_orderdate) AS DATE)
                             FROM orders)) AS BIGINT) AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
             || '-' || CAST(m_score AS VARCHAR) AS rfm
    FROM (
      SELECT *,
             CAST(ntile(4) OVER (ORDER BY recency_days, c_custkey)
                  AS INT) AS r_score,
             CAST(ntile(4) OVER (ORDER BY frequency DESC, c_custkey)
                  AS INT) AS f_score,
             CAST(ntile(4) OVER (ORDER BY monetary DESC, c_custkey)
                  AS INT) AS m_score
      FROM base
    )
    """,
    tags=("analytics", "segmentation", "extension"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X87: RFM segmentation — recency (days since last order, anchored
    to the corpus max date so the query is deterministic), frequency,
    monetary per customer, each quartile-scored (full custkey tiebreak
    → identical quartile boundaries in both engines) and composed into
    the classic 'R-F-M' segment label.

    The three quartile scores each ride the DISTRIBUTED rank
    (functions/windows.distributed_row_number + ntile_from_rank), so
    the growing customer dimension never funnels through one
    WindowExec task; the per-customer base frame is pinned once for
    its three rank passes and the final joins."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    anchor = o.agg(
        F.max(F.to_date("o_orderdate")).alias("anchor_day")
    )
    base = (
        o.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "c_custkey",
            F.datediff("anchor_day", "last_day")
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    base = base.localCheckpoint()

    def quartile(order_cols: list, out: str) -> DataFrame:
        r = distributed_row_number(base, order_cols, with_total="__n")
        return r.select(
            "c_custkey",
            ntile_from_rank(F.col("rn"), F.col("__n"), 4)
            .cast("int")
            .alias(out),
        )

    r_s = quartile([F.col("recency_days"), F.col("c_custkey")], "r_score")
    f_s = quartile([F.desc("frequency"), F.col("c_custkey")], "f_score")
    m_s = quartile([F.desc("monetary"), F.col("c_custkey")], "m_score")
    scored = base.join(r_s, "c_custkey").join(f_s, "c_custkey").join(
        m_s, "c_custkey"
    )
    return scored.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "-",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm"),
    )


# X143 — HLL sketch set algebra (union merge + inclusion-exclusion) --------
def _hll_est_sql(src: str, keys: str) -> str:
    """Estimate CTE body over a register table ``src`` grouped by
    ``keys`` — ONE definition of the estimate arithmetic shared by the
    per-type and the merged-union legs (register sum as the exact
    integer Σ2^(53-M_j), small-range correction, 4-dp round)."""
    return f"""
      SELECT {keys},
             CAST(ROUND(CAST(
               CASE WHEN raw <= {2.5 * _HLL_M} AND n_empty > 0
                    THEN {float(_HLL_M)} * ln({float(_HLL_M)} / n_empty)
                    ELSE raw END
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS est
      FROM (
        SELECT {keys},
               {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                 * CAST({_HLL_MAX_RHO_POW} AS DOUBLE)
                 / (CAST(SUM(CAST(POWER(2, 53 - m_j) AS BIGINT)) AS BIGINT)
                    + ({_HLL_M} - CAST(COUNT(*) AS BIGINT))
                      * CAST({_HLL_MAX_RHO_POW} AS BIGINT)) AS raw,
               {_HLL_M} - CAST(COUNT(*) AS BIGINT) AS n_empty
        FROM {src} GROUP BY {keys}
      )"""


@query(
    "hll_set_algebra",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr(md5('hll-' || CAST(user_id AS VARCHAR)),
                                  1, 2)) AS INT) % {_HLL_M} AS bucket,
             CAST(('0x' || substr(md5('hll-' || CAST(user_id AS VARCHAR)),
                                  3, 13)) AS BIGINT) AS v
      FROM events
    ),
    regs AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN v = 0 THEN 53
                      ELSE 53 - length(bin(v)) END) AS m_j
      FROM h GROUP BY event_type, bucket
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    uregs AS (
      SELECT p.ta, p.tb, r.bucket, MAX(r.m_j) AS m_j
      FROM pairs p JOIN regs r
        ON r.event_type = p.ta OR r.event_type = p.tb
      GROUP BY p.ta, p.tb, r.bucket
    ),
    e1 AS ({_hll_est_sql("regs", "event_type")}),
    eu AS ({_hll_est_sql("uregs", "ta, tb")}),
    du AS (SELECT DISTINCT event_type, user_id FROM events),
    exn AS (
      SELECT event_type, COUNT(*) AS n FROM du GROUP BY event_type
    ),
    exi AS (
      SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.ta AS type_a, p.tb AS type_b,
           ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
           CAST(ROUND(CAST(ea.est + eb.est - eu.est
                           AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS est_intersection,
           CAST(xa.n AS BIGINT) AS n_exact_a,
           CAST(xb.n AS BIGINT) AS n_exact_b,
           CAST(COALESCE(xi.n, 0) AS BIGINT) AS n_exact_both
    FROM pairs p
    JOIN e1 ea ON ea.event_type = p.ta
    JOIN e1 eb ON eb.event_type = p.tb
    JOIN eu ON eu.ta = p.ta AND eu.tb = p.tb
    JOIN exn xa ON xa.event_type = p.ta
    JOIN exn xb ON xb.event_type = p.tb
    LEFT JOIN exi xi ON xi.ta = p.ta AND xi.tb = p.tb
    """,
    tags=("analytics", "sketch", "extension"),
)
def hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X143: SKETCH SET ALGEBRA — the property that makes HLL an
    infrastructure primitive rather than a counter: registers MERGE by
    element-wise max (union is lossless), and intersections follow by
    inclusion-exclusion. For every event-type pair: est(A), est(B),
    est(A∪B) from the MERGED registers, est(A∩B) = est(A)+est(B)−
    est(A∪B), next to the exact answers (the calibration column —
    inclusion-exclusion error grows as the true intersection shrinks,
    and the report shows exactly that). Every estimate is the
    ``hll_explicit_registers`` arithmetic (one shared SQL fragment per
    engine), so the whole algebra is oracle-exact.

    Scale shape: per-type registers partial-aggregate map-side onto a
    fixed {_HLL_M}-cell grid — everything after the first agg operates
    on ≤ types×{_HLL_M} rows (type-cardinality-bounded, independent of
    event volume); the pair expansion is an OR-join over that tiny
    frame."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = F.md5(F.concat(F.lit("hll-"), F.col("user_id").cast("string")))
    bucket = (
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % _HLL_M
    ).alias("bucket")
    v = F.conv(F.substring(h, 3, 13), 16, 10).cast("bigint")
    rho = F.when(v == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(v)))
    # pinned once: consumed by BOTH union legs below plus est_of — each
    # replay would rescan events (types × _HLL_M rows, trivially small)
    regs = (
        ev.select("event_type", bucket, rho.alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_j"))
    ).localCheckpoint()

    def est_of(grouped: DataFrame, keys: list[str]) -> DataFrame:
        s = grouped.groupBy(*keys).agg(
            (
                F.sum(
                    F.pow(F.lit(2), F.lit(53) - F.col("m_j")).cast("bigint")
                ).cast("bigint")
                + (_HLL_M - F.count(F.lit(1)).cast("bigint"))
                * F.lit(_HLL_MAX_RHO_POW).cast("bigint")
            ).alias("denom"),
            F.count(F.lit(1)).cast("bigint").alias("n_filled"),
        )
        raw = (
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            * F.lit(float(_HLL_MAX_RHO_POW))
            / F.col("denom")
        )
        n_empty = F.lit(_HLL_M) - F.col("n_filled")
        corrected = F.when(
            (raw <= 2.5 * _HLL_M) & (n_empty > 0),
            F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / n_empty),
        ).otherwise(raw)
        return s.select(
            *keys,
            exact_round(corrected, 4).alias("est"),
        )

    types = regs.select("event_type").distinct()
    # the strict-inequality pair enumeration is inherently a (tiny)
    # nested-loop over the TYPE DIMENSION only (|types|² rows, never
    # event-scaled); pinned once for its three consumers.
    pairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
    ).localCheckpoint()
    # union of two EQUI-joins, not one OR-join: Spark can only plan an
    # OR predicate as a nested loop (cost ~cubic in type cardinality);
    # each leg here hash-joins on its own key, so the pair expansion
    # stays hash-planned if the type dimension ever grows (ADVICE r6).
    uregs = (
        pairs.join(regs, F.col("event_type") == F.col("ta"))
        .unionAll(pairs.join(regs, F.col("event_type") == F.col("tb")))
        .groupBy("ta", "tb", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    e1 = est_of(regs, ["event_type"])
    eu = est_of(uregs, ["ta", "tb"]).withColumnRenamed("est", "est_union")
    du = ev.distinct()
    exn = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    exi = (
        du.alias("a")
        .join(
            du.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ea = e1.select(F.col("event_type").alias("ta"), F.col("est").alias("est_a"))
    eb = e1.select(F.col("event_type").alias("tb"), F.col("est").alias("est_b"))
    xa = exn.select(F.col("event_type").alias("ta"), F.col("n").alias("n_exact_a"))
    xb = exn.select(F.col("event_type").alias("tb"), F.col("n").alias("n_exact_b"))
    return (
        pairs.join(ea, "ta")
        .join(eb, "tb")
        .join(eu, ["ta", "tb"])
        .join(xa, "ta")
        .join(xb, "tb")
        .join(exi, ["ta", "tb"], "left")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "est_a",
            "est_b",
            "est_union",
            exact_round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_intersection"),
            "n_exact_a",
            "n_exact_b",
            F.coalesce("n_both", F.lit(0)).cast("bigint").alias(
                "n_exact_both"
            ),
        )
    )


# X144 — equi-depth histogram ----------------------------------------------
#: bucket count for the equi-depth histogram.
EDH_BUCKETS = 8


def _edh_oracle() -> str:
    qlist = "[" + ", ".join(
        f"{i}.0/{EDH_BUCKETS}" for i in range(EDH_BUCKETS + 1)
    ) + "]"
    qs = ",\n             ".join(
        f"CAST(ROUND(CAST(qv[{i + 1}] AS DECIMAL(28,10)), 4) AS DOUBLE)"
        f" AS q{i}"
        for i in range(EDH_BUCKETS + 1)
    )
    ladder = "\n             ".join(
        (
            f"WHEN l_extendedprice <= b.q{i} THEN {i}"
            if i > 1
            else f"WHEN l_extendedprice <= b.q1 THEN 1"
        )
        for i in range(1, EDH_BUCKETS + 1)
    )
    return f"""
    WITH q AS (
      SELECT quantile_cont(l_extendedprice, {qlist}) AS qv FROM lineitem
    ),
    b AS (
      SELECT {qs}
      FROM q
    ),
    assigned AS (
      SELECT CASE
             {ladder}
             ELSE {EDH_BUCKETS} END AS bucket,
             l_extendedprice AS v
      FROM lineitem CROSS JOIN b
    ),
    bounds AS (
      SELECT u.i AS bucket,
             CASE u.i WHEN 1 THEN b.q0 {" ".join(f"WHEN {i} THEN b.q{i - 1}" for i in range(2, EDH_BUCKETS + 1))} END AS lo,
             CASE u.i {" ".join(f"WHEN {i} THEN b.q{i}" for i in range(1, EDH_BUCKETS + 1))} END AS hi
      FROM b CROSS JOIN UNNEST(range(1, {EDH_BUCKETS + 1})) AS u(i)
    )
    SELECT bo.bucket AS bucket, bo.lo, bo.hi,
           CAST(COUNT(a.v) AS BIGINT) AS n_rows,
           CAST(ROUND(CAST(CAST(COUNT(a.v) AS DOUBLE)
                           / (SELECT COUNT(*) FROM lineitem)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS share
    FROM bounds bo LEFT JOIN assigned a ON a.bucket = bo.bucket
    GROUP BY bo.bucket, bo.lo, bo.hi
    """


@query(
    "equi_depth_histogram",
    oracle=_edh_oracle(),
    tags=("analytics", "extension"),
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X144: EQUI-DEPTH histogram over order-line price — the
    histogram form query optimizers and skew diagnostics actually use
    (``value_histogram`` is the equi-WIDTH sibling): boundaries are
    the exact interpolated {EDH_BUCKETS}-quantiles, each bucket holds
    ≈ 1/{EDH_BUCKETS} of the rows (exactly, up to boundary ties), and
    the report emits (bucket, lo, hi, n_rows, share).

    Float discipline: boundaries are exact interpolated quantiles ==
    quantile_cont on identical 2-dp inputs, rounded 4 dp before the
    bucket compare (engine-identical ladder); i/{EDH_BUCKETS}
    fractions are exact binary.

    Plan: boundaries come from the TWO-PASS pruned exact quantile
    (functions/quantiles.py) — coarse fixed-width bucket counts, then
    per-bucket sorts of ONLY the boundary buckets — bit-identical to
    ``F.percentile`` (tests/test_two_pass_quantiles.py) but with NO
    full-column aggregation buffer: the single-buffer exact percentile
    this replaces held the whole column multiset in one agg state (the
    9-buffer form OOMed a default-heap session at sf0.1; the shared
    buffer was still O(n) — an executor OOM at 100x). Downstream
    unchanged: one scalar boundary row broadcast back onto the scan
    (crossJoin of a 1-row frame), bucket assignment fused into the
    projection, one partial-agg shuffle on the bucket id.

    n_total semantics (ADVICE r7): the share denominator is the
    NON-NULL count (exact_quantiles_two_pass counts like
    ``F.percentile``), not COUNT(*). Identical for TPC-H
    l_extendedprice (NOT NULL); if this histogram is ever pointed at a
    null-bearing column, the oracle must keep using COUNT(col) — not
    COUNT(*) — or shares drift."""
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    q = exact_quantiles_two_pass(
        li,
        "l_extendedprice",
        [i / EDH_BUCKETS for i in range(EDH_BUCKETS + 1)],
    )
    bounds = q.select(
        "n_total",
        *[
            exact_round(F.element_at("qv", i + 1), 4).alias(f"q{i}")
            for i in range(EDH_BUCKETS + 1)
        ]
    )
    # 1-row frame materialized once: both consumers (the bucket ladder
    # and the bucket-spine build) would otherwise each re-run the
    # percentile aggregate — a full extra scan of lineitem.
    bounds = bounds.localCheckpoint(eager=True)
    assigned = li.crossJoin(F.broadcast(bounds))
    ladder = F.when(F.col("l_extendedprice") <= F.col("q1"), F.lit(1))
    for i in range(2, EDH_BUCKETS + 1):
        ladder = ladder.when(
            F.col("l_extendedprice") <= F.col(f"q{i}"), F.lit(i)
        )
    ladder = ladder.otherwise(F.lit(EDH_BUCKETS))
    counts = (
        assigned.select(ladder.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    bkts = bounds.select(
        "n_total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bucket"),
                        F.col(f"q{i - 1}").alias("lo"),
                        F.col(f"q{i}").alias("hi"),
                    )
                    for i in range(1, EDH_BUCKETS + 1)
                ]
            )
        ).alias("b"),
    ).select(
        F.col("b.bucket").cast("bigint").alias("bucket"),
        "b.lo",
        "b.hi",
        "n_total",
    )
    return (
        bkts.join(counts, "bucket", "left")
        .select(
            "bucket",
            "lo",
            "hi",
            F.coalesce("n_rows", F.lit(0)).cast("bigint").alias("n_rows"),
            exact_round(
                F.coalesce("n_rows", F.lit(0)).cast("double")
                / F.col("n_total").cast("double"),
                4,
            ).alias("share"),
        )
    )


# X145 — robust (median/MAD) outlier detection -----------------------------
@query(
    "mad_robust_anomaly",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             median(ABS(e.value - m.med)) AS mad,
             MIN(m.med) AS med
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CAST(ROUND(CAST((e.value - s.med) / (1.4826 * s.mad)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS rz
    FROM events e JOIN mad s ON e.event_type = s.event_type
    WHERE s.mad > 0
      AND ABS((e.value - s.med) / (1.4826 * s.mad)) > 3.5
    """,
    tags=("analytics", "quality", "extension"),
)
def mad_robust_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X145: ROBUST per-type outliers via median/MAD — the estimator
    ``anomaly_zscore`` (X59) is not: mean and stddev are themselves
    dragged by the outliers they are meant to flag (masking), while
    the median and the median-absolute-deviation have a 50% breakdown
    point. rz = (x - median) / (1.4826·MAD) is the standard
    consistency-scaled robust z; |rz| > 3.5 is the Iglewicz-Hoaglin
    cut.

    Float discipline: both engines interpolate medians identically on
    identical doubles ((a+b)/2), the rz expression is one shared IEEE
    ordering, rounded to 4 dp via the decimal idiom only for output.

    Plan: two per-type aggs (|types| rows each, broadcast back) and a
    narrow filter — same two-pass shape as X59, no row-level
    shuffle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"),
        F.min("med").alias("med"),
    )
    rz = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        ev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.abs(rz) > 3.5))
        .select(
            "event_id",
            "event_type",
            "value",
            exact_round(rz, 4).alias("rz"),
        )
    )


# X147 — Bloom filter build + false-positive calibration -------------------
#: Bloom filter bit-array size (2^17) and hash-function count.
BLOOM_M = 131072
BLOOM_K = 4


def _bloom_pos_sql(key_expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('b' || CAST(u.i AS VARCHAR) || '-' "
        f"|| CAST({key_expr} AS VARCHAR)), 1, 12)) AS BIGINT) % {BLOOM_M}"
    )


@query(
    "bloom_calibration_report",
    oracle=f"""
    WITH members AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    probes AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '5-LOW'
    ),
    mpos AS (
      SELECT DISTINCT {_bloom_pos_sql('m.k')} AS pos
      FROM members m CROSS JOIN UNNEST(range(0, {BLOOM_K})) AS u(i)
    ),
    ppos AS (
      SELECT p.k, {_bloom_pos_sql('p.k')} AS pos
      FROM probes p CROSS JOIN UNNEST(range(0, {BLOOM_K})) AS u(i)
    ),
    hits AS (
      SELECT p.k, COUNT(m.pos) AS h
      FROM ppos p LEFT JOIN mpos m ON p.pos = m.pos
      GROUP BY p.k
    ),
    s AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM mpos) AS bits_set,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM hits
              WHERE h = {BLOOM_K}) AS fp_count
    )
    SELECT CAST({BLOOM_M} AS BIGINT) AS m_bits,
           CAST({BLOOM_K} AS BIGINT) AS k_hashes,
           n_members, n_probes, bits_set, fp_count,
           CAST(ROUND(CAST(CAST(fp_count AS DOUBLE)
                           / CAST(n_probes AS DOUBLE)
                           AS DECIMAL(28,10)), 8) AS DOUBLE) AS fpr_observed,
           CAST(ROUND(CAST(
             (CAST(bits_set AS DOUBLE) / {BLOOM_M}.0)
             * (CAST(bits_set AS DOUBLE) / {BLOOM_M}.0)
             * (CAST(bits_set AS DOUBLE) / {BLOOM_M}.0)
             * (CAST(bits_set AS DOUBLE) / {BLOOM_M}.0)
             AS DECIMAL(28,10)), 8) AS DOUBLE) AS fpr_expected
    FROM s
    """,
    tags=("analytics", "sketch", "extension"),
)
def bloom_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X147: BLOOM FILTER build + calibration — the sketch behind
    ``bloom_prune_join`` (X75) built from first principles (k={BLOOM_K}
    md5-slice hash positions into m={BLOOM_M} bits) and then AUDITED:
    a disjoint probe set (urgent vs low-priority orders never share an
    orderkey) measures the observed false-positive rate next to the
    expected rate for the REALIZED bit density, (bits_set/m)^k — the
    exact form, not the e^-kn/m approximation, so the comparison
    isolates hash-uniformity error only. The ``minhash_calibration_
    report`` (X135) discipline applied to the membership sketch: the
    audit that justifies trusting the filter's prune decisions.

    Float discipline: the density power is an explicit 4-term product
    (one IEEE ordering, no pow/exp — libm differs across engines);
    ratios rounded 8 dp via the decimal idiom.

    Plan: the bit array is the DISTINCT of member positions — bounded
    by the constant m = {BLOOM_M} regardless of corpus size, so the
    probe membership check is an equi-join against a fixed-size frame
    (broadcast at deploy). Position math is a narrow explode x{BLOOM_K}
    projection; the only row-scale exchanges are the distinct and the
    per-probe-key hit count, both carrying (bigint, int) only."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )

    def positions(df: DataFrame) -> DataFrame:
        return df.select(
            "k",
            F.explode(
                F.array(*[F.lit(i) for i in range(BLOOM_K)])
            ).alias("i"),
        ).select(
            "k",
            (
                md5_int(
                    F.concat(
                        F.lit("b"),
                        F.col("i").cast("string"),
                        F.lit("-"),
                        F.col("k").cast("string"),
                    ),
                    12,
                ).cast("bigint")
                % BLOOM_M
            ).alias("pos"),
        )

    members = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_orderkey").alias("k"))
    probes = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_orderkey").alias("k")
    )
    bits = positions(members).select("pos").distinct()
    hits = (
        positions(probes)
        .join(bits.withColumn("hit", F.lit(1)), "pos", "left")
        .groupBy("k")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("h"))
    )
    scalars = (
        members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .crossJoin(
            probes.agg(F.count(F.lit(1)).cast("bigint").alias("n_probes"))
        )
        .crossJoin(
            bits.agg(F.count(F.lit(1)).cast("bigint").alias("bits_set"))
        )
        .crossJoin(
            hits.filter(F.col("h") == BLOOM_K).agg(
                F.count(F.lit(1)).cast("bigint").alias("fp_count")
            )
        )
    )
    density = F.col("bits_set").cast("double") / float(BLOOM_M)
    return scalars.select(
        F.lit(BLOOM_M).cast("bigint").alias("m_bits"),
        F.lit(BLOOM_K).cast("bigint").alias("k_hashes"),
        "n_members",
        "n_probes",
        "bits_set",
        "fp_count",
        exact_round(
            F.col("fp_count").cast("double") / F.col("n_probes").cast("double"), 8
        ).alias("fpr_observed"),
        exact_round(density * density * density * density, 8).alias("fpr_expected"),
    )


# X150 — skyline (Pareto frontier) query -----------------------------------
@query(
    "skyline_pareto_orders",
    oracle="""
    WITH g AS (
      SELECT o_totalprice AS p, max(o_orderdate) AS gd
      FROM orders GROUP BY o_totalprice
    ),
    m AS (
      SELECT p, gd,
             max(gd) OVER (ORDER BY p DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS mgt
      FROM g
    )
    SELECT o.o_orderkey, o.o_totalprice AS price,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders o JOIN m ON o.o_totalprice = m.p
    WHERE (m.mgt IS NULL OR m.mgt < o.o_orderdate)
      AND o.o_orderdate = m.gd
    """,
    tags=("analytics", "extension"),
)
def skyline_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X150: SKYLINE / Pareto-frontier query (Börzsönyi et al. 2001)
    — the preference-query family engines special-case with dedicated
    operators: the orders not STRICTLY DOMINATED on (totalprice,
    orderdate), i.e. no other order is >= on both dims and > on at
    least one. The frontier is what "show me the best trade-offs"
    dashboards and multi-objective curation cuts consume; naive
    evaluation is the O(n^2) NOT-EXISTS self-join.

    Shape: the 2-D skyline reduces to a PREFIX MAX — group rows by
    price (max date per distinct price), scan groups in descending
    price order keeping a running max of date; a row survives iff its
    date beats every higher-price group's max and is its own group's
    max. That prefix runs DISTRIBUTED, never as a global sort-window:
    ``functions/windows.range_carry``'s ``prior_max`` over
    ``desc(price)`` (per-partition running max, then a carry of
    per-partition maxima, one row per range partition; carry window
    allowlisted). The final attach is one equi-join on price carrying
    (double, date, date) — no text, no all-pairs, no global sort at
    any scale.

    Both engines compare unrounded values of identical provenance
    (parquet doubles/dates compared, never arithmetic) — no float
    ladder needed."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    g = orders.groupBy(F.col("o_totalprice").alias("p")).agg(
        F.max("o_orderdate").alias("gd")
    )
    m, _ = range_carry(
        g, [], [F.col("p").desc()], prior_max={"mgt": F.col("gd")}
    )
    return (
        orders.join(m, orders.o_totalprice == m.p)
        .filter(
            (F.col("mgt").isNull() | (F.col("mgt") < F.col("o_orderdate")))
            & (F.col("o_orderdate") == F.col("gd"))
        )
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


# X151 — join-cardinality estimation calibration ---------------------------
#: user-sampling modulus for the sampled estimator (p = 1/16).
JSE_MOD = 16


@query(
    "join_size_estimate_report",
    oracle=f"""
    WITH cnt AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, user_id
    ),
    per AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n * n) AS BIGINT) AS exact_pairs,
             CAST({JSE_MOD} AS DOUBLE) * CAST(SUM(
               CASE WHEN CAST(('0x' || substr(
                      md5('js-' || CAST(user_id AS VARCHAR)), 1, 7))
                      AS BIGINT) % {JSE_MOD} = 0
                    THEN n * n ELSE 0 END) AS DOUBLE) AS est_sample_pairs
      FROM cnt GROUP BY event_type
    )
    SELECT event_type, n_rows, n_users, exact_pairs, est_sample_pairs,
           CAST(ROUND(CAST(
             CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
             / CAST(n_users AS DOUBLE)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS est_uniform_pairs,
           CAST(ROUND(CAST(
             ABS(est_sample_pairs - CAST(exact_pairs AS DOUBLE))
             / CAST(exact_pairs AS DOUBLE)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS err_sample,
           CAST(ROUND(CAST(
             ABS(CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
                 / CAST(n_users AS DOUBLE)
                 - CAST(exact_pairs AS DOUBLE))
             / CAST(exact_pairs AS DOUBLE)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS err_uniform
    FROM per
    """,
    tags=("analytics", "optimizer", "extension"),
)
def join_size_estimate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X151: JOIN-CARDINALITY estimation calibration — the statistic a
    cost-based optimizer needs before picking a join strategy: the
    self-join size on user_id per event type (sum over users of n_u^2,
    the frequency second moment F2) ESTIMATED two standard ways and
    scored against the exact answer. (a) key-sampling: each USER is
    kept with p=1/{JSE_MOD} by content hash and its contribution
    scaled 1/p — sampling keys (not rows) keeps the estimator
    unbiased for F2; (b) uniformity: n_rows^2 / n_distinct_users, the
    textbook formula whose error IS the skew the report exposes.

    Determinism: the "sample" is the md5 idiom, so the oracle states
    it exactly; every ratio is one shared IEEE ordering rounded 4 dp.

    Plan: one (type, user) partial-agg exchange, then per-type aggs —
    the sample estimator folds into the SAME aggregate (a CASE term),
    so calibration costs no extra pass. At 100 TB the exact column is
    dropped and the sampled sketch (|users|/16 rows) is the artifact;
    the plan is unchanged."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    cnt = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    sampled = (
        md5_int(
            F.concat(F.lit("js-"), F.col("user_id").cast("string")), 7
        ).cast("bigint")
        % JSE_MOD
        == 0
    )
    per = cnt.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("exact_pairs"),
        (
            F.lit(float(JSE_MOD))
            * F.sum(
                F.when(sampled, F.col("n") * F.col("n")).otherwise(F.lit(0))
            ).cast("double")
        ).alias("est_sample_pairs"),
    )
    uni = (
        F.col("n_rows").cast("double")
        * F.col("n_rows").cast("double")
        / F.col("n_users").cast("double")
    )
    return per.select(
        "event_type",
        "n_rows",
        "n_users",
        "exact_pairs",
        "est_sample_pairs",
        exact_round(uni, 4).alias("est_uniform_pairs"),
        exact_round(
            F.abs(
                F.col("est_sample_pairs")
                - F.col("exact_pairs").cast("double")
            )
            / F.col("exact_pairs").cast("double"),
            4,
        ).alias("err_sample"),
        exact_round(
            F.abs(uni - F.col("exact_pairs").cast("double"))
            / F.col("exact_pairs").cast("double"),
            4,
        ).alias("err_uniform"),
    )


# X154 — Benford first-digit audit -----------------------------------------
#: Benford expected first-digit probabilities log10(1+1/d), 5 dp
#: literals so both engines parse identical doubles (no libm log10).
BENFORD_P = (
    (1, 0.30103),
    (2, 0.17609),
    (3, 0.12494),
    (4, 0.09691),
    (5, 0.07918),
    (6, 0.06695),
    (7, 0.05799),
    (8, 0.05115),
    (9, 0.04576),
)


@query(
    "benford_digit_audit",
    oracle=f"""
    WITH exp_p AS (
      SELECT * FROM (VALUES
        {", ".join(
            f"(CAST({d} AS BIGINT), CAST({p} AS DOUBLE))"
            for d, p in BENFORD_P
        )}
      ) AS t(digit, p_benford)
    ),
    obs AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM orders GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM orders)
    SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs,
           CAST(ROUND(CAST(CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
                           / CAST(n.n_total AS DOUBLE)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS share_obs,
           e.p_benford,
           CAST(ROUND(CAST(
             (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
              - e.p_benford * CAST(n.n_total AS DOUBLE))
             * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
                - e.p_benford * CAST(n.n_total AS DOUBLE))
             / (e.p_benford * CAST(n.n_total AS DOUBLE))
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS chi2_term
    FROM exp_p e LEFT JOIN obs o ON e.digit = o.digit
    CROSS JOIN n
    """,
    tags=("analytics", "quality", "extension"),
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X154: BENFORD'S-LAW first-digit audit over order values — the
    forensic-accounting / synthetic-data smell test: naturally grown
    multiplicative quantities put digit d first with probability
    log10(1+1/d); a flat or spiked distribution flags fabricated or
    truncated data. Per digit: observed count and share, the Benford
    expectation, and the chi-squared term — the audit's test statistic
    is the sum of the column.

    Float discipline: the expectations are 5-dp literal constants
    (never libm log10 — it differs across engines); the first digit
    comes from integer->string casting (identical formatting), never
    floating log/pow; chi2 terms are one shared IEEE ordering rounded
    4 dp. The digit spine is a literal VALUES frame so zero-count
    digits still report.

    Plan: one narrow digit projection + a 9-group partial agg; the
    9-row spine and the 1-row total broadcast. Cost is one scan
    regardless of scale."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    obs = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    n = orders.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    spine = spark.createDataFrame(
        [(d, p) for d, p in BENFORD_P], "digit bigint, p_benford double"
    )
    n_obs = F.coalesce("n_obs", F.lit(0)).cast("bigint")
    dev = n_obs.cast("double") - F.col("p_benford") * F.col(
        "n_total"
    ).cast("double")
    return (
        spine.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            n_obs.alias("n_obs"),
            exact_round(
                n_obs.cast("double") / F.col("n_total").cast("double"), 4
            ).alias("share_obs"),
            "p_benford",
            exact_round(
                dev * dev / (F.col("p_benford") * F.col("n_total").cast("double")), 4
            ).alias("chi2_term"),
        )
    )


# X157 — KMV (bottom-k) distinct sketch, oracle-exact ----------------------
#: KMV sketch size (bottom-k order statistics of the hash ring).
KMV_K = 32
#: hash-ring denominator: 13 hex chars = 52 bits, exact in a double.
_KMV_DENOM = float(1 << 52)


@query(
    "kmv_distinct_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, user_id,
             CAST(('0x' || substr(md5('kmv-' || CAST(user_id AS VARCHAR)),
                                  1, 13)) AS BIGINT) AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv)
               AS rk
      FROM h
    ),
    kth AS (
      SELECT event_type, MAX(hv) AS hk,
             CAST(COUNT(*) AS BIGINT) AS n_in_sketch
      FROM r WHERE rk <= {KMV_K} GROUP BY event_type
    ),
    ex AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT k.event_type,
           k.n_in_sketch,
           CASE WHEN k.n_in_sketch < {KMV_K}
                THEN CAST(k.n_in_sketch AS DOUBLE)
                ELSE CAST(ROUND(CAST(
                  CAST({KMV_K - 1} AS DOUBLE)
                  / (CAST(k.hk AS DOUBLE) / {_KMV_DENOM})
                  AS DECIMAL(28,10)), 4) AS DOUBLE) END AS est_distinct,
           ex.n_exact,
           CASE WHEN k.n_in_sketch < {KMV_K}
                THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(ROUND(CAST(
                  ABS(CAST({KMV_K - 1} AS DOUBLE)
                      / (CAST(k.hk AS DOUBLE) / {_KMV_DENOM})
                      - CAST(ex.n_exact AS DOUBLE))
                  / CAST(ex.n_exact AS DOUBLE)
                  AS DECIMAL(28,10)), 4) AS DOUBLE) END AS rel_err
    FROM kth k JOIN ex ON k.event_type = ex.event_type
    """,
    tags=("analytics", "sketch", "extension"),
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X157: KMV / bottom-k distinct sketch (Bar-Yossef et al.) — the
    THIRD distinct-counting family here next to the HLL register pair
    (X23/X77) and exact counts: keep the {KMV_K} smallest values of a
    uniform hash ring per group; est = (k-1)/h_(k), the classic
    order-statistics estimator. KMV is what HLL is not: MERGEABLE BY
    UNION *and* able to estimate intersections/Jaccard directly (the
    bottom-k sets are themselves a sample), which is why theta-sketch
    engines build on it. Like X77, the sketch is md5-deterministic, so
    even the APPROXIMATION is oracle-exact; the exact count and
    relative error sit beside it (X135 calibration discipline).

    Saturated-vs-small split: below k the sketch IS the exact set
    (est = n, err = 0 by definition).

    Plan: distinct (type, user) partial-agg, then a per-type ranking
    window whose state is bounded at {KMV_K} rows per group via
    WindowGroupLimit pushdown (rk <= k filter directly above the
    window); everything downstream operates on <= |types|·{KMV_K}
    rows. At 100 TB the ring hash partial-aggregates map-side; no
    corpus-sized state anywhere."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = ev.distinct().select(
        "event_type",
        "user_id",
        md5_int(F.concat(F.lit("kmv-"), F.col("user_id").cast("string")), 13)
        .cast("bigint")
        .alias("hv"),
    )
    w = Window.partitionBy("event_type").orderBy("hv")
    kth = (
        h.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KMV_K)
        .groupBy("event_type")
        .agg(
            F.max("hv").alias("hk"),
            F.count(F.lit(1)).cast("bigint").alias("n_in_sketch"),
        )
    )
    ex = ev.distinct().groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    est = F.lit(float(KMV_K - 1)) / (
        F.col("hk").cast("double") / F.lit(_KMV_DENOM)
    )
    return kth.join(ex, "event_type").select(
        "event_type",
        "n_in_sketch",
        F.when(
            F.col("n_in_sketch") < KMV_K,
            F.col("n_in_sketch").cast("double"),
        )
        .otherwise(exact_round(est, 4))
        .alias("est_distinct"),
        "n_exact",
        F.when(F.col("n_in_sketch") < KMV_K, F.lit(0.0))
        .otherwise(
            exact_round(
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                4,
            )
        )
        .alias("rel_err"),
    )


# X158 — exact-arithmetic OLS trend per group ------------------------------
@query(
    "trend_regression_per_type",
    oracle="""
    WITH a AS (SELECT MIN(epoch_us(ts)) AS x0 FROM events),
    t AS (
      SELECT event_type,
             CAST(((epoch_us(ts) - a.x0)
                   - ((epoch_us(ts) - a.x0) % 1000000))
                  / 1000000 AS BIGINT) AS x,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events CROSS JOIN a
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(CAST(x * x AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(28,0)) * y)
                  AS DECIMAL(38,2)) AS sxy,
             CAST(SUM(y * y) AS DECIMAL(38,4)) AS syy
      FROM t GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(ROUND(CAST(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             AS DECIMAL(38,20)), 18) AS DOUBLE) AS slope_per_sec,
           CAST(ROUND(CAST(
             (CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS intercept,
           CAST(ROUND(CAST(
             ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS r2
    FROM s
    """,
    tags=("analytics", "extension"),
)
def trend_regression_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X158: per-type OLS TREND — slope/intercept/R^2 of value vs time,
    the drift detector behind telemetry dashboards. The float
    discipline makes even REGRESSION oracle-exact: every sufficient
    statistic is EXACT arithmetic (x = epoch-second offsets are
    bigints; y has 2 decimal digits, so DECIMAL sums and products are
    exact; syy at 4 digits) — only the final closed-form ratios touch
    doubles, in one shared IEEE ordering, rounded via the decimal
    idiom (slope at 18 dp: per-second slopes over a year-long span are
    ~1e-8). Never `regr_slope` on either engine — their summation
    orders differ.

    Plan: one partial-agg exchange per type (six scalars per group);
    the min-epoch anchor is a 1-row broadcast. Sufficient statistics
    partial-aggregate map-side — the same shape at any scale."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    anchor = ev.agg(F.min(epoch_us("ts")).alias("x0"))
    us = epoch_us("ts") - F.col("x0")
    # exact integer seconds: strip the sub-second remainder, THEN divide
    # — the quotient is an exact small-integer double on both engines
    # (floor-of-double-division can round up at integer boundaries).
    t = ev.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        ((us - us % 1000000) / 1000000).cast("bigint").alias("x"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )
    s = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum("y").cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("x").cast("decimal(28,0)") * F.col("y"))
        .cast("decimal(38,2)")
        .alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,4)").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    syyd = F.col("syy").cast("double")
    num = nd * sxyd - sxd * syd
    den = nd * sxxd - sxd * sxd
    slope = num / den
    return s.select(
        "event_type",
        "n",
        F.round(slope.cast("decimal(38,20)"), 18)
        .cast("double")
        .alias("slope_per_sec"),
        exact_round((syd - slope * sxd) / nd, 4).alias("intercept"),
        exact_round((num * num) / (den * (nd * syyd - syd * syd)), 4).alias("r2"),
    )


# X161 — jackknife CI for distributed means --------------------------------
#: delete-one-group jackknife fold count (one hex nibble).
JK_GROUPS = 16


@query(
    "jackknife_mean_ci",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(('0x' || substr(md5('jk-' || CAST(event_id AS VARCHAR)),
                                  1, 1)) AS BIGINT) AS g,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events
    ),
    pg AS (
      SELECT event_type, g, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(y) AS DECIMAL(38,2)) AS s_g
      FROM b GROUP BY event_type, g
    ),
    tot AS (
      SELECT event_type, CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS DECIMAL(38,2)) AS s
      FROM pg GROUP BY event_type
    ),
    mg AS (
      SELECT p.event_type,
             CAST(ROUND(CAST(
               CAST(t.s - p.s_g AS DOUBLE) / CAST(t.n - p.n_g AS DOUBLE)
               AS DECIMAL(18,12)), 12) AS DECIMAL(18,12)) AS m_g
      FROM pg p JOIN tot t ON p.event_type = t.event_type
    ),
    sm AS (
      SELECT event_type, CAST(SUM(m_g) AS DECIMAL(38,12)) AS sm,
             CAST(COUNT(*) AS BIGINT) AS gn
      FROM mg GROUP BY event_type
    ),
    dev AS (
      SELECT m.event_type,
             CAST(ROUND(CAST(
               (CAST(m.m_g AS DOUBLE)
                - CAST(s.sm AS DOUBLE) / CAST(s.gn AS DOUBLE))
               * (CAST(m.m_g AS DOUBLE)
                  - CAST(s.sm AS DOUBLE) / CAST(s.gn AS DOUBLE))
               AS DECIMAL(28,20)), 18) AS DECIMAL(28,20)) AS d2
      FROM mg m JOIN sm s ON m.event_type = s.event_type
    ),
    v AS (
      SELECT event_type, CAST(SUM(d2) AS DECIMAL(38,20)) AS sd2
      FROM dev GROUP BY event_type
    )
    SELECT t.event_type, t.n,
           CAST(ROUND(CAST(CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS mean_value,
           CAST(ROUND(CAST(
             sqrt(CAST(s.gn - 1 AS DOUBLE) / CAST(s.gn AS DOUBLE)
                  * CAST(v.sd2 AS DOUBLE))
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS se_jack,
           CAST(ROUND(CAST(
             CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)
             - 1.96 * sqrt(CAST(s.gn - 1 AS DOUBLE) / CAST(s.gn AS DOUBLE)
                           * CAST(v.sd2 AS DOUBLE))
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS ci_lo,
           CAST(ROUND(CAST(
             CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)
             + 1.96 * sqrt(CAST(s.gn - 1 AS DOUBLE) / CAST(s.gn AS DOUBLE)
                           * CAST(v.sd2 AS DOUBLE))
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS ci_hi
    FROM tot t
    JOIN sm s ON t.event_type = s.event_type
    JOIN v ON t.event_type = v.event_type
    """,
    tags=("analytics", "extension"),
)
def jackknife_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X161: DELETE-GROUP JACKKNIFE confidence interval for per-type
    means — uncertainty quantification designed FOR distributed
    execution: rows hash into {JK_GROUPS} folds (md5, deterministic),
    leave-one-fold-out means m_g come from the fold partial sums
    already computed for the global mean, and the jackknife variance
    (G-1)/G · Σ(m_g − m̄)² prices the sampling error of the mean
    itself. The CI a dashboard should draw instead of a bare average.

    Float discipline: fold sums are exact DECIMAL(38,2) (2-dp values);
    m_g and the squared deviations are rounded to decimal constants
    before their sums (order-independent); sqrt is IEEE
    correctly-rounded on both engines (unlike exp/log, it is safe).

    Plan: one (type, fold) partial-agg exchange (≤ |types|·{JK_GROUPS}
    rows), everything downstream operates on that tiny frame —
    uncertainty costs one extra tiny reduction, not a second corpus
    pass. Bootstrap would need B full resamples; the jackknife is the
    distributed-friendly form."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    b = ev.select(
        "event_type",
        md5_int(F.concat(F.lit("jk-"), F.col("event_id").cast("string")), 1)
        .cast("bigint")
        .alias("g"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )
    pg = b.groupBy("event_type", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("y").cast("decimal(38,2)").alias("s_g"),
    )
    tot = pg.groupBy("event_type").agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("decimal(38,2)").alias("s"),
    )
    mg = pg.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.round(
            (
                (F.col("s") - F.col("s_g")).cast("double")
                / (F.col("n") - F.col("n_g")).cast("double")
            ).cast("decimal(18,12)"),
            12,
        )
        .cast("decimal(18,12)")
        .alias("m_g"),
    )
    sm = mg.groupBy("event_type").agg(
        F.sum("m_g").cast("decimal(38,12)").alias("sm"),
        F.count(F.lit(1)).cast("bigint").alias("gn"),
    )
    mbar = F.col("sm").cast("double") / F.col("gn").cast("double")
    dev = mg.join(F.broadcast(sm), "event_type").select(
        "event_type",
        F.round(
            (
                (F.col("m_g").cast("double") - mbar)
                * (F.col("m_g").cast("double") - mbar)
            ).cast("decimal(28,20)"),
            18,
        )
        .cast("decimal(28,20)")
        .alias("d2"),
    )
    v = dev.groupBy("event_type").agg(
        F.sum("d2").cast("decimal(38,20)").alias("sd2")
    )
    se = F.sqrt(
        (F.col("gn") - 1).cast("double")
        / F.col("gn").cast("double")
        * F.col("sd2").cast("double")
    )
    mean_d = F.col("s").cast("double") / F.col("n").cast("double")
    return (
        tot.join(F.broadcast(sm), "event_type")
        .join(F.broadcast(v), "event_type")
        .select(
            "event_type",
            "n",
            exact_round(mean_d, 4).alias("mean_value"),
            exact_round(se, 6).alias("se_jack"),
            exact_round(mean_d - 1.96 * se, 4).alias("ci_lo"),
            exact_round(mean_d + 1.96 * se, 4).alias("ci_hi"),
        )
    )


# X172 — chi-squared independence test --------------------------------------
@query(
    "chi2_independence_test",
    oracle="""
    WITH c AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM documents GROUP BY lang, source
    ),
    rl AS (SELECT lang, CAST(SUM(n_obs) AS BIGINT) AS r FROM c GROUP BY lang),
    cs AS (SELECT source, CAST(SUM(n_obs) AS BIGINT) AS s
           FROM c GROUP BY source),
    n AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM c)
    SELECT rl.lang, cs.source,
           COALESCE(c.n_obs, 0) AS n_obs,
           CAST(ROUND(CAST(
             CAST(rl.r AS DOUBLE) * CAST(cs.s AS DOUBLE)
             / CAST(n.n AS DOUBLE)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS expected,
           CAST(ROUND(CAST(
             (CAST(COALESCE(c.n_obs, 0) AS DOUBLE)
              - CAST(rl.r AS DOUBLE) * CAST(cs.s AS DOUBLE)
                / CAST(n.n AS DOUBLE))
             * (CAST(COALESCE(c.n_obs, 0) AS DOUBLE)
                - CAST(rl.r AS DOUBLE) * CAST(cs.s AS DOUBLE)
                  / CAST(n.n AS DOUBLE))
             / (CAST(rl.r AS DOUBLE) * CAST(cs.s AS DOUBLE)
                / CAST(n.n AS DOUBLE))
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS chi2_term
    FROM rl CROSS JOIN cs
    LEFT JOIN c ON c.lang = rl.lang AND c.source = cs.source
    CROSS JOIN n
    """,
    tags=("analytics", "statistics", "extension"),
)
def chi2_independence_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X172: CHI-SQUARED independence test over the lang × source
    contingency table — "does language mix depend on source?", the
    categorical association test behind corpus composition monitoring
    (X154 Benford is its one-margin sibling). Per cell: observed,
    expected under independence (row·col/N), and the chi² term; Σ of
    the column against the (|langs|−1)(|sources|−1)-dof critical value
    is the test. The full spine (row totals × col totals) keeps
    zero-count cells in the table — dropping them would bias the
    statistic exactly when dependence is strongest.

    Plan: one (lang, source) partial agg builds the contingency table;
    margins reduce FROM that table (never a second scan); the spine is
    a margins cross join (|langs|·|sources| rows) with totals
    broadcast. One corpus pass at any scale."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    rl = c.groupBy("lang").agg(F.sum("n_obs").cast("bigint").alias("r"))
    cs = c.groupBy("source").agg(F.sum("n_obs").cast("bigint").alias("s"))
    n = c.agg(F.sum("n_obs").cast("bigint").alias("n"))
    e = (
        F.col("r").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    n_obs = F.coalesce("n_obs", F.lit(0)).cast("bigint")
    dev = n_obs.cast("double") - e
    return (
        rl.crossJoin(cs)
        .join(c, ["lang", "source"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            n_obs.alias("n_obs"),
            exact_round(e, 4).alias("expected"),
            exact_round(dev * dev / e, 6).alias("chi2_term"),
        )
    )


# X173 — two-sample Kolmogorov-Smirnov test ---------------------------------
#: the two compared language strata and the 95% KS coefficient.
KS_LANG_A = "en"
KS_LANG_B = "de"
KS_COEF_95 = 1.36


@query(
    "ks_test_report",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             CAST(len(regexp_extract_all(lower(text), '\\S+')) AS BIGINT)
               AS x
      FROM documents WHERE lang IN ('{KS_LANG_A}', '{KS_LANG_B}')
    ),
    c AS (
      SELECT x,
             CAST(SUM(CASE WHEN lang = '{KS_LANG_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN lang = '{KS_LANG_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM t GROUP BY x
    ),
    cum AS (
      SELECT x,
             CAST(SUM(ca) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_b
      FROM c
    ),
    nn AS (
      SELECT (SELECT CAST(SUM(ca) AS BIGINT) FROM c) AS n_a,
             (SELECT CAST(SUM(cb) AS BIGINT) FROM c) AS n_b
    ),
    d AS (
      SELECT MAX(ABS(CAST(cum_a AS DOUBLE) / CAST(nn.n_a AS DOUBLE)
                     - CAST(cum_b AS DOUBLE) / CAST(nn.n_b AS DOUBLE)))
               AS ks_d
      FROM cum CROSS JOIN nn
    )
    SELECT nn.n_a, nn.n_b,
           CAST(ROUND(CAST(d.ks_d AS DECIMAL(28,10)), 6) AS DOUBLE) AS ks_d,
           CAST(ROUND(CAST(
             {KS_COEF_95} * sqrt(CAST(nn.n_a + nn.n_b AS DOUBLE)
                                 / (CAST(nn.n_a AS DOUBLE)
                                    * CAST(nn.n_b AS DOUBLE)))
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS ks_crit_95,
           d.ks_d > {KS_COEF_95} * sqrt(CAST(nn.n_a + nn.n_b AS DOUBLE)
                                        / (CAST(nn.n_a AS DOUBLE)
                                           * CAST(nn.n_b AS DOUBLE)))
             AS reject_same_dist
    FROM d CROSS JOIN nn
    """,
    tags=("analytics", "statistics", "extension"),
)
def ks_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X173: two-sample KOLMOGOROV-SMIRNOV test — do '{KS_LANG_A}' and
    '{KS_LANG_B}' documents draw their lengths from the same
    distribution? D = max |ECDF_a − ECDF_b|, the distribution-free
    drift test that catches shape changes a mean/variance comparison
    misses (PSI's X166 sibling with an exact null threshold instead of
    a rule of thumb). Entirely libm-free: ECDFs are exact integer
    ratios, the 95% threshold is the 1.36·sqrt((n_a+n_b)/(n_a·n_b))
    asymptotic form (sqrt is IEEE correctly-rounded).

    Scale shape — the ECDF prefix WITHOUT a global sort-window: value
    counts partial-aggregate per distinct length, then the cumulative
    pair runs as ONE ``functions/windows.range_carry`` pass with two
    running sums (per-partition sums + a one-row-per-partition carry;
    carry window allowlisted). The max-D reduction is an ordinary
    aggregate. Ids and ints only on the wire."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin(KS_LANG_A, KS_LANG_B)
    )
    t = docs.select(
        "lang",
        F.size(tokens()).cast("long").alias("x"),
    )
    c = t.groupBy("x").agg(
        F.sum(F.when(F.col("lang") == KS_LANG_A, 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("lang") == KS_LANG_B, 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    cum, _ = range_carry(
        c, [], ["x"], {"cum_a": F.col("ca"), "cum_b": F.col("cb")}
    )
    nn = c.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    d = (
        cum.crossJoin(F.broadcast(nn))
        .agg(
            F.max(
                F.abs(
                    F.col("cum_a").cast("double")
                    / F.col("n_a").cast("double")
                    - F.col("cum_b").cast("double")
                    / F.col("n_b").cast("double")
                )
            ).alias("ks_d")
        )
    )
    crit = F.lit(KS_COEF_95) * F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return d.crossJoin(F.broadcast(nn)).select(
        "n_a",
        "n_b",
        exact_round(F.col("ks_d"), 6).alias("ks_d"),
        exact_round(crit, 6).alias("ks_crit_95"),
        (F.col("ks_d") > crit).alias("reject_same_dist"),
    )


# X175 — BFS reachability over the transaction graph ------------------------
#: BFS depth (unrolled hops).
BFS_HOPS = 3


def _bfs_oracle() -> str:
    edges = """
    e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT 'C' || CAST(c AS VARCHAR) AS src,
             'S' || CAST(s AS VARCHAR) AS dst FROM e0
      UNION ALL
      SELECT 'S' || CAST(s AS VARCHAR), 'C' || CAST(c AS VARCHAR) FROM e0
    ),
    f0 AS (
      SELECT DISTINCT 'S' || CAST(s_suppkey AS VARCHAR) AS node
      FROM supplier
      WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
    ),
    v0 AS (SELECT node FROM f0)"""
    hops = []
    for k in range(1, BFS_HOPS + 1):
        hops.append(f"""
    f{k} AS (
      SELECT DISTINCT e.dst AS node
      FROM edges e JOIN f{k - 1} p ON e.src = p.node
      EXCEPT
      SELECT node FROM v{k - 1}
    ),
    v{k} AS (SELECT node FROM v{k - 1}
             UNION SELECT node FROM f{k})""")
    selects = "\n    UNION ALL\n".join(
        f"""
    SELECT CAST({k} AS BIGINT) AS hop,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(COALESCE(SUM(CASE WHEN node LIKE 'C%' THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_customers,
           CAST(COALESCE(SUM(CASE WHEN node LIKE 'S%' THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_suppliers
    FROM f{k}"""
        for k in range(BFS_HOPS + 1)
    )
    return f"WITH {edges},{','.join(hops)}\n{selects}"


@query(
    "bfs_reachability",
    oracle=_bfs_oracle(),
    tags=("analytics", "graph", "extension"),
)
def bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X175: BFS FRONTIER EXPANSION over the customer–supplier
    transaction graph — the third iterative-graph shape in the engine
    next to PageRank propagation (X76) and large/small-star
    components (X33): per hop from the lowest-nation supplier seed set
    (MIN(s_nationkey) — non-empty at every SF, unlike a hard-coded
    nation id), the
    newly reached nodes (split by side). The supply-chain
    blast-radius / KYC-exposure query; on a bipartite transaction
    graph it also measures market concentration (how fast one
    nation's suppliers reach the whole economy).

    Scale shape: each hop is one edge-list equi-join on the frontier
    (frontier-sized, not graph-sized), a DISTINCT, and an anti-join
    against the visited set — the iterative semi-join pattern of
    Pregel-style BFS with frontiers materialized between hops
    (localCheckpoint; at deploy, persisted). Edges build once from
    one orders⋈lineitem pass and shuffle only (src, dst) short
    strings. Visited grows monotonically and is itself the hop-k
    result — no driver-side adjacency ever."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    # r11 (guide §2.3/§2.4): nodes travel as BIGINTs — customer c ↦ 2c,
    # supplier s ↦ 2s+1 (bijective; parity recovers the side) — instead
    # of 'C…'/'S…' strings: every per-hop join/distinct/anti-join hashes
    # and compares 8-byte longs, not short strings. The union previously
    # re-ran the orders⋈lineitem distinct TWICE (two 117 MB-input scan
    # stages per run, measured): e0 now materializes once and both
    # union legs read the checkpoint. The doubled edge list is hash-
    # partitioned on src and persisted — InMemoryRelation KEEPS that
    # partitioning (localCheckpoint does not: UnknownPartitioning), so
    # each hop's join shuffles only the frontier, never the edges.
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    cnode = (F.col("o_custkey") * 2).cast("bigint")
    snode = (F.col("l_suppkey") * 2 + 1).cast("bigint")
    n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        e0.select(cnode.alias("src"), snode.alias("dst"))
        .unionAll(e0.select(snode.alias("src"), cnode.alias("dst")))
        .repartition(n_shuf, "src")
        .persist()
    )
    mn = supp.agg(F.min("s_nationkey").alias("mn"))
    frontier = (
        supp.crossJoin(F.broadcast(mn))
        .filter(F.col("s_nationkey") == F.col("mn"))
        .select((F.col("s_suppkey") * 2 + 1).cast("bigint").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    visited = frontier
    out = None

    def hop_row(k: int, f: DataFrame) -> DataFrame:
        return f.agg(
            F.lit(k).cast("bigint").alias("hop"),
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.sum(F.when(F.col("node") % 2 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_customers"),
            F.sum(F.when(F.col("node") % 2 == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_suppliers"),
        ).select(
            "hop",
            "n_reached",
            F.coalesce("n_customers", F.lit(0)).cast("bigint").alias(
                "n_customers"
            ),
            F.coalesce("n_suppliers", F.lit(0)).cast("bigint").alias(
                "n_suppliers"
            ),
        )

    out = hop_row(0, frontier)
    for k in range(1, BFS_HOPS + 1):
        frontier = (
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        # r12 (VERDICT r11 item 4 — the hop chain is JOB-latency-bound
        # at this SF): visited needs NO checkpoint of its own — it is a
        # union of already-checkpointed frontiers, so "recomputing" it
        # is a free union of in-memory RDD scans. Dropping the per-hop
        # eager barrier removes BFS_HOPS sequential jobs from the chain
        # (measured; results identical — the anti-join's input set is
        # the same union either way).
        visited = visited.unionAll(frontier)
        out = out.unionAll(hop_row(k, frontier))
    # every hop's eager checkpoint already ran; the returned plan reads
    # only the checkpointed frontiers, so the edge cache can go now.
    edges.unpersist(blocking=False)
    return out


# X187 — market / revenue concentration report ------------------------------
@query(
    "market_concentration_report",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS x
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT x,
             CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT)
               AS rk
      FROM rev
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DECIMAL(38,2)) AS tot,
             CAST(SUM(CAST(rk AS DECIMAL(10,0))
                      * CAST(x AS DECIMAL(18,2))) AS DECIMAL(38,2))
               AS srx,
             CAST(SUM(CAST(ROUND(CAST(
               (CAST(x AS DOUBLE) / CAST((SELECT SUM(x) FROM rev)
                                         AS DOUBLE))
               * (CAST(x AS DOUBLE) / CAST((SELECT SUM(x) FROM rev)
                                           AS DOUBLE))
               AS DECIMAL(18,12)), 12) AS DECIMAL(18,12)))
               AS DECIMAL(38,12)) AS hhi_sum,
             CAST(SUM(CASE WHEN rk > (SELECT COUNT(*) FROM rev) - 10
                      THEN x ELSE CAST(0 AS DECIMAL(18,2)) END)
                  AS DECIMAL(38,2)) AS top10_rev
      FROM r
    )
    SELECT n,
           CAST(ROUND(CAST(CAST(tot AS DOUBLE)
                           AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS total_revenue,
           CAST(ROUND(CAST(
             CAST(2 AS DOUBLE) * CAST(srx AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS gini,
           CAST(ROUND(CAST(CAST(hhi_sum AS DOUBLE)
                           AS DECIMAL(28,10)), 6) AS DOUBLE) AS hhi,
           CAST(ROUND(CAST(
             CAST(top10_rev AS DOUBLE) / CAST(tot AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS top10_share
    FROM s
    """,
    tags=("analytics", "statistics", "extension"),
)
def market_concentration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X187: CONCENTRATION metrics over per-customer revenue — the
    inequality / market-power family in one report: the GINI
    coefficient (2·Σrank·x/(n·Σx) − (n+1)/n over ranked revenues),
    the HERFINDAHL-HIRSCHMAN index (Σ share² — the antitrust screen),
    and the top-10 revenue share. The skew DIAGNOSTIC sibling of
    partition_skew_report: same math, aimed at the business
    distribution instead of the shuffle layout.

    Float discipline: revenues and rank·x products are exact DECIMAL;
    HHI share² terms are 12-dp decimal constants before their sum
    (order-independent); the three final ratios are one shared IEEE
    ordering each.

    Scale shape — the revenue ranking WITHOUT a global sort-window:
    ``functions/windows.distributed_row_number`` over (x, custkey)
    (per-partition ranks + a one-row-per-partition count carry; carry
    allowlisted). Everything after the rank is one partial-agg
    reduction to a single row."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("x")
    )
    ranked = distributed_row_number(rev, ["x", "o_custkey"], "rk")
    tot_f = rev.agg(F.sum("x").cast("decimal(38,2)").alias("tot"))
    share = F.col("x").cast("double") / F.col("tot").cast("double")
    s = (
        ranked.crossJoin(F.broadcast(tot_f))
        .crossJoin(
            F.broadcast(
                rev.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            )
        )
        .agg(
            F.max("n").alias("n"),
            F.max("tot").alias("tot"),
            F.sum(
                F.col("rk").cast("decimal(10,0)")
                * F.col("x").cast("decimal(18,2)")
            )
            .cast("decimal(38,2)")
            .alias("srx"),
            F.sum(
                F.round((share * share).cast("decimal(18,12)"), 12).cast(
                    "decimal(18,12)"
                )
            )
            .cast("decimal(38,12)")
            .alias("hhi_sum"),
            F.sum(
                F.when(
                    F.col("rk") > F.col("n") - 10, F.col("x")
                ).otherwise(F.lit(0).cast("decimal(18,2)"))
            )
            .cast("decimal(38,2)")
            .alias("top10_rev"),
        )
    )
    nd = F.col("n").cast("double")
    totd = F.col("tot").cast("double")
    return s.select(
        "n",
        exact_round(totd, 4).alias("total_revenue"),
        exact_round(
            F.lit(2.0) * F.col("srx").cast("double") / (nd * totd) - (nd + 1) / nd, 6
        ).alias("gini"),
        exact_round(F.col("hhi_sum").cast("double"), 6).alias("hhi"),
        exact_round(F.col("top10_rev").cast("double") / totd, 6).alias("top10_share"),
    )


# X206 — Mann-Whitney U rank-sum test ---------------------------------------
@query(
    "mann_whitney_u_test",
    oracle="""
    WITH counts AS (
      SELECT n_chars AS v,
             CAST(COUNT(*) AS BIGINT) AS c_tot,
             CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_en
      FROM documents
      GROUP BY 1
    ),
    w AS (
      SELECT v, c_tot, c_en,
             CAST(COALESCE(SUM(c_tot) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cumb
      FROM counts
    ),
    s AS (
      SELECT CAST(SUM(c_en) AS BIGINT) AS n1,
             CAST(SUM(c_tot) AS BIGINT) AS n,
             CAST(SUM(c_en * (2 * cumb + c_tot + 1)) AS BIGINT) AS r2,
             CAST(SUM(c_tot * c_tot * c_tot - c_tot) AS BIGINT) AS ties
      FROM w
    )
    SELECT n1 AS n_en, (n - n1) AS n_other,
           CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
             + CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0
             - CAST(r2 AS DOUBLE) / 2.0 AS u_stat,
           CAST(ROUND(CAST(
             (CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
                + CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0
                - CAST(r2 AS DOUBLE) / 2.0
              - CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 2.0)
             / sqrt((CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0)
                    * ((CAST(n AS DOUBLE) + 1.0)
                       - CAST(ties AS DOUBLE)
                         / (CAST(n AS DOUBLE)
                            * (CAST(n AS DOUBLE) - 1.0))))
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS z_score
    FROM s
    """,
    tags=("analytics", "statistics", "extension"),
)
def mann_whitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X206: MANN-WHITNEY U rank-sum test — do English documents have a
    different length distribution than the rest of the corpus? The
    NONPARAMETRIC drift/shift companion to ks_test_report (KS compares
    whole ECDFs; U tests location shift) and ab_experiment_report
    (Welch assumes normality; U does not), with the tie-corrected
    normal approximation.

    Exact-arithmetic discipline: average ranks over ties are kept as
    INTEGER doubled-ranks (2·cum_before + c_tot + 1) so every rank sum
    is an exact BIGINT; U and z derive from five integer scalars in
    one shared IEEE expression (the trend_regression exact-OLS
    convention); tie term Σ(t³−t) is an exact integer sum.

    Plan: one (value)-keyed partial agg builds the tie table (bounded
    by |distinct values|, not |rows|); the exclusive prefix over
    values uses the two-phase distributed prefix sum (X131 carry
    discipline — the carry window sees one row per range bucket);
    the final five-scalar reduction is a single row. No corpus-wide
    window, no collect."""
    from ..functions.windows import prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_tot"),
        F.count(F.when(F.col("lang") == "en", 1))
        .cast("bigint")
        .alias("c_en"),
    )
    w = prefix_sum(counts, F.col("c_tot"), "v", "cum_incl").select(
        "v",
        "c_tot",
        "c_en",
        (F.col("cum_incl") - F.col("c_tot")).cast("bigint").alias("cumb"),
    )
    s = w.agg(
        F.sum("c_en").cast("bigint").alias("n1"),
        F.sum("c_tot").cast("bigint").alias("n"),
        F.sum(
            F.col("c_en") * (2 * F.col("cumb") + F.col("c_tot") + 1)
        )
        .cast("bigint")
        .alias("r2"),
        F.sum(
            F.col("c_tot") * F.col("c_tot") * F.col("c_tot")
            - F.col("c_tot")
        )
        .cast("bigint")
        .alias("ties"),
    )
    n1d = F.col("n1").cast("double")
    n2d = (F.col("n") - F.col("n1")).cast("double")
    nd = F.col("n").cast("double")
    u_stat = (
        n1d * n2d + n1d * (n1d + F.lit(1.0)) / F.lit(2.0)
        - F.col("r2").cast("double") / F.lit(2.0)
    )
    sigma = F.sqrt(
        (n1d * n2d / F.lit(12.0))
        * (
            (nd + F.lit(1.0))
            - F.col("ties").cast("double")
            / (nd * (nd - F.lit(1.0)))
        )
    )
    return s.select(
        F.col("n1").alias("n_en"),
        (F.col("n") - F.col("n1")).alias("n_other"),
        u_stat.alias("u_stat"),
        exact_round((u_stat - n1d * n2d / F.lit(2.0)) / sigma, 6).alias("z_score"),
    )


# X220 — data-contract audit --------------------------------------------------
@query(
    "data_contract_audit",
    oracle="""
    WITH o AS (
      SELECT
        CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END)
             AS BIGINT) AS price_pos,
        CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'P', 'O')
                      THEN 1 ELSE 0 END) AS BIGINT) AS status_enum,
        CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                        OR o_orderdate >= TIMESTAMP '2002-01-01'
                      THEN 1 ELSE 0 END) AS BIGINT) AS date_range
      FROM orders
    ),
    l AS (
      SELECT
        CAST(SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
                      THEN 1 ELSE 0 END) AS BIGINT) AS qty_range,
        CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
                      THEN 1 ELSE 0 END) AS BIGINT) AS disc_range
      FROM lineitem
    ),
    fk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS orphans
      FROM orders o2
      WHERE NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o2.o_custkey)
    ),
    pk AS (
      SELECT CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
               AS dup_keys
      FROM customer
    )
    SELECT * FROM (
      SELECT 'orders.totalprice_positive' AS check_name,
             price_pos AS n_violations, price_pos = 0 AS passed FROM o
      UNION ALL
      SELECT 'orders.status_enum', status_enum, status_enum = 0 FROM o
      UNION ALL
      SELECT 'orders.orderdate_range', date_range, date_range = 0 FROM o
      UNION ALL
      SELECT 'lineitem.quantity_range', qty_range, qty_range = 0 FROM l
      UNION ALL
      SELECT 'lineitem.discount_range', disc_range, disc_range = 0 FROM l
      UNION ALL
      SELECT 'orders.custkey_fk', orphans, orphans = 0 FROM fk
      UNION ALL
      SELECT 'customer.custkey_unique', dup_keys, dup_keys = 0 FROM pk
    )
    """,
    tags=("analytics", "audit", "extension"),
)
def data_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X220: DATA-CONTRACT audit — the producer/consumer contract for
    the order pipeline checked in one report: value ranges
    (totalprice > 0, quantity 1-50, discount 0-0.1, orderdate window),
    enum membership (orderstatus), referential integrity
    (orders→customer FK) and key uniqueness (customer PK), each as a
    (check_name, n_violations, passed) row. The CI-shaped composition
    of referential_integrity_audit / key_uniqueness_profile's
    primitives: one green/red table a scheduler can gate a publish on
    (the WAP audit stage generalized to cross-table rules).

    Plan: per-table rules fold into ONE conditional-count aggregate
    per table (three scans total, each reading only contract columns);
    the FK check is a left-anti count; assembly is a union of
    single-row frames — no joins wider than the anti join, nothing
    driver-side."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    o = orders.agg(
        cnt(F.col("o_totalprice") <= 0.0).alias("price_pos"),
        cnt(~F.col("o_orderstatus").isin("F", "P", "O")).alias(
            "status_enum"
        ),
        cnt(
            (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"))
            | (
                F.col("o_orderdate")
                >= F.lit("2002-01-01").cast("timestamp")
            )
        ).alias("date_range"),
    )
    l = li.agg(
        cnt(
            (F.col("l_quantity") < 1.0) | (F.col("l_quantity") > 50.0)
        ).alias("qty_range"),
        cnt(
            (F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.1)
        ).alias("disc_range"),
    )
    fk = (
        orders.select("o_custkey")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "leftanti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("orphans"))
    )
    pk = load_table(spark, sf_dir, "customer").agg(
        (F.count(F.lit(1)) - F.countDistinct("c_custkey"))
        .cast("bigint")
        .alias("dup_keys")
    )

    combined = o.crossJoin(l).crossJoin(fk).crossJoin(pk)
    checks = (
        ("orders.totalprice_positive", "price_pos"),
        ("orders.status_enum", "status_enum"),
        ("orders.orderdate_range", "date_range"),
        ("lineitem.quantity_range", "qty_range"),
        ("lineitem.discount_range", "disc_range"),
        ("orders.custkey_fk", "orphans"),
        ("customer.custkey_unique", "dup_keys"),
    )
    # one row per check via a single explode — the four 1-row agg
    # frames crossJoin into one row, so every rule costs exactly its
    # table's conditional-count scan, never a re-aggregation per rule
    return combined.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        F.col(col).alias("n_violations"),
                        (F.col(col) == 0).alias("passed"),
                    )
                    for name, col in checks
                ]
            )
        ).alias("c")
    ).select("c.check_name", "c.n_violations", "c.passed")


# X225 — year-over-year revenue report ----------------------------------------
@query(
    "revenue_yoy_report",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
             CAST(month(o_orderdate) AS INTEGER) AS mo,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM orders
      GROUP BY 1, 2
    )
    SELECT c.yr, c.mo,
           CAST(c.rev AS DOUBLE) AS revenue,
           CAST(p.rev AS DOUBLE) AS revenue_prev_year,
           CAST(ROUND(CAST(
             (CAST(c.rev AS DOUBLE) - CAST(p.rev AS DOUBLE))
             / CAST(p.rev AS DOUBLE) AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS yoy_growth
    FROM m c LEFT JOIN m p ON p.yr = c.yr - 1 AND p.mo = c.mo
    """,
    tags=("analytics", "timeseries", "extension"),
)
def revenue_yoy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X225: YEAR-OVER-YEAR monthly revenue — each (year, month) with
    its same-month-prior-year revenue and growth rate; NULL growth
    where no prior year exists. The canonical business seasonality
    readout (hour_of_week_seasonality's calendar-scale sibling).

    Scale shape: the lag is a SELF JOIN on (yr−1, mo) over the
    ALREADY-AGGREGATED month frame (≤ |years|·12 rows at any corpus
    size, AQE broadcasts it) — never a window over raw orders.
    Revenue sums are exact decimal; growth is one rounded IEEE
    expression on the exact values."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    m = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("rev")
    )
    p = m.select(
        (F.col("yr") + 1).alias("p_yr"),
        F.col("mo").alias("p_mo"),
        F.col("rev").alias("prev_rev"),
    )
    j = m.join(
        p, (m.yr == p.p_yr) & (m.mo == p.p_mo), "left"
    )
    cur = F.col("rev").cast("double")
    prv = F.col("prev_rev").cast("double")
    return j.select(
        "yr",
        "mo",
        cur.alias("revenue"),
        prv.alias("revenue_prev_year"),
        exact_round((cur - prv) / prv, 6).alias("yoy_growth"),
    )


# X226 — GDPR erasure cascade ---------------------------------------------------
#: deterministic stand-in for an erasure request list.
GDPR_KEY_MOD = 97


@query(
    "gdpr_erasure_cascade",
    oracle=f"""
    WITH erase AS (
      SELECT c_custkey FROM customer WHERE c_custkey % {GDPR_KEY_MOD} = 0
    ),
    del_o AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM erase)
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM erase) AS n_deleted
      FROM customer
    ),
    o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM del_o) AS n_deleted
      FROM orders
    ),
    l AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM del_o))
               AS n_deleted
      FROM lineitem
    )
    SELECT * FROM (
      SELECT 'customer' AS table_name, n_before, n_deleted,
             n_before - n_deleted AS n_after FROM c
      UNION ALL
      SELECT 'orders', n_before, n_deleted, n_before - n_deleted FROM o
      UNION ALL
      SELECT 'lineitem', n_before, n_deleted, n_before - n_deleted FROM l
    )
    """,
    tags=("analytics", "privacy", "mutation", "extension"),
)
def gdpr_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X226: GDPR ERASURE CASCADE plan — for a right-to-be-forgotten
    request list (deterministic stand-in: every {GDPR_KEY_MOD}th
    customer key), the per-table deletion report following the FK
    chain customer → orders → lineitem: rows before, rows erased,
    rows after. sql_delete_by_key (S9) is the single-table primitive;
    this is the CASCADE a privacy office actually signs off on before
    the anti-join rewrites run.

    Plan: the request list broadcasts (erasure lists are tiny by
    nature); orders resolve their doomed keys via one broadcast
    semi-join; the lineitem leg semi-joins the doomed ORDER keys (the
    only fact-sized exchange, on orderkey); three count aggregates —
    the actual deletion is the same anti-join with the predicate
    flipped, so this report prices it exactly."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    erase = cust.filter(F.col("c_custkey") % GDPR_KEY_MOD == 0)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    del_o = orders.join(
        F.broadcast(erase),
        orders.o_custkey == erase.c_custkey,
        "leftsemi",
    ).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    del_l = li.join(
        del_o, li.l_orderkey == del_o.o_orderkey, "leftsemi"
    )

    def report(name, total_df, deleted_df):
        t = total_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_before")
        )
        d = deleted_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_deleted")
        )
        return t.crossJoin(d).select(
            F.lit(name).alias("table_name"),
            "n_before",
            "n_deleted",
            (F.col("n_before") - F.col("n_deleted"))
            .cast("bigint")
            .alias("n_after"),
        )

    return (
        report("customer", cust, erase)
        .unionAll(report("orders", orders, del_o))
        .unionAll(report("lineitem", li, del_l))
    )


# X237 — top-N with OTHER rollup ------------------------------------------------
#: dashboard cut: nations shown individually before the OTHER bucket.
TOPN_OTHER_N = 10


@query(
    "topn_with_other_rollup",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev_dec
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1
    ),
    ranked AS (
      SELECT nation, rev_dec,
             row_number() OVER (ORDER BY rev_dec DESC, nation) AS rk
      FROM rev
    ),
    tot AS (SELECT CAST(SUM(rev_dec) AS DECIMAL(38,2)) AS t FROM rev),
    grouped AS (
      SELECT CASE WHEN rk <= {TOPN_OTHER_N} THEN nation
                  ELSE 'OTHER' END AS nation,
             CASE WHEN rk <= {TOPN_OTHER_N} THEN rk
                  ELSE {TOPN_OTHER_N} + 1 END AS rk_group,
             rev_dec
      FROM ranked
    )
    SELECT g.nation,
           CAST(MIN(g.rk_group) AS BIGINT) AS display_rank,
           CAST(SUM(g.rev_dec) AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(
             CAST(SUM(g.rev_dec) AS DOUBLE) / CAST(t.t AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS revenue_share
    FROM grouped g CROSS JOIN tot t
    GROUP BY g.nation, t.t
    """,
    tags=("analytics", "reporting", "extension"),
)
def topn_with_other_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X237: TOP-{TOPN_OTHER_N} nations by revenue with everything else
    rolled into one OTHER row — the dashboard cut every BI layer
    re-implements (a bare top-k silently drops the tail and the shares
    stop summing to 1; this keeps the total honest).

    Plan: per-nation revenue is a dimension-bounded aggregate
    (|nations| rows), so the ranking window runs over ≤25 rows — a
    BOUNDED-dimension window, the ntile_customer_value precedent —
    and the OTHER fold plus share is one more tiny aggregation with a
    1-row total broadcast. Exact decimal sums; shares rounded 6 dp."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("rev_dec")
        )
    )
    w = Window.orderBy(F.col("rev_dec").desc(), "nation")
    ranked = rev.withColumn("rk", F.row_number().over(w))
    tot = rev.agg(F.sum("rev_dec").cast("decimal(38,2)").alias("t"))
    grouped = ranked.select(
        F.when(F.col("rk") <= TOPN_OTHER_N, F.col("nation"))
        .otherwise(F.lit("OTHER"))
        .alias("nation"),
        F.when(F.col("rk") <= TOPN_OTHER_N, F.col("rk"))
        .otherwise(F.lit(TOPN_OTHER_N + 1))
        .alias("rk_group"),
        "rev_dec",
    )
    return (
        grouped.crossJoin(F.broadcast(tot))
        .groupBy("nation", "t")
        .agg(
            F.min("rk_group").cast("bigint").alias("display_rank"),
            F.sum("rev_dec").cast("double").alias("revenue"),
            exact_round(
                F.sum("rev_dec").cast("double") / F.col("t").cast("double"), 6
            ).alias("revenue_share"),
        )
        .drop("t")
    )


# X249 — join-key skew diagnosis ---------------------------------------------
#: keys whose multiplicity exceeds SKEW_FLAG_RATIO × the mean get
#: flagged for salting; the report carries the top SKEW_TOP keys.
SKEW_FLAG_RATIO = 2.0
SKEW_TOP = 10


@query(
    "join_skew_report",
    oracle=f"""
    WITH m AS (
      SELECT l_suppkey AS suppkey, CAST(COUNT(*) AS BIGINT) AS key_rows
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(key_rows) AS BIGINT) AS n_rows
      FROM m
    )
    SELECT suppkey, key_rows,
           CAST(ROUND(CAST(
             CAST(key_rows AS DOUBLE) / tot.n_rows
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS share,
           CAST(ROUND(CAST(
             CAST(key_rows AS DOUBLE) * tot.n_keys / tot.n_rows
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS ratio_to_mean,
           (CAST(key_rows AS DOUBLE) * tot.n_keys / tot.n_rows)
             > {SKEW_FLAG_RATIO} AS needs_salt
    FROM (
      SELECT *, row_number() OVER (ORDER BY key_rows DESC, suppkey)
               AS rn
      FROM m
    ) m CROSS JOIN tot
    WHERE rn <= {SKEW_TOP}
    """,
    tags=("analytics", "extension", "introspection"),
)
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X249: join-key SKEW diagnosis — the report you run before a big
    shuffle join lands on a cluster: per-key multiplicity of the fact
    side's join key (lineitem.l_suppkey), top-{SKEW_TOP} hottest keys
    with their row share and ratio-to-mean, and a needs-salt flag at
    {SKEW_FLAG_RATIO}× mean (the threshold where AQE's skew-join
    splitting or explicit salting starts paying; see
    salted_hot_key_agg for the rewrite this report recommends).

    Scale shape: one map-side-partial count per key, a 1-row totals
    frame broadcast back (crossJoin of a scalar), and the top-{SKEW_TOP}
    via ``orderBy().limit()`` — TakeOrderedAndProject, never a global
    sort of the key histogram."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    m = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("key_rows")
    )
    tot = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("key_rows").cast("bigint").alias("n_rows"),
    )
    top = m.orderBy(F.col("key_rows").desc(), "suppkey").limit(SKEW_TOP)
    ratio = (
        F.col("key_rows").cast("double")
        * F.col("n_keys")
        / F.col("n_rows")
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "suppkey",
        "key_rows",
        exact_round(
            F.col("key_rows").cast("double") / F.col("n_rows"), 6
        ).alias("share"),
        exact_round(ratio, 4).alias("ratio_to_mean"),
        (ratio > SKEW_FLAG_RATIO).alias("needs_salt"),
    )


# X250 — salted two-level aggregation (the hot-key rewrite) ------------------
SALT_BUCKETS = 8


@query(
    "salted_hot_key_agg",
    oracle="""
    SELECT l_suppkey AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DOUBLE) AS revenue
    FROM lineitem GROUP BY l_suppkey
    """,
    tags=("analytics", "extension", "introspection"),
)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X250: the SALTED two-level aggregation — the rewrite
    join_skew_report recommends for hot keys: rows first aggregate on
    (key, salt) with salt = l_orderkey % {SALT_BUCKETS} (deterministic,
    so reruns are stable), spreading each hot key over {SALT_BUCKETS}
    reducers; the per-salt partials then combine in a second, tiny
    (key)-keyed aggregate. DECIMAL sums are associative, so the result
    is BIT-identical to the single-level GROUP BY the oracle states —
    the salting is invisible in the answer and only visible in the
    plan (two exchange levels, asserted in tests/test_plan_shapes.py).

    At 100 TB this is the standing fix when one key holds a double-
    digit share of a shuffle: AQE's skew splitting handles sort-merge
    JOINS, but a skewed AGGREGATION still funnels each key through one
    reducer unless you pre-split it like this."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice"
    )
    partial = (
        li.withColumn(
            "__salt", (F.col("l_orderkey") % SALT_BUCKETS).cast("int")
        )
        .groupBy("l_suppkey", "__salt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("pn"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "prev"
            ),
        )
    )
    return (
        partial.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum("pn").cast("bigint").alias("n_rows"),
            F.sum("prev").cast("double").alias("revenue"),
        )
    )


# X252 — Poisson-bootstrap confidence interval ------------------------------
#: bootstrap replicate count (fixed, unrolled as a lateral explode).
BOOT_REPS = 32
#: 28-bit md5 hash → uniform [0,1) (same convention as sampling.py).
_BOOT_DENOM = 268435456.0
#: cumulative Poisson(1) CDF thresholds P(N <= k), k = 0..6; a draw u
#: below threshold k (and not below k-1) takes weight k; u past the
#: last takes 7 (P ≈ 8e-6 — the standard truncation).
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)


def _boot_case_sql(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {t!r} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"(CASE {arms} ELSE {len(_POIS_CDF)} END)"


def _boot_oracle() -> str:
    u = (
        "(CAST(('0x' || substr(md5('boot-' || CAST(r.b AS VARCHAR) || '-' "
        "|| CAST(d.doc_id AS VARCHAR)), 1, 7)) AS BIGINT) "
        f"/ {_BOOT_DENOM!r})"
    )
    return f"""
    WITH reps AS (SELECT unnest(generate_series(0, {BOOT_REPS - 1})) AS b),
    e AS (
      SELECT r.b, CAST({_boot_case_sql(u)} AS BIGINT) AS w, d.n_chars
      FROM documents d CROSS JOIN reps r
    ),
    per AS (
      SELECT b, CAST(SUM(w * n_chars) AS BIGINT) AS swx,
             CAST(SUM(w) AS BIGINT) AS sw
      FROM e GROUP BY b
    ),
    m AS (
      SELECT b,
             CAST(ROUND(CAST(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)
                             AS DECIMAL(28,14)), 12) AS DOUBLE) AS mb
      FROM per
    ),
    s AS (
      SELECT CAST(SUM(CAST(mb AS DECIMAL(18,12))) AS DECIMAL(38,12)) AS sm,
             CAST(COUNT(*) AS BIGINT) AS nb,
             quantile_cont(mb, 0.025) AS qlo,
             quantile_cont(mb, 0.975) AS qhi
      FROM m
    ),
    mu AS (
      SELECT CAST(ROUND(CAST(CAST(sm AS DOUBLE) / CAST(nb AS DOUBLE)
                             AS DECIMAL(28,14)), 12) AS DOUBLE) AS mu,
             nb, qlo, qhi
      FROM s
    ),
    dev AS (
      SELECT CAST(SUM(CAST(ROUND(CAST(
               (m.mb - mu.mu) * (m.mb - mu.mu)
             AS DECIMAL(28,20)), 18) AS DECIMAL(28,20)))
             AS DECIMAL(38,20)) AS sd2
      FROM m, mu
    ),
    raw AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sx
      FROM documents
    )
    SELECT raw.n_docs, mu.nb AS n_replicates,
           CAST(ROUND(CAST(CAST(raw.sx AS DOUBLE) / CAST(raw.n_docs AS DOUBLE)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS raw_mean,
           CAST(ROUND(CAST(mu.mu AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS boot_mean,
           CAST(ROUND(CAST(
             sqrt(CAST(dev.sd2 AS DOUBLE) / CAST(mu.nb - 1 AS DOUBLE))
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS se_boot,
           CAST(ROUND(CAST(mu.qlo AS DECIMAL(28,10)), 4) AS DOUBLE) AS ci_lo,
           CAST(ROUND(CAST(mu.qhi AS DECIMAL(28,10)), 4) AS DOUBLE) AS ci_hi
    FROM raw, mu, dev
    """


@query(
    "bootstrap_mean_ci",
    oracle=_boot_oracle(),
    tags=("analytics", "stats", "extension"),
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X252: POISSON BOOTSTRAP confidence interval for the corpus mean
    document length — the distributed bootstrap (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012):
    instead of B independent resamples-with-replacement (impossible to
    coordinate across executors), every row draws B independent
    Poisson(1) weights, and replicate b's mean is the w-weighted mean.
    The companion to `jackknife_mean_ci` (X161): the jackknife gives a
    cheap SE from already-partitioned group sums; the bootstrap gives
    full percentile intervals (2.5/97.5) at the cost of a B-fold
    row expansion.

    Determinism discipline: each weight is a pure function of
    (doc_id, replicate) — the module's salted 28-bit md5 uniform fed
    through the exact Poisson(1) inverse CDF ladder (truncated at 7,
    P ≈ 8e-6) — so every engine, run, and partitioning draws the same
    resample. Weighted sums are pure integers (w × n_chars) → exact
    DECIMAL parity; replicate means are 12-dp-decimal-rounded doubles
    before the variance/quantile pass (the jackknife's convention).

    Scale shape: the B-fold explode is projection-only — partial
    aggregation collapses each task's expansion to ≤B rows before the
    shuffle (map-side combine on the replicate id), so the exchange
    carries B rows per task regardless of corpus size; everything
    downstream is B-row arithmetic. percentile() holds B values, not
    the corpus. At 100 TB: one scan, B=32 integer mul/adds per row,
    a 32-group shuffle — the textbook one-pass bootstrap."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    e = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))).alias("b"),
    )
    u = (
        md5_int(
            F.concat(
                F.lit("boot-"),
                F.col("b").cast("string"),
                F.lit("-"),
                F.col("doc_id").cast("string"),
            ),
            7,
        ).cast("long")
        / F.lit(_BOOT_DENOM)
    )
    w = F.when(u < F.lit(_POIS_CDF[0]), 0)
    for k in range(1, len(_POIS_CDF)):
        w = w.when(u < F.lit(_POIS_CDF[k]), k)
    w = w.otherwise(len(_POIS_CDF)).cast("long")
    per = (
        e.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).cast("bigint").alias("swx"),
            F.sum("w").cast("bigint").alias("sw"),
        )
    )
    m = per.select(
        F.round(
            (F.col("swx").cast("double") / F.col("sw").cast("double")).cast(
                "decimal(28,14)"
            ),
            12,
        )
        .cast("double")
        .alias("mb")
    ).localCheckpoint(eager=True)
    s = m.agg(
        F.sum(F.col("mb").cast("decimal(18,12)"))
        .cast("decimal(38,12)")
        .alias("sm"),
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.percentile("mb", F.lit(0.025)).alias("qlo"),
        F.percentile("mb", F.lit(0.975)).alias("qhi"),
    ).select(
        F.round(
            (F.col("sm").cast("double") / F.col("nb").cast("double")).cast(
                "decimal(28,14)"
            ),
            12,
        )
        .cast("double")
        .alias("mu"),
        "nb",
        "qlo",
        "qhi",
    )
    dev = (
        m.crossJoin(F.broadcast(s))
        .select(
            F.round(
                ((F.col("mb") - F.col("mu")) * (F.col("mb") - F.col("mu"))).cast(
                    "decimal(28,20)"
                ),
                18,
            )
            .cast("decimal(28,20)")
            .alias("d2")
        )
        .agg(F.sum("d2").cast("decimal(38,20)").alias("sd2"))
    )
    raw = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sx"),
    )
    return (
        raw.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(dev))
        .select(
            "n_docs",
            F.col("nb").alias("n_replicates"),
            exact_round(
                F.col("sx").cast("double") / F.col("n_docs").cast("double"), 4
            ).alias("raw_mean"),
            exact_round(F.col("mu"), 4).alias("boot_mean"),
            exact_round(
                F.sqrt(
                    F.col("sd2").cast("double")
                    / (F.col("nb") - 1).cast("double")
                ),
                6,
            ).alias("se_boot"),
            exact_round(F.col("qlo"), 4).alias("ci_lo"),
            exact_round(F.col("qhi"), 4).alias("ci_hi"),
        )
    )


# X254 — winsorized robust group statistics ---------------------------------
#: winsorization tail cut points.
WINSOR_LO, WINSOR_HI = 0.05, 0.95


@query(
    "winsorized_robust_stats",
    oracle=f"""
    WITH q AS (
      SELECT o_orderpriority,
             {_R4.format(x=f"quantile_cont(o_totalprice, {WINSOR_LO})")}
               AS p_lo,
             {_R4.format(x=f"quantile_cont(o_totalprice, {WINSOR_HI})")}
               AS p_hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o.o_totalprice < q.p_lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN o.o_totalprice > q.p_hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_hi,
           CAST(ROUND(CAST(
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) AS DECIMAL(28,10)), 4) AS DOUBLE) AS raw_mean,
           CAST(ROUND(CAST(
             CAST(SUM(CAST(LEAST(GREATEST(o.o_totalprice, q.p_lo), q.p_hi)
                           AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) AS DECIMAL(28,10)), 4) AS DOUBLE) AS winsor_mean
    FROM orders o JOIN q USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
    tags=("analytics", "stats", "extension"),
)
def winsorized_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X254: WINSORIZED group means — the robust-statistics screen a
    metrics pipeline runs before trusting a mean: clip each group's
    order values into its own [p05, p95] band and report the clipped
    mean next to the raw one (plus how many rows each tail clipped).
    Large divergence = heavy tails / outlier contamination; the
    standard pre-aggregation for revenue KPIs and experiment metrics
    (cf. trimmed means in A/B analysis).

    Exactness: cut points are the exact interpolated percentiles both
    engines share (`percentile` / `quantile_cont`), emitted
    4-dp-decimal-rounded BEFORE the clip so the comparison boundary is
    bit-identical across engines; clipped values cast to DECIMAL(18,4)
    → order-independent exact sums.

    Scale shape: pass 1 computes per-group percentiles (5 groups; the
    agg buffer is bounded by the largest group — for a
    high-cardinality or skewed group column, swap in
    exact_quantiles_two_pass per group, same contract); pass 2
    broadcast-joins the 5-row bounds frame back onto the scan and does
    one partial-agg shuffle. No row-level state survives either
    pass."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    q = orders.groupBy("o_orderpriority").agg(
        exact_round(F.percentile("o_totalprice", F.lit(WINSOR_LO)), 4).alias("p_lo"),
        exact_round(F.percentile("o_totalprice", F.lit(WINSOR_HI)), 4).alias("p_hi"),
    )
    clipped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("p_lo")), F.col("p_hi")
    )
    return (
        orders.join(F.broadcast(q), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("p_lo"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clip_lo"),
            F.sum(
                F.when(F.col("o_totalprice") > F.col("p_hi"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clip_hi"),
            exact_round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                4,
            ).alias("raw_mean"),
            exact_round(
                F.sum(clipped.cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("winsor_mean"),
        )
    )


# X256 — functional-dependency audit ----------------------------------------
def _fd_oracle() -> str:
    fds = [
        ("nation.name->region", "nation", "n_name",
         "CAST(n_regionkey AS VARCHAR)"),
        ("customer.mktsegment->nation", "customer", "c_mktsegment",
         "CAST(c_nationkey AS VARCHAR)"),
        ("orders.custkey->orderpriority", "orders", "o_custkey",
         "o_orderpriority"),
    ]
    blocks = "\n    UNION ALL\n".join(
        f"""
    SELECT '{name}' AS fd, CAST(COUNT(*) AS BIGINT) AS n_lhs,
           CAST(COALESCE(SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_violating_lhs,
           CAST(MAX(v) AS BIGINT) AS max_rhs_variants,
           (COALESCE(SUM(CASE WHEN v > 1 THEN 1 ELSE 0 END), 0) = 0)
             AS holds
    FROM (SELECT {lhs} AS k, COUNT(DISTINCT {rhs}) AS v
          FROM {table} GROUP BY {lhs})"""
        for name, table, lhs, rhs in fds
    )
    return blocks


@query(
    "functional_dependency_audit",
    oracle=_fd_oracle(),
    tags=("analytics", "quality", "extension"),
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X256: FUNCTIONAL-DEPENDENCY audit — validate candidate FDs
    (lhs → rhs determines exactly one value) across the warehouse, the
    profiling primitive behind schema discovery and
    data-contract enforcement (cf. TANE/metanome-style FD checking,
    here for a declared candidate list): per FD, how many lhs groups
    exist, how many are violated, and the worst variant count. TPC-H
    ground truth makes one hold by construction (nation name →
    region) and two fail (segment → nation, customer → priority) so
    the report exercises both verdicts.

    Scale shape per FD: one partial-agg COUNT DISTINCT shuffle keyed
    on the lhs (Spark plans distinct-agg as a two-level expand+agg —
    map-side partials bound the exchange), then a scalar rollup.
    The three FD frames are a 3-row union — independent stages, no
    cross-FD shuffle. At 100 TB this is the cheapest shape that
    answers FD questions exactly; a sketch variant (HLL per group)
    would trade exactness for one fewer expand."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    fds = [
        (
            "nation.name->region",
            nation.select(
                F.col("n_name").alias("k"),
                F.col("n_regionkey").cast("string").alias("r"),
            ),
        ),
        (
            "customer.mktsegment->nation",
            cust.select(
                F.col("c_mktsegment").alias("k"),
                F.col("c_nationkey").cast("string").alias("r"),
            ),
        ),
        (
            "orders.custkey->orderpriority",
            orders.select(
                F.col("o_custkey").alias("k"),
                F.col("o_orderpriority").alias("r"),
            ),
        ),
    ]
    out = None
    for name, frame in fds:
        g = frame.groupBy("k").agg(F.countDistinct("r").alias("v"))
        rep = g.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
            F.coalesce(
                F.sum(F.when(F.col("v") > 1, 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_violating_lhs"),
            F.max("v").cast("bigint").alias("max_rhs_variants"),
        ).withColumn("holds", F.col("n_violating_lhs") == 0)
        out = rep if out is None else out.unionAll(rep)
    return out


# X259 — weighted median ------------------------------------------------------
@query(
    "weighted_median_price",
    oracle="""
    WITH dp AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY l_returnflag, l_extendedprice
    ),
    c AS (
      SELECT l_returnflag, price, w,
             CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
      FROM dp
    )
    SELECT l_returnflag, MAX(tw) AS total_weight,
           MIN(CASE WHEN 2 * cw >= tw THEN price END) AS weighted_median
    FROM c GROUP BY l_returnflag
    """,
    tags=("analytics", "stats", "extension"),
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X259: QUANTITY-WEIGHTED median price per return flag — the
    weighted quantile neither engine has built in: the smallest price
    whose cumulative quantity weight reaches half the group's total
    (lower weighted median). The shape behind weighted percentiles,
    Lorenz curves, and half-mass points generally.

    Exactness: weights are integers (floor(l_quantity) — exact both
    engines), ties collapse by pre-aggregating per DISTINCT (flag,
    price) so the cumulative weight at a price includes ALL its rows —
    the crossing price is tie-order-independent by construction; the
    median itself is an input value, no arithmetic.

    Scale shape: the cumulative scan is `range_carry`
    (functions/windows.py) — range-partitioned on (flag, price),
    within-PARTITION windows (state bounded by partition size, never
    group size — one flag can be half the table), carry = one row per
    (partition, flag) broadcast back. Group totals ride the same carry
    frame's partials; the final argmin is a partial-agg groupBy.
    A naive per-flag window would funnel each flag through one task."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.floor("l_quantity").cast("bigint").alias("w0"),
    )
    # r11: pinned — dp feeds range_carry (whose
    # repartitionByRange SAMPLES its input and then writes it — two
    # computations) plus the totals aggregate: three lineitem
    # scan+agg replays, measured as duplicate ~1.5 s map stages.
    # dp is ≤ |flags × distinct prices| narrow rows; 2.6 -> 2.4 s.
    # (Scaling range_carry's parts to defaultParallelism was
    # tried alongside and REVERTED: 2.6 -> 4.8 s — the 32-way range
    # sample + fan-out costs more than the extra window parallelism
    # buys at this row count.)
    dp = (
        li.groupBy("l_returnflag", "price")
        .agg(F.sum("w0").cast("bigint").alias("w"))
        .localCheckpoint(eager=True)
    )
    c, _ = range_carry(dp, ["l_returnflag"], ["price"], {"cw": F.col("w")})
    totals = dp.groupBy("l_returnflag").agg(
        F.sum("w").cast("bigint").alias("tw")
    )
    return (
        c.join(F.broadcast(totals), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.max("tw").cast("bigint").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cw").cast("bigint") >= F.col("tw"), F.col("price"))
            ).alias("weighted_median"),
        )
    )


# X258 — weighted shortest supply path (Bellman-Ford) ------------------------
#: unrolled relaxation rounds (diameter budget on the bipartite graph).
SSSP_ROUNDS = 4


def _sssp_oracle() -> str:
    edges = """
    pairs AS (
      SELECT o_custkey AS c, l_suppkey AS s,
             MIN(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey, l_suppkey
    ),
    edges AS (
      SELECT 'C' || CAST(c AS VARCHAR) AS src,
             'S' || CAST(s AS VARCHAR) AS dst, w FROM pairs
      UNION ALL
      SELECT 'S' || CAST(s AS VARCHAR), 'C' || CAST(c AS VARCHAR), w
      FROM pairs
    ),
    d0 AS (
      SELECT 'S' || CAST(s_suppkey AS VARCHAR) AS node,
             CAST(0 AS BIGINT) AS d
      FROM supplier
      WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
    )"""
    rounds = ",".join(
        f"""
    d{k} AS (
      SELECT node, MIN(d) AS d FROM (
        SELECT node, d FROM d{k - 1}
        UNION ALL
        SELECT e.dst AS node, dd.d + e.w AS d
        FROM d{k - 1} dd JOIN edges e ON dd.node = e.src
      ) GROUP BY node
    )"""
        for k in range(1, SSSP_ROUNDS + 1)
    )
    return (
        f"WITH {edges},{rounds}\n"
        f"SELECT node, d AS dist_cents FROM d{SSSP_ROUNDS}"
    )


@query(
    "cheapest_supply_path",
    oracle=_sssp_oracle(),
    tags=("analytics", "graph", "extension"),
)
def cheapest_supply_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X258: WEIGHTED K-EDGE-BOUNDED shortest paths — SSSP_ROUNDS=4
    unrolled Bellman-Ford relaxations over the customer–supplier
    transaction graph, edge weight = the pair's cheapest line item in
    integer cents, sources = the lowest-nation supplier cohort. The
    weighted completion of the iterative-graph family: X175's BFS
    counts hops, X33's stars build components — this MINIMIZES a
    path cost (procurement-cost radius, logistics-cheapest-route,
    weighted blast-radius).

    SEMANTICS: ``dist_cents`` is the cheapest path using AT MOST
    SSSP_ROUNDS edges, not the unconstrained shortest path — a
    cheaper route with more than K hops is deliberately out of
    budget (K relaxation rounds of Bellman-Ford are exact only over
    ≤ K-edge paths). The oracle unrolls the identical K rounds, so
    both engines agree by construction; raise SSSP_ROUNDS toward the
    graph diameter when the unconstrained answer is wanted.

    Each round is relax-then-combine: frontier⋈edges proposes
    dist+w per neighbor, MIN-groupBy merges proposals with standing
    distances — the Pregel superstep as two narrow DataFrame ops.
    Distances are exact BIGINT cents (floor before the cast — both
    engines agree), so MIN is associative and every engine lands the
    same table; rounds materialize via localCheckpoint exactly like
    the BFS (at deploy: persisted frontiers).

    Scale shape: the edge list builds once from one orders⋈lineitem
    pass (pair-MIN partial-aggregates map-side) and shuffles only
    (short-string src, dst, bigint w); each round's join is
    distance-table-sized, not graph-sized, and the MIN-combine is a
    partial agg. Rounds = SSSP_ROUNDS jobs, not data-dependent."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    # r11: same treatment as bfs_reachability (measured: the pair-MIN
    # aggregate re-ran for BOTH union legs — two 126.7 MB-input scan
    # stages per run — and each relaxation round re-shuffled the full
    # edge list, 4 × 22.6 MB shuffle reads). pairs materializes once;
    # nodes travel as BIGINTs (c ↦ 2c, s ↦ 2s+1 — output strings are
    # reconstructed bijectively at the end); the doubled edge list is
    # hash-partitioned on src and persisted so InMemoryRelation keeps
    # the partitioning and each round shuffles only the distance table.
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(
            F.min(F.floor(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "w"
            )
        )
        .localCheckpoint(eager=True)
    )
    cnode = (F.col("o_custkey") * 2).cast("bigint")
    snode = (F.col("l_suppkey") * 2 + 1).cast("bigint")
    n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        pairs.select(cnode.alias("src"), snode.alias("dst"), "w")
        .unionAll(pairs.select(snode.alias("src"), cnode.alias("dst"), "w"))
        .repartition(n_shuf, "src")
        .persist()
    )
    mn = supp.agg(F.min("s_nationkey").alias("mn"))
    dist = (
        supp.crossJoin(F.broadcast(mn))
        .filter(F.col("s_nationkey") == F.col("mn"))
        .select(
            (F.col("s_suppkey") * 2 + 1).cast("bigint").alias("node"),
            F.lit(0).cast("bigint").alias("d"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(SSSP_ROUNDS):
        proposals = (
            edges.join(dist.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d"))
        )
        dist = (
            dist.unionAll(proposals)
            .groupBy("node")
            .agg(F.min("d").cast("bigint").alias("d"))
            .localCheckpoint(eager=True)
        )
    edges.unpersist(blocking=False)
    return dist.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("C"), (F.col("node") / 2).cast("bigint").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("S"),
                ((F.col("node") - 1) / 2).cast("bigint").cast("string"),
            )
        )
        .alias("node"),
        F.col("d").alias("dist_cents"),
    )


# X265 — Benjamini-Hochberg FDR over per-type mean-shift tests ---------------
#: BH false-discovery rate.
BH_Q = 0.10
#: Abramowitz & Stegun 7.1.26 erf coefficients (identical literals on
#: both engines; |err| < 1.5e-7, far under the 6-dp p rounding).
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _phi_tail_sql(z: str) -> str:
    # 1 - Φ(z) for z >= 0 == erfc(z/√2)/2 via the A&S polynomial
    x = f"({z} / 1.4142135623730951)"
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    poly = (
        f"((((({_AS_A[4]} * {t} + {_AS_A[3]}) * {t} + {_AS_A[2]}) * {t} "
        f"+ {_AS_A[1]}) * {t} + {_AS_A[0]}) * {t})"
    )
    return f"(0.5 * {poly} * exp(-{x} * {x}))"


def _bh_oracle() -> str:
    tail = _phi_tail_sql("abs(z)")
    return f"""
    WITH med AS (
      SELECT quantile_cont(epoch_us(ts), 0.5) AS tmid FROM events
    ),
    halves AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) <= med.tmid THEN 0 ELSE 1 END AS h,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events, med
    ),
    g AS (
      SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS DECIMAL(38,2)) AS s,
             CAST(SUM(y * y) AS DECIMAL(38,4)) AS ss
      FROM halves GROUP BY event_type, h
    ),
    m AS (
      SELECT a.event_type,
             a.n AS n1, b.n AS n2,
             CAST(a.s AS DOUBLE) / a.n AS m1,
             CAST(b.s AS DOUBLE) / b.n AS m2,
             (CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / a.n)
               / (a.n - 1) AS v1,
             (CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / b.n)
               / (b.n - 1) AS v2
      FROM g a JOIN g b ON a.event_type = b.event_type
      WHERE a.h = 0 AND b.h = 1 AND a.n >= 2 AND b.n >= 2
    ),
    zt AS (
      SELECT event_type, n1, n2,
             CAST(ROUND(CAST(
               (m1 - m2) / sqrt(v1 / n1 + v2 / n2)
               AS DECIMAL(28,10)), 6) AS DOUBLE) AS z
      FROM m
    ),
    pv AS (
      SELECT event_type, n1, n2, z,
             CAST(ROUND(CAST(2.0 * {tail} AS DECIMAL(28,10)), 6)
                  AS DOUBLE) AS p
      FROM zt
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY p, event_type) AS BIGINT)
                  AS rnk,
             CAST(COUNT(*) OVER () AS BIGINT) AS m_tests
      FROM pv
    ),
    cut AS (
      SELECT COALESCE(MAX(CASE WHEN p <= {BH_Q} * rnk / m_tests
                               THEN rnk END), 0) AS k
      FROM ranked
    )
    SELECT event_type, n1, n2, z, p, rnk AS p_rank,
           CAST(ROUND(CAST({BH_Q} * rnk / m_tests AS DECIMAL(28,10)), 6)
                AS DOUBLE) AS bh_threshold,
           (rnk <= cut.k) AS rejected
    FROM ranked, cut
    """


@query(
    "bh_fdr_mean_shift",
    oracle=_bh_oracle(),
    tags=("analytics", "stats", "extension"),
)
def bh_fdr_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X265: BENJAMINI-HOCHBERG FDR control over a family of tests —
    the missing piece of the statistics suite: X160/X166/X208 each run
    ONE test; a metrics platform runs one per event type per day and
    must correct for multiplicity or drown in false positives. Per
    event type: Welch z for a mean shift between the first and second
    half of the timeline (exact-decimal sums → moments), two-sided p
    via the shared A&S normal-tail polynomial, then the BH step-up —
    reject every p ranked at or below the largest k with
    p_(k) ≤ q·k/m.

    Exactness: z and p are 6-dp-decimal-rounded BEFORE ranking, so the
    BH comparison boundary is engine-identical (exp/sqrt agree far
    inside the rounding); the step-up cut is a 1-row MAX broadcast.

    Scale shape: the half-split cut is the exact median via the
    two-pass quantile (broadcast scalar); moments are one (type, half)
    partial-agg shuffle; everything after operates on m rows (one per
    test) — the allowlisted tiny-frame global window class, bounded by
    the number of TESTS, not data."""
    from ..functions.quantiles import exact_quantiles_two_pass

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", epoch_us("ts").alias("tu"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )
    med = exact_quantiles_two_pass(ev, "tu", [0.5]).select(
        F.element_at("qv", 1).alias("tmid")
    )
    halves = ev.crossJoin(F.broadcast(med)).select(
        "event_type",
        F.when(F.col("tu") <= F.col("tmid"), 0).otherwise(1).alias("h"),
        "y",
    )
    g = halves.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("decimal(38,2)").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,4)").alias("ss"),
    )
    a = g.filter(F.col("h") == 0).select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("ss").alias("ss1"),
    )
    b = g.filter(F.col("h") == 1).select(
        "event_type",
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
        F.col("ss").alias("ss2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    v1 = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n1")
    ) / (F.col("n1") - 1)
    v2 = (
        F.col("ss2").cast("double")
        - F.col("s2").cast("double") * F.col("s2").cast("double") / F.col("n2")
    ) / (F.col("n2") - 1)
    # n >= 2 in BOTH halves keeps the (n-1) variance denominators
    # well-defined and pins m_tests to the same family in both
    # engines (a type present in only one half never enters — the
    # inner join drops it — but a 1-row half would divide by zero).
    zt = (
        a.join(b, "event_type")
        .filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
        .select(
            "event_type",
            "n1",
            "n2",
            exact_round(
                (m1 - m2) / F.sqrt(v1 / F.col("n1") + v2 / F.col("n2")), 6
            ).alias("z"),
        )
    )
    x = F.abs(F.col("z")) / F.lit(1.4142135623730951)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = (
        (
            (
                (F.lit(_AS_A[4]) * t + F.lit(_AS_A[3])) * t
                + F.lit(_AS_A[2])
            )
            * t
            + F.lit(_AS_A[1])
        )
        * t
        + F.lit(_AS_A[0])
    ) * t
    tail = F.lit(0.5) * poly * F.exp(-x * x)
    pv = zt.select("event_type", "n1", "n2", "z", exact_round(2.0 * tail, 6).alias("p"))
    wr = Window.orderBy("p", "event_type")
    ranked = pv.select(
        "*",
        F.row_number().over(wr).cast("bigint").alias("rnk"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).cast("bigint").alias("m_tests"),
    )
    cut = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p")
                    <= F.lit(BH_Q) * F.col("rnk") / F.col("m_tests"),
                    F.col("rnk"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return ranked.crossJoin(F.broadcast(cut)).select(
        "event_type",
        "n1",
        "n2",
        "z",
        "p",
        F.col("rnk").alias("p_rank"),
        exact_round(F.lit(BH_Q) * F.col("rnk") / F.col("m_tests"), 6).alias(
            "bh_threshold"
        ),
        (F.col("rnk") <= F.col("k")).alias("rejected"),
    )


# X266 — Theil-Sen robust trend via lag-offset pair sampling -----------------
#: geometric lag offsets: pairs (i, i+g) per type — 4n slope samples,
#: never the quadratic all-pairs set.
TS_LAGS = (1, 7, 49, 343)


def _theil_sen_oracle() -> str:
    lag_union = "\nUNION ALL\n".join(
        f"""      SELECT a.event_type,
             CAST(ROUND(CAST(
               (b.y - a.y) / ((b.tu - a.tu) / 3600000000.0)
               AS DECIMAL(28,10)), 6) AS DOUBLE) AS slope
      FROM idx a JOIN idx b
        ON b.event_type = a.event_type AND b.i = a.i + {g}
      WHERE b.tu > a.tu"""
        for g in TS_LAGS
    )
    return f"""
    WITH idx AS (
      SELECT event_type, epoch_us(ts) AS tu,
             CAST(value AS DOUBLE) AS y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS i
      FROM events
    ),
    slopes AS (
{lag_union}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(ROUND(CAST(quantile_cont(slope, 0.5) AS DECIMAL(28,10)), 6)
                AS DOUBLE) AS sen_slope
    FROM slopes GROUP BY event_type
    """


@query(
    "theil_sen_trend",
    oracle=_theil_sen_oracle(),
    tags=("analytics", "stats", "extension"),
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X266: THEIL-SEN robust trend per event type — the median of
    pairwise slopes, immune to the outliers that drag
    `trend_regression_per_type`'s OLS line (X77: same table, same
    per-hour units — run both and diverging slopes ARE the outlier
    alarm). Classic Theil-Sen is O(n²) pairs; this is the
    SAMPLED-PAIRS estimator: per type, pairs (i, i+g) at geometric
    lag offsets g ∈ TS_LAGS — 4n deterministic slope samples whose
    median converges to the same robust line (Siegel-style sampling;
    lags mix short and long baselines so the estimate is not
    dominated by adjacent-point noise).

    Determinism: the pair set is a pure function of the per-type time
    order (index self-join on i+g — no RNG); slopes
    6-dp-decimal-rounded before the median, which both engines
    interpolate identically.

    Scale shape: per-type index = PARTITIONED ranking window; each
    lag is one equi-join on (type, index) — hash join, slope a narrow
    projection; the median buffer holds the per-type SAMPLES (4·n_type
    — for a very hot type swap in the two-pass exact quantile, the
    standing escape hatch). Never all-pairs at any scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        epoch_us("ts").alias("tu"),
        F.col("value").cast("double").alias("y"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # r11: materialize the ranked frame ONCE — it feeds the `a` side
    # plus one `b` side per lag, and un-checkpointed the scan + window
    # re-ran 1 + len(TS_LAGS) times per query (measured: 4 × ~0.5 s
    # repeated single-task window stages at sf0.1).
    idx = ev.withColumn("i", F.row_number().over(w)).select(
        "event_type", "tu", "y", "i"
    ).localCheckpoint(eager=True)
    a = idx.select(
        "event_type",
        F.col("i").alias("ia"),
        F.col("tu").alias("ta"),
        F.col("y").alias("ya"),
    )
    slopes = None
    for g in TS_LAGS:
        b = idx.select(
            "event_type",
            (F.col("i") - g).alias("ia"),
            F.col("tu").alias("tb"),
            F.col("y").alias("yb"),
        )
        s = (
            a.join(b, ["event_type", "ia"])
            .filter(F.col("tb") > F.col("ta"))
            .select(
                "event_type",
                exact_round(
                    (F.col("yb") - F.col("ya"))
                    / ((F.col("tb") - F.col("ta")) / 3600000000.0),
                    6,
                ).alias("slope"),
            )
        )
        slopes = s if slopes is None else slopes.unionAll(s)
    # r11 (guide §2.3 aggregate-before-shuffle): collapse the slope
    # sample to (type, slope, frequency) with a map-side-combinable
    # count FIRST, then take the frequency-weighted exact percentile.
    # Spark's Percentile accumulates a value→count map either way, so
    # the interpolation arithmetic — and the result — is bit-identical
    # to the row-expanded form; what changes is the wire (distinct
    # slopes instead of every sample) and the parallelism of the heavy
    # grouping (was: one 2.07 s single-task stage pulling all samples).
    dist = slopes.groupBy("event_type", "slope").agg(
        F.count(F.lit(1)).alias("f")
    )
    return dist.groupBy("event_type").agg(
        F.sum("f").cast("bigint").alias("n_pairs"),
        exact_round(
            F.percentile("slope", F.lit(0.5), F.col("f")), 6
        ).alias("sen_slope"),
    )


# X268 — CUPED variance reduction for experiments ----------------------------
def _treatment_arm() -> F.Column:
    """The experiment arm of ``user_id`` by the parity of its salted
    hash; CUPED and the two-proportion z-test share it."""
    salted = F.concat(F.lit("arm-"), F.col("user_id").cast("string"))
    even = md5_int(salted, 1).cast("long") % 2 == 0
    return F.when(even, "treatment").otherwise("control")


def _cuped_oracle() -> str:
    return """
    WITH med AS (
      SELECT quantile_cont(epoch_us(ts), 0.5) AS tmid FROM events
    ),
    per_user AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5('arm-'
                    || CAST(user_id AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
                  THEN 'treatment' ELSE 'control' END AS arm,
             CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) <= med.tmid
                                    THEN CAST(value AS DECIMAL(18,2)) END),
                           0) AS DECIMAL(18,2)) AS x,
             CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) > med.tmid
                                    THEN CAST(value AS DECIMAL(18,2)) END),
                           0) AS DECIMAL(18,2)) AS y
      FROM events, med GROUP BY user_id, med.tmid
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(38,4)) AS sxy,
             CAST(SUM(x * x) AS DECIMAL(38,4)) AS sxx
      FROM per_user
    ),
    theta AS (
      SELECT CAST(ROUND(CAST(
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sy AS DOUBLE) / n)
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sx AS DOUBLE) / n)
               AS DECIMAL(28,14)), 12) AS DOUBLE) AS th
      FROM pooled
    ),
    arm_stats AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
             CAST(SUM(x * y) AS DECIMAL(38,4)) AS sxy,
             CAST(SUM(x * x) AS DECIMAL(38,4)) AS sxx,
             CAST(SUM(y * y) AS DECIMAL(38,4)) AS syy
      FROM per_user GROUP BY arm
    )
    SELECT arm, n,
           CAST(ROUND(CAST(CAST(sy AS DOUBLE) / n AS DECIMAL(28,10)), 4)
                AS DOUBLE) AS mean_y,
           CAST(ROUND(CAST(
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                * CAST(sy AS DOUBLE) / n) / (n - 1)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS var_y,
           CAST(ROUND(CAST(
             ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                 * CAST(sy AS DOUBLE) / n)
              - 2 * theta.th * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                 * CAST(sy AS DOUBLE) / n)
              + theta.th * theta.th * (CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)) / (n - 1)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS var_y_cuped
    FROM arm_stats, theta
    """


@query(
    "cuped_variance_reduction",
    oracle=_cuped_oracle(),
    tags=("analytics", "stats", "extension"),
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X268: CUPED (Controlled-experiment Using Pre-Experiment Data,
    Deng et al. WSDM 2013) — the industry-standard experiment
    variance-reduction: per user, pre-period activity X predicts
    post-period metric Y; the adjusted metric Y − θX (θ =
    cov(X,Y)/var(X), pooled) keeps the treatment effect unbiased while
    shrinking variance by the X↔Y correlation. Completes the
    experimentation shelf: X159 reads the experiment, X217 checks its
    randomization, X265 corrects its multiplicity — this one makes it
    SENSITIVE. The report gives per-arm raw vs CUPED variance; the
    reduction ratio is the sample-size saving a real experiment
    platform quotes.

    Determinism: arm = salted md5 nibble parity of user_id (the
    hash-randomization discipline of X159); the pre/post cut is the
    exact median event time (two-pass quantile); θ
    12-dp-decimal-rounded before reuse.

    Scale shape: one (user)-keyed partial-agg shuffle builds the
    per-user (X, Y) frame with exact DECIMAL sums; moments are
    keyless/3-key partial aggs over it; θ broadcasts back as a 1-row
    scalar. Second moments are decimal products of 2-dp decimals —
    order-free exact parity."""
    from ..functions.quantiles import exact_quantiles_two_pass

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        epoch_us("ts").alias("tu"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    med = exact_quantiles_two_pass(ev, "tu", [0.5]).select(
        F.element_at("qv", 1).alias("tmid")
    )
    arm = _treatment_arm()
    per_user = (
        ev.crossJoin(F.broadcast(med))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("tu") <= F.col("tmid"), F.col("v"))),
                F.lit(0),
            )
            .cast("decimal(18,2)")
            .alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("tu") > F.col("tmid"), F.col("v"))),
                F.lit(0),
            )
            .cast("decimal(18,2)")
            .alias("y"),
        )
        .select(arm.alias("arm"), "x", "y")
    )
    def moments(df, keys):
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("decimal(38,2)").alias("sx"),
            F.sum("y").cast("decimal(38,2)").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("decimal(38,4)").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("decimal(38,4)").alias("syy"),
        )
    pooled = moments(per_user, [])
    th = pooled.select(
        F.round(
            (
                (
                    F.col("sxy").cast("double")
                    - F.col("sx").cast("double")
                    * F.col("sy").cast("double")
                    / F.col("n")
                )
                / (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double")
                    * F.col("sx").cast("double")
                    / F.col("n")
                )
            ).cast("decimal(28,14)"),
            12,
        )
        .cast("double")
        .alias("th")
    )
    arm_stats = moments(per_user, ["arm"])
    cy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double") / F.col("n")
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double") / F.col("n")
    cx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / F.col("n")
    return arm_stats.crossJoin(F.broadcast(th)).select(
        "arm",
        "n",
        exact_round(F.col("sy").cast("double") / F.col("n"), 4).alias("mean_y"),
        exact_round(cy / (F.col("n") - 1), 4).alias("var_y"),
        exact_round(
            (
                cy
                - 2 * F.col("th") * cxy
                + F.col("th") * F.col("th") * cx
            )
            / (F.col("n") - 1),
            4,
        ).alias("var_y_cuped"),
    )


# X269 — experiment power / MDE report ---------------------------------------
#: two-sided alpha=0.05 and power=0.80 normal quantiles (exact literals
#: shared by both engines).
Z_ALPHA_2 = 1.959963984540054
Z_POWER = 0.8416212335729143


@query(
    "power_analysis_report",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS y
      FROM events GROUP BY user_id, event_type
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_units,
             CAST(SUM(y) AS DECIMAL(38,2)) AS s,
             CAST(SUM(y * y) AS DECIMAL(38,4)) AS ss
      FROM per_user GROUP BY event_type
    )
    SELECT event_type, n_units,
           CAST(ROUND(CAST(CAST(s AS DOUBLE) / n_units
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS mean_y,
           CAST(ROUND(CAST(
             sqrt((CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_units)
                  / (n_units - 1))
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS sd_y,
           CAST(ROUND(CAST(
             ({Z_ALPHA_2!r} + {Z_POWER!r})
             * sqrt((CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_units)
                    / (n_units - 1))
             * sqrt(4.0 / n_units)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS mde_abs,
           CAST(ROUND(CAST(
             ({Z_ALPHA_2!r} + {Z_POWER!r})
             * sqrt((CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_units)
                    / (n_units - 1))
             * sqrt(4.0 / n_units)
             / (CAST(s AS DOUBLE) / n_units)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS mde_rel
    FROM m
    """,
    tags=("analytics", "stats", "extension"),
)
def power_analysis_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X269: EXPERIMENT POWER / minimum-detectable-effect report — the
    design-time calculation before any A/B runs: per candidate metric
    (event type), with the current unit count n split 50/50, the
    smallest absolute and relative lift detectable at α=0.05
    two-sided with 80% power: MDE = (z_α/2 + z_β)·σ·√(4/n). Closes the
    experimentation shelf's loop: X269 designs, X159 reads, X217
    checks randomization, X268 sensitizes, X265 corrects multiplicity.

    Unit of randomization is the USER (the X159 discipline — per-user
    metric sums first, so user-level correlation doesn't fake
    precision); z constants are shared exact literals; σ from exact
    decimal moments, outputs 4/6-dp-decimal-rounded.

    Scale shape: one (user, type) partial-agg shuffle, then a
    type-keyed moment agg — two map-side-combined exchanges, scalar
    math after. At 100 TB this is the cheapest possible two-level
    aggregation."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("user_id", "event_type")
        .agg(F.sum("v").cast("decimal(38,2)").alias("y"))
    )
    m = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("y").cast("decimal(38,2)").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,4)").alias("ss"),
    )
    mean_y = F.col("s").cast("double") / F.col("n_units")
    var_y = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n_units")
    ) / (F.col("n_units") - 1)
    mde = (
        F.lit(Z_ALPHA_2 + Z_POWER)
        * F.sqrt(var_y)
        * F.sqrt(F.lit(4.0) / F.col("n_units"))
    )
    return m.select(
        "event_type",
        "n_units",
        exact_round(mean_y, 4).alias("mean_y"),
        exact_round(F.sqrt(var_y), 4).alias("sd_y"),
        exact_round(mde, 4).alias("mde_abs"),
        exact_round(mde / mean_y, 6).alias("mde_rel"),
    )


# X270 — two-proportion z-test on hash-randomized arms -----------------------
#: a user "converts" at >= this many purchase events (the per-user
#: median at every SF is 13-14, so both outcomes are populated and the
#: pooled-variance denominator can never hit 0 or 1 exactly).
TPZ_MIN_PURCHASES = 14


@query(
    "two_proportion_ztest",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5('arm-'
                    || CAST(user_id AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
                  THEN 'treatment' ELSE 'control' END AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) >= {TPZ_MIN_PURCHASES}
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM per_user GROUP BY arm
    ),
    wide AS (
      SELECT t.n AS nt, t.conv AS ct, c.n AS nc, c.conv AS cc
      FROM (SELECT * FROM g WHERE arm = 'treatment') t,
           (SELECT * FROM g WHERE arm = 'control') c
    ),
    z AS (
      SELECT nt, ct, nc, cc,
             CAST(ROUND(CAST(
               (CAST(ct AS DOUBLE) / nt - CAST(cc AS DOUBLE) / nc)
               / sqrt((CAST(ct + cc AS DOUBLE) / (nt + nc))
                      * (1.0 - CAST(ct + cc AS DOUBLE) / (nt + nc))
                      * (1.0 / nt + 1.0 / nc))
               AS DECIMAL(28,10)), 6) AS DOUBLE) AS zval
      FROM wide
    )
    SELECT nt AS n_treatment, ct AS conv_treatment,
           nc AS n_control, cc AS conv_control,
           CAST(ROUND(CAST(CAST(ct AS DOUBLE) / nt AS DECIMAL(28,10)), 6)
                AS DOUBLE) AS rate_treatment,
           CAST(ROUND(CAST(CAST(cc AS DOUBLE) / nc AS DECIMAL(28,10)), 6)
                AS DOUBLE) AS rate_control,
           zval AS z,
           CAST(ROUND(CAST(2.0 * {_phi_tail_sql('abs(zval)')}
                           AS DECIMAL(28,10)), 6) AS DOUBLE) AS p_value
    FROM z
    """,
    tags=("analytics", "stats", "extension"),
)
def two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X270: TWO-PROPORTION z-test for conversion rates — the binary-
    metric counterpart of X159's Welch test on means: unit = user
    (converted iff the user logged >= TPZ_MIN_PURCHASES purchase
    events — a repeat-purchaser threshold, chosen so both arms land
    away from rate 0/1 on the synthetic data; the oracle applies the
    identical threshold), arms = the salted-hash
    randomization, pooled-proportion standard error, two-sided p via
    the shared A&S normal-tail polynomial (X265's). The test every
    growth experiment actually runs; feeds X265's correction when run
    per segment.

    Exactness: conversion counts are pure integers; z and p
    6-dp-decimal-rounded (exp/sqrt agree far inside the rounding).

    Scale shape: one user-keyed partial-agg shuffle (MAX of a 0/1 —
    map-side combined), one 2-key count agg, scalar math on a 1-row
    frame. The cheapest possible experiment readout."""
    per_user = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("is_p"),
        )
        .groupBy("user_id")
        .agg(
            F.when(F.sum("is_p") >= TPZ_MIN_PURCHASES, 1)
            .otherwise(0)
            .alias("converted")
        )
    )
    arm = _treatment_arm()
    g = (
        per_user.select(arm.alias("arm"), "converted")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("converted").cast("bigint").alias("conv"),
        )
    )
    t = g.filter(F.col("arm") == "treatment").select(
        F.col("n").alias("nt"), F.col("conv").alias("ct")
    )
    c = g.filter(F.col("arm") == "control").select(
        F.col("n").alias("nc"), F.col("conv").alias("cc")
    )
    wide = t.crossJoin(F.broadcast(c))
    pt = F.col("ct").cast("double") / F.col("nt")
    pc = F.col("cc").cast("double") / F.col("nc")
    pp = (F.col("ct") + F.col("cc")).cast("double") / (
        F.col("nt") + F.col("nc")
    )
    z = wide.select(
        "nt",
        "ct",
        "nc",
        "cc",
        exact_round(
            (pt - pc)
            / F.sqrt(
                pp * (1.0 - pp) * (1.0 / F.col("nt") + 1.0 / F.col("nc"))
            ),
            6,
        ).alias("zval"),
    )
    x = F.abs(F.col("zval")) / F.lit(1.4142135623730951)
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = (
        (
            (
                (F.lit(_AS_A[4]) * tt + F.lit(_AS_A[3])) * tt
                + F.lit(_AS_A[2])
            )
            * tt
            + F.lit(_AS_A[1])
        )
        * tt
        + F.lit(_AS_A[0])
    ) * tt
    tail = F.lit(0.5) * poly * F.exp(-x * x)
    return z.select(
        F.col("nt").alias("n_treatment"),
        F.col("ct").alias("conv_treatment"),
        F.col("nc").alias("n_control"),
        F.col("cc").alias("conv_control"),
        exact_round(F.col("ct").cast("double") / F.col("nt"), 6).alias(
            "rate_treatment"
        ),
        exact_round(F.col("cc").cast("double") / F.col("nc"), 6).alias("rate_control"),
        F.col("zval").alias("z"),
        exact_round(2.0 * tail, 6).alias("p_value"),
    )


# X273 — split-conformal calibration report ----------------------------------
#: miscoverage target: the conformal guarantee is P(miss) <= CONF_ALPHA.
CONF_ALPHA_NUM, CONF_ALPHA_DEN = 1, 10  # alpha = 0.1 as exact integers
#: md5 nibble split: 0-7 train (fit the predictor), 8-b calibration
#: (score quantile), c-f test (honest coverage).
_CONF_TRAIN = tuple("01234567")
_CONF_CAL = tuple("89ab")


def _conf_split_sql() -> str:
    train = ", ".join(f"'{c}'" for c in _CONF_TRAIN)
    cal = ", ".join(f"'{c}'" for c in _CONF_CAL)
    return f"""
    ev AS (
      SELECT event_type, CAST(value AS DECIMAL(18,2)) AS y,
             event_id,
             CASE
               WHEN substr(md5('conf-' || CAST(event_id AS VARCHAR)), 1, 1)
                    IN ({train}) THEN 'train'
               WHEN substr(md5('conf-' || CAST(event_id AS VARCHAR)), 1, 1)
                    IN ({cal}) THEN 'cal'
               ELSE 'test'
             END AS part
      FROM events
    ),
    mu AS (
      SELECT event_type,
             CAST(ROUND(CAST(CAST(SUM(y) AS DOUBLE) / COUNT(*)
                             AS DECIMAL(28,10)), 6) AS DOUBLE) AS m,
             CAST(COUNT(*) AS BIGINT) AS n_train
      FROM ev WHERE part = 'train' GROUP BY event_type
    ),
    scored AS (
      SELECT ev.event_type, ev.part, ev.event_id,
             CAST(ROUND(CAST(ABS(CAST(ev.y AS DOUBLE) - mu.m)
                             AS DECIMAL(28,10)), 6) AS DOUBLE) AS s
      FROM ev JOIN mu USING (event_type) WHERE ev.part <> 'train'
    ),
    calr AS (
      SELECT event_type, s,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY s, event_id) AS BIGINT)
               AS rk,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_cal
      FROM scored WHERE part = 'cal'
    ),
    q AS (
      SELECT event_type, MAX(n_cal) AS n_cal,
             MAX(CASE WHEN rk = CAST(FLOOR(
                   ((({CONF_ALPHA_DEN} - {CONF_ALPHA_NUM}) * (n_cal + 1))
                    + {CONF_ALPHA_DEN} - 1) / {CONF_ALPHA_DEN}.0)
                   AS BIGINT)
                 THEN s END) AS q_hat
      FROM calr GROUP BY event_type
    )"""


@query(
    "conformal_calibration_report",
    oracle="WITH "
    + _conf_split_sql()
    + """
    SELECT q.event_type,
           mu.n_train,
           q.n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           mu.m AS mu_hat,
           q.q_hat,
           CAST(ROUND(CAST(CAST(SUM(CASE WHEN q.q_hat IS NULL
                                          OR t.s <= q.q_hat
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           / COUNT(*) AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS coverage
    FROM (SELECT * FROM scored WHERE part = 'test') t
    JOIN q USING (event_type) JOIN mu USING (event_type)
    GROUP BY q.event_type, mu.n_train, q.n_cal, mu.m, q.q_hat
    """,
    tags=("analytics", "stats", "extension"),
)
def conformal_calibration_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X273: SPLIT-CONFORMAL prediction calibration — the
    distribution-free interval protocol an ML platform wraps around
    any point predictor: fit on TRAIN (here the per-type mean — the
    predictor is deliberately simple; the PROTOCOL is the operator),
    take the k = ceil((n_cal+1)(1-alpha))-th smallest absolute
    residual on a held-out CALIBRATION set as the interval half-width
    q̂, then measure honest coverage P(|y - ŷ| ≤ q̂) on a THIRD
    disjoint test split — the conformal guarantee says ≥ 1 - alpha,
    and the report shows it holding without any distributional
    assumption. calibration_bins_report audits a classifier's
    probabilities; THIS calibrates interval widths for a regressor.

    Determinism: the 3-way split is the md5-nibble idiom (8/4/4
    sixteenths); k is exact integer arithmetic
    (ceil(9(n+1)/10) = floor((9(n+1)+9)/10)); q̂ is the VALUE at rank
    k under a (score, event_id) total order — rank ties cannot change
    the value; scores and coverage are 6-dp-decimal-rounded so both
    engines compare identical doubles.

    Scale shape: one events scan → per-type train moments (map-side
    partial agg); scores join the tiny mu frame by broadcast; the
    rank window is PARTITIONED by event_type (bounded per-type state,
    never global); coverage is one more partial agg. Three exchanges
    total, all keyed on event_type."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("y"),
        "event_id",
        F.substring(
            F.md5(F.concat(F.lit("conf-"), F.col("event_id").cast("string"))),
            1,
            1,
        ).alias("nib"),
    )
    part = (
        F.when(F.col("nib").isin(*_CONF_TRAIN), "train")
        .when(F.col("nib").isin(*_CONF_CAL), "cal")
        .otherwise("test")
    )
    ev = ev.withColumn("part", part)
    mu = (
        ev.filter(F.col("part") == "train")
        .groupBy("event_type")
        .agg(
            exact_round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 6
            ).alias("m"),
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
        )
    )
    scored = (
        ev.filter(F.col("part") != "train")
        .join(F.broadcast(mu), "event_type")
        .select(
            "event_type",
            "part",
            "event_id",
            "n_train",
            "m",
            exact_round(F.abs(F.col("y").cast("double") - F.col("m")), 6).alias("s"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("s", "event_id")
    wn = Window.partitionBy("event_type")
    calr = (
        scored.filter(F.col("part") == "cal")
        .select(
            "event_type",
            "s",
            F.row_number().over(wr).cast("bigint").alias("rk"),
            F.count(F.lit(1)).over(wn).cast("bigint").alias("n_cal"),
        )
    )
    k = F.floor(
        (
            (CONF_ALPHA_DEN - CONF_ALPHA_NUM) * (F.col("n_cal") + 1)
            + CONF_ALPHA_DEN
            - 1
        ).cast("double")
        / CONF_ALPHA_DEN
    ).cast("bigint")
    q = calr.groupBy("event_type").agg(
        F.max("n_cal").cast("bigint").alias("n_cal"),
        F.max(F.when(F.col("rk") == k, F.col("s"))).alias("q_hat"),
    )
    test = scored.filter(F.col("part") == "test")
    return (
        test.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n_train", "n_cal", "m", "q_hat")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            exact_round(
                F.sum(
                    F.when(
                        F.col("q_hat").isNull()
                        | (F.col("s") <= F.col("q_hat")),
                        1,
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("coverage"),
        )
        .select(
            "event_type",
            "n_train",
            "n_cal",
            "n_test",
            F.col("m").alias("mu_hat"),
            "q_hat",
            "coverage",
        )
    )
