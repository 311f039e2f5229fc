"""TPC-H-analogue decision-support suite (X188-X201).

The reference's query surface (main.py:57-188) is point lookups and
single-table aggregates; a replacement analytics engine also needs the
canonical multi-join decision-support shapes — the TPC-H families:
priority top-k over a 3-way join (Q3), EXISTS semi-joins with
row-correlated predicates (Q4), 6-way star joins with a locality
predicate (Q5), bilateral fact slicing (Q7), lost-revenue ranking
(Q10), conditional-share aggregation (Q14), and argmax-join (Q15).
Each is adapted to the driver schema (TESTDATA.md): lineitem has no
commitdate/receiptdate/shipmode, so the lateness predicates use
``l_shipdate`` vs ``o_orderdate``; nations are NATION_0..24.

Scale shapes: dimension sides (region/nation/supplier/part/customer)
broadcast; the only exchanges are fact-fact shuffles on the join key
(orders⋈lineitem on orderkey) and the final group-by — the plan a
1000-executor cluster wants. Top-k is TakeOrdered (no global sort);
argmax is a one-row broadcast join, never a window over the corpus.

Float discipline (round-3 convention): money sums are exact
DECIMAL(18,4) products summed wide, cast to DOUBLE only at the output
edge; ratios are one shared IEEE ordering rounded through a
DECIMAL(28,10) so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.parity import exact_round
from ..registry import query

def _rev():
    """Exact-decimal revenue term: extendedprice * (1 - discount),
    fixed at 4 dp before the order-independent sum (the
    agg_pricing_summary idiom). A function, not a module constant:
    Column construction needs an active SparkContext and this module
    imports at registry-load time."""
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )

_REV_SQL = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"


def _ts(lit: str):
    return F.lit(lit).cast("timestamp")


# X188 — Q3 analogue: shipping-priority top-k ------------------------------
@query(
    "shipping_priority_topk",
    oracle=f"""
    WITH rev AS (
      SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
             SUM({_REV_SQL}) AS rev_dec
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
        AND l.l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY 1, 2, 3
    )
    SELECT o_orderkey, CAST(rev_dec AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM rev
    ORDER BY rev_dec DESC, o_orderdate, o_orderkey
    LIMIT 10
    """,
    tags=("tpch", "analytics", "topk", "extension"),
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X188 (TPC-H Q3 analogue): the 10 highest-value undelivered
    BUILDING-segment orders — unshipped revenue per order for orders
    placed before the cutoff with line items shipping after it.

    Plan: segment filter prunes customer BEFORE its broadcast; orders
    and lineitem both arrive date-pruned at the parquet scan (pushed
    filters); the one real exchange is orders⋈lineitem on orderkey +
    the per-order partial agg. Top-10 is TakeOrdered with a full
    (rev, date, key) tiebreak — deterministic, no global sort."""
    cutoff = _ts("1998-01-01")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev()).alias("rev_dec"))
    )
    return (
        rev.orderBy(
            F.col("rev_dec").desc(), "o_orderdate", "o_orderkey"
        )
        .limit(10)
        .select(
            "o_orderkey",
            F.col("rev_dec").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


# X189 — Q4 analogue: order-priority checking ------------------------------
@query(
    "order_priority_check",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o.o_orderpriority
    """,
    tags=("tpch", "analytics", "semi-join", "extension"),
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X189 (TPC-H Q4 analogue): per-priority count of 1997-Q1 orders
    with at least one LATE line item (shipped >90 days after the order
    date; the schema has no commitdate, so lateness is ship-vs-order).

    Plan: the EXISTS becomes a left-semi join with the row-correlated
    lateness predicate in the join condition — Spark dedups the probe
    side inside the semi join, no DISTINCT needed. The quarter filter
    is pushed to the orders scan; lineitem carries only (orderkey,
    shipdate) into the exchange."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate
            > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")
        ),
        "leftsemi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# X190 — Q5 analogue: local supplier volume --------------------------------
@query(
    "local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    tags=("tpch", "analytics", "star-join", "extension"),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X190 (TPC-H Q5 analogue): 1996 revenue by ASIA nation counting
    only LOCAL trade — line items whose supplier sits in the same
    nation as the ordering customer.

    Plan: the full 6-way star resolves with ONE fact-fact exchange
    (orders⋈lineitem on orderkey). region→nation collapses to a
    5-nation broadcast list; supplier (with its nation name attached)
    broadcasts; customer broadcasts with only (custkey, nationkey).
    The locality predicate c_nationkey = s_nationkey rides the
    supplier broadcast join — no extra shuffle."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nat = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    j = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(_rev()).cast("double").alias("revenue")
    )


# X191 — Q7 analogue: bilateral trade volume -------------------------------
@query(
    "bilateral_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM({_REV_SQL.replace('l_', 'l.l_')}) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1999-01-01'
      AND l.l_shipdate < TIMESTAMP '2001-01-01'
    GROUP BY 1, 2, 3
    """,
    tags=("tpch", "analytics", "star-join", "extension"),
)
def bilateral_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X191 (TPC-H Q7 analogue): shipped revenue between NATION_1 and
    NATION_2 in both directions, split by supplier-nation /
    customer-nation / ship-year, 1999-2000.

    Plan: both nation lookups resolve BEFORE the fact join — supplier
    and customer each pre-join their (2-row) nation slice and
    broadcast, so the disjunctive pair predicate runs on broadcast
    rows. One orderkey exchange joins the two pre-filtered fact
    sides; the pair filter then needs both sides bound, so it sits
    right after that join."""
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1999-01-01"))
        & (F.col("l_shipdate") < _ts("2001-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    j = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(F.sum(_rev()).cast("double").alias("revenue"))


# X192 — Q10 analogue: returned-item lost revenue --------------------------
@query(
    "returned_items_report",
    oracle=f"""
    WITH lost AS (
      SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name AS nation,
             SUM({_REV_SQL.replace('l_', 'l.l_')}) AS rev_dec
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1997-07-01'
        AND o.o_orderdate < TIMESTAMP '1997-10-01'
      GROUP BY 1, 2, 3, 4
    )
    SELECT c_custkey, c_name, CAST(rev_dec AS DOUBLE) AS lost_revenue,
           c_acctbal, nation
    FROM lost
    ORDER BY rev_dec DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "analytics", "topk", "extension"),
)
def returned_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X192 (TPC-H Q10 analogue): the 20 customers who returned the
    most revenue in 1997-Q3 — the churn-risk escalation list, with
    account balance and nation for the follow-up call.

    Plan: returnflag + quarter filters are pushed to both fact scans;
    one orderkey exchange, then the per-customer agg reshuffles on
    custkey; customer and nation attributes broadcast onto the
    AGGREGATED frame (1 row per customer), not the fact rows. Top-20
    is TakeOrdered on the exact decimal with a custkey tiebreak."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-07-01"))
        & (F.col("o_orderdate") < _ts("1997-10-01"))
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        orders.select("o_orderkey", "o_custkey")
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_rev()).alias("rev_dec"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    enriched = rev.join(
        F.broadcast(cust), rev.o_custkey == cust.c_custkey
    ).join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    return (
        enriched.orderBy(F.col("rev_dec").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("rev_dec").cast("double").alias("lost_revenue"),
            "c_acctbal",
            "nation",
        )
    )


# X193 — Q14 analogue: promotion revenue share -----------------------------
@query(
    "promo_revenue_share",
    oracle=f"""
    SELECT CAST(month(l.l_shipdate) AS INTEGER) AS ship_month,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN {_REV_SQL.replace('l_', 'l.l_')}
                         ELSE CAST(0 AS DECIMAL(18,4)) END)
                AS DOUBLE) AS promo_revenue,
           CAST(ROUND(CAST(
             100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN {_REV_SQL.replace('l_', 'l.l_')}
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM({_REV_SQL.replace('l_', 'l.l_')}) AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS promo_share_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    tags=("tpch", "analytics", "agg", "extension"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X193 (TPC-H Q14 analogue): per-ship-month share of 1997 revenue
    from PROMO-type parts — conditional aggregation over a fact⋈dim
    join, the marketing-effect readout.

    Plan: part broadcasts (p_partkey, p_type only); the year filter is
    pushed to the lineitem scan; one group-by-month exchange. Both the
    numerator and denominator are exact-decimal sums; the share is a
    single IEEE division rounded through DECIMAL(28,10) at the edge."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo_term = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    agg = j.groupBy(
        F.month("l_shipdate").cast("int").alias("ship_month")
    ).agg(
        F.sum(promo_term).alias("promo_dec"),
        F.sum(_rev()).alias("total_dec"),
    )
    return agg.select(
        "ship_month",
        F.col("promo_dec").cast("double").alias("promo_revenue"),
        exact_round(
            F.lit(100.0)
            * F.col("promo_dec").cast("double")
            / F.col("total_dec").cast("double"),
            6,
        ).alias("promo_share_pct"),
    )


# X194 — Q15 analogue: top supplier by quarter revenue ---------------------
@query(
    "top_supplier_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, SUM({_REV_SQL}) AS rev_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rev_dec AS DOUBLE) AS total_revenue
    FROM rev r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_dec = (SELECT MAX(rev_dec) FROM rev)
    """,
    tags=("tpch", "analytics", "argmax", "extension"),
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X194 (TPC-H Q15 analogue): the supplier(s) with the highest
    1997-Q1 shipped revenue — the argmax-over-aggregate shape, kept
    tie-faithful (every supplier AT the max is returned, as the spec's
    view-equality form requires).

    Plan: one partial-agg exchange on suppkey; the max is a one-row
    broadcast crossJoin back onto the aggregated frame (never a
    corpus-wide window, never a driver collect); the equality compares
    exact decimals so ties are bit-faithful. Supplier names broadcast
    onto the ≤handful of winners."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("rev_dec"))
    mx = rev.agg(F.max("rev_dec").alias("max_dec"))
    winners = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("rev_dec") == F.col("max_dec")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return winners.join(
        F.broadcast(sup), winners.l_suppkey == sup.s_suppkey
    ).select(
        "s_suppkey",
        "s_name",
        F.col("rev_dec").cast("double").alias("total_revenue"),
    )


# X195 — Q8 analogue: nation market share ----------------------------------
@query(
    "nation_market_share",
    oracle=f"""
    WITH base AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             {_REV_SQL.replace('l_', 'l.l_')} AS rev_dec,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      JOIN nation n1 ON l.l_suppkey IS NOT NULL
                    AND n1.n_nationkey = (SELECT s_nationkey FROM supplier s
                                          WHERE s.s_suppkey = l.l_suppkey)
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev_dec
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             AS nation_revenue,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev_dec
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(rev_dec) AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS mkt_share
    FROM base
    GROUP BY o_year
    """,
    tags=("tpch", "analytics", "star-join", "extension"),
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X195 (TPC-H Q8 analogue): NATION_2's share of ASIA-customer
    PROMO-part revenue by order year, 1996-1997 — the market-share
    readout: a conditional share over a 7-table star.

    Plan: part (PROMO only), customer (pre-joined to its ASIA nation
    slice), and supplier (pre-joined to nation for the supplier-nation
    name) all broadcast; the one fact-fact exchange is
    lineitem⋈orders on orderkey; numerator and denominator are exact
    decimal sums split by a CASE, the share one rounded IEEE division.
    The oracle's correlated-subquery supplier lookup is the same
    equi-join Spark runs — spelled per-row so DuckDB reuses the
    broadcast shape."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nat = load_table(spark, sf_dir, "nation")
    asia_nat = nat.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(asia_nat),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey")
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    base = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
    )
    nation_term = F.when(
        F.col("supp_nation") == "NATION_2", _rev()
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    agg = base.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.sum(nation_term).alias("nat_dec"),
        F.sum(_rev()).alias("tot_dec"),
    )
    return agg.select(
        "o_year",
        F.col("nat_dec").cast("double").alias("nation_revenue"),
        exact_round(
            F.col("nat_dec").cast("double") / F.col("tot_dec").cast("double"), 6
        ).alias("mkt_share"),
    )


# X196 — Q12 analogue: late-shipment priority classes ----------------------
@query(
    "late_shipment_priority",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
    tags=("tpch", "analytics", "agg", "extension"),
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X196 (TPC-H Q12 analogue): for 1997 LATE shipments (>60 days
    after order; schema has no shipmode/receiptdate, so the class is
    l_linestatus), how many came from high-priority orders vs low —
    the shipping-quality-vs-priority audit.

    Plan: the ship-year filter is pushed to the lineitem scan; the
    row-correlated lateness predicate evaluates right after the one
    orderkey exchange; two conditional counts fold into a single
    2-row aggregation."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    ).select("l_orderkey", "l_shipdate", "l_linestatus")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
    )


# X197 — Q17 analogue: small-quantity-order revenue ------------------------
@query(
    "small_qty_order_revenue",
    oracle="""
    WITH thr AS (
      SELECT l.l_partkey AS t_partkey,
             0.5 * (CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                         AS DOUBLE) / COUNT(*)) AS qty_thr
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#1'
      GROUP BY 1
    )
    SELECT CAST(ROUND(CAST(
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) / 7.0
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN thr ON thr.t_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND CAST(l.l_quantity AS DOUBLE) < thr.qty_thr
    """,
    tags=("tpch", "analytics", "correlated-agg", "extension"),
)
def small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X197 (TPC-H Q17 analogue): average yearly revenue lost if
    Brand#1 orders below HALF the part's average quantity moved to
    bulk — the correlated-aggregate-threshold shape.

    Plan: the correlated subquery decorrelates into a per-part
    partial agg (bounded by |part|, not |lineitem|) joined back on
    partkey — the per-part side is dim-bounded so AQE broadcasts it;
    brand filter prunes part before both uses. The threshold is one
    shared IEEE expression (decimal sum / count, halved) so Spark and
    DuckDB agree bit-for-bit on boundary rows."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    thr = branded.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.5)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            )
        ).alias("qty_thr")
    )
    small = branded.join(
        thr, branded.l_partkey == thr.t_partkey
    ).filter(F.col("l_quantity").cast("double") < F.col("qty_thr"))
    return small.agg(
        exact_round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                "double"
            )
            / F.lit(7.0),
            4,
        ).alias("avg_yearly")
    )


# X198 — Q18 analogue: large-volume customers ------------------------------
@query(
    "large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2)))
             > CAST(250 AS DECIMAL(18,2))
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, CAST(b.sum_qty AS DOUBLE) AS total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    tags=("tpch", "analytics", "having", "extension"),
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X198 (TPC-H Q18 analogue): the 20 largest-by-price orders whose
    total line quantity exceeds 250 units (≈99.5th percentile here) —
    the HAVING-over-fact-agg shape feeding a customer enrich.

    Plan: one orderkey partial agg with the HAVING applied AT the agg
    (survivors are a tiny fraction, so everything downstream is
    broadcast-sized); orders attributes join the survivors (AQE
    broadcasts the filtered agg side), customer broadcast; top-20 is
    TakeOrdered on (totalprice, orderkey). Quantity sums are exact
    decimal so the >250 boundary cannot flap."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias(
                "sum_qty"
            )
        )
        .filter(F.col("sum_qty") > F.lit(250).cast("decimal(18,2)"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    j = big.join(orders, big.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return (
        j.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("sum_qty").cast("double").alias("total_qty"),
        )
    )


# X199 — Q19 analogue: disjunctive-predicate revenue -----------------------
@query(
    "disjunctive_predicate_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL.replace('l_', 'l.l_')}) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 40
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
    tags=("tpch", "analytics", "predicate", "extension"),
)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X199 (TPC-H Q19 analogue): revenue from three OR'ed
    brand/size/quantity bands — the disjunctive cross-table predicate
    that tests predicate normalization: the part-only conjuncts
    (brand IN, size ≥ 1) factor out and PUSH DOWN to the dim scan
    even though the full predicate straddles the join.

    Plan: part broadcasts pre-filtered to the union of the three
    brand bands; the residual disjunction evaluates on the broadcast
    join output; one exact-decimal sum reduction to a single row."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 35)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 40)
        & F.col("l_quantity").between(20, 50)
    )
    return j.filter(band).agg(
        F.sum(_rev()).cast("double").alias("revenue")
    )


# X200 — Q21 analogue: sole late supplier ranking --------------------------
@query(
    "late_sole_supplier_ranking",
    oracle="""
    WITH per_pair AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS any_late
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    per_order AS (
      SELECT l_orderkey,
             COUNT(*) AS nsupp,
             SUM(any_late) AS nlate,
             MIN(CASE WHEN any_late = 1 THEN l_suppkey END) AS late_supp
      FROM per_pair
      GROUP BY 1
    )
    SELECT s.s_name, s.s_suppkey, COUNT(*) AS numwait
    FROM per_order po
    JOIN supplier s ON s.s_suppkey = po.late_supp
    WHERE po.nsupp > 1 AND po.nlate = 1
    GROUP BY 1, 2
    ORDER BY numwait DESC, s.s_suppkey
    LIMIT 15
    """,
    tags=("tpch", "analytics", "agg", "extension"),
)
def late_sole_supplier_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X200 (TPC-H Q21 analogue): suppliers most often the SOLE late
    supplier on a multi-supplier order (late = shipped >60 days after
    the order date) — the blame-assignment ranking.

    Plan: Q21's EXISTS / NOT-EXISTS self-join pair decorrelates into
    ONE per-order aggregation — count distinct suppliers, count
    distinct LATE suppliers, min late suppkey — so lineitem is
    scanned once and shuffled once (on orderkey; the spec shape would
    scan it three times). Sole-blame orders filter at the agg;
    supplier names broadcast; top-15 is TakeOrdered."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    # two-level aggregation instead of two COUNT(DISTINCT)s in one agg:
    # the multi-distinct form planned an Expand (3x the fact rows
    # through the shuffle); pre-aggregating per (orderkey, suppkey)
    # map-side-combines first and measured 2.9x faster at sf0.1
    # (6.5 -> 2.2 s) with identical results.
    per_pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("any_late"))
    )
    per_order = (
        per_pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("nsupp"),
            F.sum("any_late").alias("nlate"),
            F.min(
                F.when(F.col("any_late") == 1, F.col("l_suppkey"))
            ).alias("late_supp"),
        )
        .filter((F.col("nsupp") > 1) & (F.col("nlate") == 1))
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    ranked = (
        per_order.join(
            F.broadcast(sup), per_order.late_supp == sup.s_suppkey
        )
        .groupBy("s_name", "s_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return ranked.orderBy(F.col("numwait").desc(), "s_suppkey").limit(15)


# X201 — Q22 analogue: idle high-balance customers -------------------------
@query(
    "idle_customer_balance",
    oracle="""
    WITH pos AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS cntry,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS totacctbal
    FROM customer c
    WHERE c.c_nationkey IN (0, 3, 7, 11, 19)
      AND CAST(c.c_acctbal AS DOUBLE) > (SELECT avg_bal FROM pos)
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY c.c_nationkey
    """,
    tags=("tpch", "analytics", "anti-join", "extension"),
)
def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X201 (TPC-H Q22 analogue): per selected nation, count and total
    balance of above-average-balance customers with NO recent orders
    (none since 1999) — the dormant-capital prospect list. The
    schema has no c_phone, so the country code is c_nationkey.

    Plan: the scalar average is a one-row broadcast crossJoin (never
    a collect); the NOT EXISTS is a left-anti join against orders
    date-pruned at the scan; balance sums are exact decimal. The anti
    join shuffles on custkey — at 100 TB that is the one necessary
    exchange (both sides fact-sized)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("1999-01-01")
    ).select("o_custkey")
    idle = (
        cust.filter(F.col("c_nationkey").isin(0, 3, 7, 11, 19))
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "leftanti")
    )
    return idle.groupBy(F.col("c_nationkey").alias("cntry")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("totacctbal"),
    )


# X211 — Q6 analogue: forecast revenue change --------------------------------
@query(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue_effect,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
    tags=("tpch", "analytics", "scan", "extension"),
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X211 (TPC-H Q6): revenue gained by eliminating a discount band
    on small-quantity 1997 shipments — the pure scan-plus-predicate
    aggregate: no join at all, so it measures exactly how much of the
    predicate reaches the parquet reader.

    Plan: all three filters push to the scan (date range + discount
    band + quantity are all min/max-pruneable at the row-group level);
    the aggregate is one map-side partial sum of an exact
    DECIMAL(18,4) product reduced to a single row. At 100 TB this
    query is scan-bound by design — the plan has nothing else in it."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return li.agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("revenue_effect"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# X240 — Q13 analogue: customer order-count distribution --------------------
#: the priority class excluded from counting — the analogue of Q13's
#: "not these special-request comments" predicate (orders here carry no
#: comment column, so the exclusion rides the priority dimension).
CUSTDIST_EXCLUDED = "4-NOT SPECIFIED"


@query(
    "customer_order_distribution",
    oracle=f"""
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '{CUSTDIST_EXCLUDED}'
      GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
    tags=("tpch", "analytics", "extension"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X240 (TPC-H Q13 analogue): the DISTRIBUTION of customers by
    order count — how many customers placed 0, 1, 2, ... qualifying
    orders (priority '4-NOT SPECIFIED' excluded, standing in for Q13's
    comment predicate). The two-level "aggregate of an aggregate"
    shape the suite lacked: per-key counts, then the histogram OF those
    counts — with the LEFT join keeping zero-order customers in the
    c_count = 0 bucket (the bucket an inner join silently loses).

    Plan: orders pre-aggregate per custkey FIRST (one partial-agg
    exchange of (custkey) — never raw order rows into the join), then
    a left join against the customer key list, then the second
    aggregate over the tiny distinct-count domain. At 100 TB both join
    sides are dimension-sized (per-customer rows), so the join
    hash-shuffles two slim frames; the final histogram exchange is
    |distinct counts| rows."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != CUSTDIST_EXCLUDED)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_count"))
    )
    joined = c.join(
        per_cust, c.c_custkey == per_cust.o_custkey, "left"
    )
    return (
        joined.select(
            F.coalesce("c_count", F.lit(0)).cast("bigint").alias("c_count")
        )
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
    )
