"""Scalable ordered-window primitives.

The reference's sessionizer is a single ordered pass with mutable state
(main.py:69-184). The naive Spark translation is
``Window.orderBy(msg_idx)`` with no partitioning — correct, but a
single-partition sort that cannot scale (SURVEY.md §4, "ordered
sessionization" row).

``prefix_sum`` implements the scalable two-phase pattern instead:

1. bucket rows by range on the order column (narrow, preserves order
   within buckets),
2. aggregate per-bucket partial sums (tiny — one row per bucket),
3. window over the *buckets* to get each bucket's carry-in offset
   (driver-scale data, cheap),
4. broadcast-join the offsets back and add the within-bucket running
   sum computed under ``Window.partitionBy(bucket).orderBy(order)``.

Every stage is shuffle-light and no single task ever sees the whole
stream, so this holds at 100 TB. The DuckDB oracle for consumers uses a
plain global window — same semantics, different physical plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Rows per range bucket. At 100 TB you would size this so a bucket's
#: rows fit one task (~a few million); small here so tests exercise the
#: multi-bucket carry path.
DEFAULT_BUCKET_SIZE = 100_000


def prefix_sum(
    df: DataFrame,
    value: Column,
    order_col: str,
    out_name: str,
    bucket_size: int = DEFAULT_BUCKET_SIZE,
) -> DataFrame:
    """Add ``out_name`` = running sum of ``value`` ordered by
    ``order_col`` (rows unbounded preceding → current), computed with the
    two-phase distributed prefix sum described above.

    ``order_col`` must be unique and monotonically increasing (a Kafka
    offset / message index stand-in, FIXTURES.md B1).
    """
    bucketed = df.withColumn("__v", value).withColumn(
        "__bucket", (F.col(order_col) / F.lit(bucket_size)).cast("long")
    )
    # Per-bucket totals, then exclusive running total over buckets.
    # The bucket table is |data| / bucket_size rows — tiny.
    offsets = (
        bucketed.groupBy("__bucket")
        .agg(F.sum("__v").alias("__bucket_sum"))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__bucket_sum").over(
                    Window.orderBy("__bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__bucket", "__offset")
    )
    within = F.sum("__v").over(
        Window.partitionBy("__bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bucketed.join(F.broadcast(offsets), "__bucket")
        .withColumn(out_name, (F.col("__offset") + within))
        .drop("__bucket", "__offset", "__v")
    )


#: range-partition fan-out for the distributed rank assignment.
RANK_PARTS = 8


def distributed_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out_name: str = "rn",
    with_total: str | None = None,
) -> DataFrame:
    """Global 1-based ``row_number`` over ``order_cols`` (which must be
    a UNIQUE total order) WITHOUT a global sort-window — the
    ``_snm_cand`` fragment (operators/dedup.py) promoted to a shared
    primitive so dimension-sized ranking queries stop funneling the
    whole dimension through one WindowExec task:

    ``repartitionByRange`` co-locates each key range (equal keys never
    straddle partitions); per-partition ``row_number`` is bounded by
    partition size; the ONLY global window left is the carry over ONE
    ROW PER RANGE PARTITION (``RANK_PARTS`` rows at any scale — the
    prefix_sum discipline above). localCheckpoint pins the
    reservoir-sampled range boundaries so the counts branch and the
    ranked branch observe identical partitioning (task-retry race).

    ``with_total``: also attach the total row count as a column of this
    name, broadcast from the same per-partition counts (no extra scan).

    Storage lifecycle (ADVICE r7): ONE checkpoint per call — ``counts``
    (≤ ``RANK_PARTS`` rows) stays lazy, since determinism only needs the
    pinned ``parted`` it derives from; its two tiny consumers re-scan
    the in-memory checkpoint instead of materializing a second copy.
    The ``parted`` checkpoint is a LogicalRDD node of the returned
    plan, so it lives exactly as long as the caller holds the result
    and is reclaimed by the ContextCleaner afterwards — a caller that
    ranks the same base repeatedly (rfm_segmentation: three quartile
    orders) holds three partition-pinned copies while its result is
    alive, by construction, not by leak.
    """
    parted = (
        df.repartitionByRange(RANK_PARTS, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = parted.groupBy("__pid").count()
    offsets = counts.select(
        "__pid",
        F.coalesce(
            F.sum("count").over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("__off"),
    )
    within = F.row_number().over(
        Window.partitionBy("__pid").orderBy(*order_cols)
    )
    ranked = (
        parted.withColumn("__wrn", within)
        .join(F.broadcast(offsets), "__pid")
        .withColumn(out_name, F.col("__off") + F.col("__wrn"))
        .drop("__pid", "__wrn", "__off")
    )
    if with_total is not None:
        total = counts.agg(
            F.sum("count").cast("bigint").alias(with_total)
        )
        ranked = ranked.crossJoin(F.broadcast(total))
    return ranked


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """``NTILE(k)`` reconstructed from a global 1-based row_number
    ``rn`` and total count ``n`` in pure integer arithmetic — exactly
    the SQL placement both Spark and DuckDB implement: the first
    ``n % k`` tiles take ``floor(n/k)+1`` rows, the rest ``floor(n/k)``
    (tie placement is whatever order produced ``rn``). Lets NTILE ride
    on ``distributed_row_number`` instead of a global window."""
    base = F.floor(n / k).cast("bigint")
    rem = (n % k).cast("bigint")
    head = rem * (base + F.lit(1))
    # integer ceil(a/b) as floor((a+b-1)/b); the else-branch divisor is
    # greatest(base,1) only to keep ANSI mode happy — when base = 0
    # every row satisfies rn <= head, so the branch never applies.
    safe_base = F.greatest(base, F.lit(1))
    return (
        F.when(rn <= head, F.floor((rn + base) / (base + F.lit(1))))
        .otherwise(
            rem + F.floor((rn - head + safe_base - 1) / safe_base)
        )
        .cast("bigint")
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value: Column,
    out_name: str,
) -> DataFrame:
    """PER-GROUP running sum of ``value`` ordered by ``order_cols``
    WITHOUT per-group sort-window state bounded by the group size —
    the grouped sibling of :func:`distributed_row_number`, for
    cumulative-weight scans (weighted quantiles, Lorenz/Gini curves)
    where one group can be most of the table:

    ``repartitionByRange(group, order)`` co-locates each (group, order)
    range; within-partition running sums are bounded by PARTITION size
    (not group size); the carry is one row per (partition, group) —
    ≤ ``RANK_PARTS × |groups|`` rows, windowed group-wise over the partition
    id and broadcast back. localCheckpoint pins the sampled range
    boundaries so the carry branch and the ranked branch observe the
    same partitioning (the distributed_row_number discipline).

    PRECONDITION: (group_cols, order_cols) keys must be UNIQUE —
    the within-partition running sum uses a ROWS frame ordered only
    by ``order_cols``, so duplicate keys make each duplicate's
    cumulative value depend on arbitrary physical row order.
    Pre-aggregate to unique keys first (as weighted_median_price
    does), or pass a tie-breaking column at the end of
    ``order_cols``.
    """
    parted = (
        df.repartitionByRange(RANK_PARTS, *group_cols, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__v", value)
        .localCheckpoint()
    )
    carry = parted.groupBy("__pid", *group_cols).agg(
        F.sum("__v").alias("__psum")
    )
    offsets = carry.select(
        "__pid",
        *group_cols,
        F.coalesce(
            F.sum("__psum").over(
                Window.partitionBy(*group_cols)
                .orderBy("__pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__off"),
    )
    within = F.sum("__v").over(
        Window.partitionBy("__pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        parted.withColumn("__w", within)
        .join(F.broadcast(offsets), ["__pid", *group_cols])
        .withColumn(out_name, F.col("__off") + F.col("__w"))
        .drop("__pid", "__v", "__w", "__off")
    )
