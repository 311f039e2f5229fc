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

``range_carry`` is the same scan for any order and per group: it
range-partitions on ``(group, order)`` instead of bucketing a unique
integral key, and every distributed rank, running sum and running max
outside ``prefix_sum`` goes through it (``distributed_row_number`` is
its rank form).
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


#: Range-partition fan-out of every :func:`range_carry` scan: each
#: carry window sees at most this many rows per group, at any scale.
RANK_PARTS = 8


def range_carry(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str | Column],
    sums: dict[str, Column] | None = None,
    prior_max: dict[str, Column] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Per-group running aggregates ordered by ``order_cols``, with no
    window whose state grows with a group or with the table: the
    range-partitioned form of the two-phase scan (``prefix_sum`` is
    the bucketed form, for a unique integral key).

    1. ``repartitionByRange(RANK_PARTS, *group_cols, *order_cols)``
       co-locates each key range; equal keys never straddle partitions.
    2. One ``localCheckpoint`` pins the reservoir-sampled boundaries,
       so the carry branch and the scanned branch see the same
       partitioning (a recompute or task retry could re-sample).
    3. Running aggregates within each (partition, group), bounded by
       the partition's size.
    4. The carry: one row per (partition, group), windowed group-wise
       over the partition id and broadcast-joined back to every row.

    ``sums`` maps an output name to a value: the output is the running
    sum of the value up to and including the row (a rank is the
    running sum of 1). ``prior_max`` maps an output name to a value:
    the output is the max of the value over the rows BEFORE the row,
    null for the first. Both frames are ROWS frames, so the
    ``(group_cols, order_cols)`` keys must be unique, or a duplicate's
    value depends on physical row order: pre-aggregate to unique keys
    or end ``order_cols`` with a tie-breaking column.

    Returns ``(scanned, partials)``: ``df``'s rows with the outputs
    added (``group_cols`` first), and the carry's input, one row per
    (partition, group) with each output's aggregate over it under the
    output's name. The checkpoint is a LogicalRDD node of both, so it
    lives as long as the caller holds either and is reclaimed by the
    ContextCleaner afterwards."""
    sums, prior_max = sums or {}, prior_max or {}
    parted = (
        df.repartitionByRange(RANK_PARTS, *group_cols, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    partials = parted.groupBy("__pid", *group_cols).agg(
        *[F.sum(v).alias(n) for n, v in sums.items()],
        *[F.max(v).alias(n) for n, v in prior_max.items()],
    )
    before = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = partials.select(
        "__pid",
        *group_cols,
        *[
            F.coalesce(F.sum(n).over(before), F.lit(0)).alias(f"__o_{n}")
            for n in sums
        ],
        *[F.max(n).over(before).alias(f"__o_{n}") for n in prior_max],
    )
    within = Window.partitionBy("__pid", *group_cols).orderBy(*order_cols)
    upto_row = within.rowsBetween(Window.unboundedPreceding, 0)
    before_row = within.rowsBetween(Window.unboundedPreceding, -1)
    scanned = (
        parted.withColumns(
            {
                **{f"__w_{n}": F.sum(v).over(upto_row) for n, v in sums.items()},
                **{
                    f"__w_{n}": F.max(v).over(before_row)
                    for n, v in prior_max.items()
                },
            }
        )
        .join(F.broadcast(offsets), ["__pid", *group_cols])
        .withColumns(
            {
                **{n: F.col(f"__o_{n}") + F.col(f"__w_{n}") for n in sums},
                **{
                    n: F.greatest(f"__w_{n}", f"__o_{n}")
                    for n in prior_max
                },
            }
        )
        .drop(
            "__pid",
            *[f"__w_{n}" for n in [*sums, *prior_max]],
            *[f"__o_{n}" for n in [*sums, *prior_max]],
        )
    )
    return scanned, partials


def distributed_row_number(
    df: DataFrame,
    order_cols: list[str | Column],
    out_name: str = "rn",
    with_total: str | None = None,
) -> DataFrame:
    """Global 1-based ``row_number`` over ``order_cols`` (which must be
    a UNIQUE total order) WITHOUT a global sort-window: the rank form
    of :func:`range_carry`, a running sum of 1 with no group. The only
    global window left is the carry over one row per range partition
    (``RANK_PARTS`` rows at any scale).

    ``with_total``: also attach the total row count as a column of this
    name, broadcast from the same per-partition counts (no extra scan).

    A caller that ranks the same base repeatedly (rfm_segmentation:
    three quartile orders) holds one partition-pinned checkpoint per
    rank while its result is alive, by construction, not by leak."""
    ranked, counts = range_carry(df, [], order_cols, {out_name: F.lit(1)})
    if with_total is not None:
        total = counts.agg(F.sum(out_name).cast("bigint").alias(with_total))
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
