"""Plan-regression sweep: NO query may plan a window over an
unpartitioned, unbounded input — the single-task pattern that dies at
100× scale (the whole dataset funnels through one WindowExec task).

Every registered batch query is explained and scanned for
``windowspecdefinition`` nodes with an empty partition list. Queries on
the allowlist carry a documented reason their global window is bounded
to a tiny input (post-limit ranking, per-partition carry rows,
pre-aggregated scalars) — anything else failing here is a regression.

Round-7 hardening (VERDICT r6 task 5): every allowlist entry also
declares a ROW BOUND, and ``test_allowlisted_window_inputs_are_bounded``
MEASURES the actual input row count of each global window at runtime
(plans/inspect.global_window_input_counts) — a refactor that silently
turns a "tiny carry" into a corpus-wide window now fails with a number.
Bounds are either constants (post-limit K, 2× the range-partition
fan-out) or callables computing the documented data-derived bound
(prefix-sum bucket count, calendar span, bar cardinality) from the same
tables at the test scale factor.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from deloton_solo_spark.catalog import load_table
from deloton_solo_spark.plans.inspect import (
    global_window_input_counts,
    plan_text,
    unpartitioned_window_specs,
)
from deloton_solo_spark.registry import all_queries

from .conftest import SF_DIR


def _event_buckets(spark, bucket_size=None):
    # functions/windows.prefix_sum buckets its order column by
    # bucket_size; the carry window sees one row per bucket =
    # max(order)/bucket_size — metadata-scale by construction (at
    # 100 TB you size the bucket so this stays ~1e4-1e5 rows).
    from deloton_solo_spark.functions.windows import DEFAULT_BUCKET_SIZE

    hi = (
        load_table(spark, SF_DIR, "events")
        .agg(F.max("event_id"))
        .collect()[0][0]
    )
    return int(hi) // (bucket_size or DEFAULT_BUCKET_SIZE) + 2


def _ride_buckets(spark):
    # sessionize._with_ride pins bucket_size=100 at test scale (so the
    # multi-bucket carry path is actually exercised) — the msg_idx
    # order column is event_id, so the carry table is max(event_id)/100
    # rows here and max(offset)/DEFAULT_BUCKET_SIZE in production.
    return _event_buckets(spark, bucket_size=100)


def _doc_buckets(spark):
    from deloton_solo_spark.functions.windows import DEFAULT_BUCKET_SIZE

    hi = (
        load_table(spark, SF_DIR, "documents")
        .agg(F.max("doc_id"))
        .collect()[0][0]
    )
    return int(hi) // DEFAULT_BUCKET_SIZE + 2


def _order_day_span(spark):
    r = (
        load_table(spark, SF_DIR, "orders")
        .agg(
            F.datediff(
                F.max(F.to_date("o_orderdate")),
                F.min(F.to_date("o_orderdate")),
            ).alias("d")
        )
        .collect()[0][0]
    )
    return int(r) + 5


def _event_day_span(spark):
    r = (
        load_table(spark, SF_DIR, "events")
        .agg(
            F.datediff(
                F.max(F.to_date("ts")), F.min(F.to_date("ts"))
            ).alias("d")
        )
        .collect()[0][0]
    )
    return int(r) + 5


def _event_minutes(spark):
    return int(
        load_table(spark, SF_DIR, "events")
        .select(F.date_trunc("minute", "ts").alias("m"))
        .distinct()
        .count()
    ) + 2


#: name -> (why a partition-less window is acceptable THERE,
#:          row bound: int, or callable(spark) -> int).
ALLOWED_GLOBAL_WINDOWS = {
    # ranks the ≤100 rows surviving orderBy().limit(K) — input bounded
    # by the constant K, never by corpus size
    "token_frequency_rank": ("rank attached after limit(100)", 100),
    # distributed rank (functions/windows.distributed_row_number): the
    # only global window is the carry over per-range-partition counts —
    # RANK_PARTS rows at any scale
    "ntile_customer_value": (
        "carry window over one row per range partition",
        16,
    ),
    "customer_percentiles": (
        "carry window over one row per range partition",
        16,
    ),
    "rfm_segmentation": (
        "carry window over one row per range partition",
        16,
    ),
    # round-8 second wave: doc_shuffle_index rides the same
    # distributed_row_number carry (RANK_PARTS rows)
    "doc_shuffle_index": (
        "carry window over one row per range partition",
        16,
    ),
    # BH step-up ranks ONE ROW PER TEST (event types), never data rows
    "bh_fdr_mean_shift": (
        "rank window over one row per hypothesis test",
        16,
    ),
    # prefix-sum carry: the second phase windows over ONE row per
    # bucket (|max order key| / bucket_size rows — sized to stay
    # metadata-scale) — functions/windows.py
    "session_boundary_reset": (
        "carry window over one row per bucket",
        _ride_buckets,
    ),
    "ride_id_running_counter": (
        "carry window over one row per bucket",
        _ride_buckets,
    ),
    "ride_ingest_pipeline": (
        "carry window over one row per bucket",
        _event_buckets,
    ),
    "forward_fill_state": (
        "carry window over one row per bucket",
        _ride_buckets,
    ),
    "heaps_law_curve": (
        "carry window over one row per doc_id bucket",
        _doc_buckets,
    ),
    "doc_pack_assign": (
        "carry window over one row per bucket",
        _doc_buckets,
    ),
    # reuses doc_pack_assign's prefix-sum fragment (same carry window)
    "pack_efficiency_report": (
        "carry window over one row per bucket",
        _doc_buckets,
    ),
    # r9: the water-filling ladder ranks ONE ROW PER LANGUAGE — the
    # BH-family tiny-frame class (the doc scan itself is window-free)
    "token_budget_waterfill": (
        "ladder windows over one row per language",
        16,
    ),
    # r9: PPS systematic sampling rides functions/windows.prefix_sum —
    # the carry window sees one row per doc_id bucket
    "pps_systematic_sample": (
        "carry window over one row per doc_id bucket",
        _doc_buckets,
    ),
    # rank + cumulative-coverage windows run AFTER orderBy().limit(V) —
    # input bounded by the constant V=100, never by corpus size
    "vocab_coverage": (
        "rank/cumsum windows attached after limit(100)",
        100,
    ),
    # rank-id assignment runs AFTER orderBy().limit(VOCAB_V=24) —
    # input bounded by the constant V, never by corpus size
    "vocab_rank_ids": ("rank window attached after limit(24)", 24),
    # embeds the vocab_rank_ids fragment (same bounded window)
    "bpe_encode_rank_ids": ("rank window attached after limit(24)", 24),
    # prefix-sum carry over per-partition COUNTS — one row per range
    # partition (RANK_PARTS=8 rows at any scale)
    "sorted_neighborhood_pairs": (
        "carry window over one row per range partition",
        16,
    ),
    # two _snm_cand passes, same carry-window shape per pass
    "snm_multipass_pairs": (
        "carry window over one row per range partition",
        16,
    ),
    # distributed prefix-MAX carry over per-partition maxima — one row
    # per range partition (RANK_PARTS=8 rows at any scale)
    "skyline_pareto_orders": (
        "carry window over one row per range partition",
        16,
    ),
    # reuses doc_pack_assign's prefix-sum fragment (same carry window)
    "doc_pack_rewrite": (
        "carry window over one row per bucket",
        _doc_buckets,
    ),
    # ECDF prefix carry over per-partition (ca, cb) sums — one row per
    # range partition (RANK_PARTS=8 rows at any scale)
    "ks_test_report": (
        "carry window over one row per range partition",
        16,
    ),
    # exclusive rank prefix over the per-value tie table — same
    # two-phase prefix-sum shape as ks_test_report's ECDF
    "mann_whitney_u_test": (
        "carry window over one row per range partition",
        16,
    ),
    # AUC rank-sum reuses the same tie-table prefix carry
    "classifier_auc_report": (
        "carry window over one row per range partition",
        16,
    ),
    # global-CDF lookup table reuses the same tie-table prefix carry
    "quantile_normalize_scores": (
        "carry window over one row per range partition",
        16,
    ),
    # CUSUM running sum/min over the per-DAY aggregate — input is
    # calendar-bounded (the order-date span in days at ANY fact scale)
    "changepoint_cusum_report": (
        "window over calendar-bounded day aggregate",
        _order_day_span,
    ),
    # rank over the per-NATION aggregate (≤25 rows — bounded dimension)
    "topn_with_other_rollup": (
        "window over per-nation pre-aggregated rows",
        30,
    ),
    # fusion ranks attach AFTER the two legs' orderBy().limit(K) —
    # window inputs bounded by the constants BM25_TOP=20 / TOP_K=10
    "hybrid_search_rrf": ("rank windows attached after limit(20)", 25),
    # rolling frame over the JOINED minute-bar series of one type pair
    # — input is bar cardinality (one row per minute, time-range-
    # bounded), the same bound streaming_minute_bars/ewma rely on
    "rolling_correlation_bars": (
        "window over per-minute bars",
        _event_minutes,
    ),
    # risk-set exclusive prefix + exact-decimal cumulative hazard, both
    # over the per-DAY duration table (calendar-bounded at any fact
    # scale — the changepoint_cusum precedent)
    "survival_hazard_curve": (
        "window over calendar-bounded day aggregate",
        _event_day_span,
    ),
    # revenue-rank carry over per-partition counts — one row per range
    # partition (RANK_PARTS=8 rows at any scale)
    "market_concentration_report": (
        "carry window over one row per range partition",
        16,
    ),
}


def _sweepable():
    # streaming queries RUN real jobs inside the query fn and return a
    # plain parquet read (no window can hide there); the iterative
    # graph queries execute a driver loop — both are excluded from the
    # cheap construct-and-explain sweep.
    skip_tags = {"streaming", "graph"}
    return sorted(
        name
        for name, spec in all_queries().items()
        if not skip_tags & set(spec.tags)
    )


# A (currentRow, unboundedFollowing) frame is re-evaluated for every
# row, so its cost grows with the square of the partition's rows. The
# same result comes from the reversed order framed (unboundedPreceding,
# currentRow), which streams. Full (unbounded, unbounded) frames are
# computed once per partition and stay allowed.
_FORWARD_FRAME_RE = re.compile(
    r"specifiedwindowframe\((?:Row|Range)Frame, currentrow\$\(\), "
    r"unboundedfollowing\$\(\)\)"
)


@pytest.mark.parametrize("name", _sweepable())
def test_no_unpartitioned_window_over_unbounded_input(spark, name):
    plan = plan_text(all_queries()[name].fn(spark, SF_DIR))
    assert not _FORWARD_FRAME_RE.search(plan), (
        f"{name} plans a (currentRow, unboundedFollowing) window frame, "
        "quadratic in the partition's rows — order descending and frame "
        "(unboundedPreceding, currentRow) instead"
    )
    specs = unpartitioned_window_specs(plan)
    if name in ALLOWED_GLOBAL_WINDOWS:
        # a stale allowlist entry would mask future regressions
        assert specs, (
            f"{name} is allowlisted but has no global window anymore — "
            "remove the stale entry"
        )
        return
    assert not specs, (
        f"{name} plans a window with NO partition columns — the whole "
        f"input funnels through one task at scale: {specs[:2]}"
    )


@pytest.mark.parametrize("name", sorted(ALLOWED_GLOBAL_WINDOWS))
def test_allowlisted_window_inputs_are_bounded(spark, name):
    reason, bound = ALLOWED_GLOBAL_WINDOWS[name]
    limit = bound(spark) if callable(bound) else bound
    df = all_queries()[name].fn(spark, SF_DIR)
    counts = global_window_input_counts(df)
    assert counts, f"{name}: allowlisted but no global window found"
    assert max(counts) <= limit, (
        f"{name}: global window input measured {counts} rows, above "
        f"the documented bound {limit} ({reason}) — the claimed "
        "boundedness no longer holds"
    )
