"""Batch-split fuzz for the round-8 stateful streaming kernels
(VERDICT r8 task 7): the registered queries drain fixed even/odd
micro-batches; the kernels' docstrings claim order-insensitivity
(X267 interval-union: at-least-once/out-of-order across batches) or
arrival-order correctness under ANY contiguous batching (X238 CUSUM's
monotone bar emission, X213 inversion's per-key arrival order — the
Kafka per-partition guarantee). This file makes those claims
measurable: ≥5 SEEDED random micro-batch partitionings per kernel,
each replay checked against an INDEPENDENT pure-Python reference
computed from the same rows (not against the oracle SQL, so a shared
mistake cannot self-confirm).

Split semantics per kernel follow its declared contract:
- interval-union: fully RANDOM row→batch assignment (strongest —
  merging is claimed order-insensitive);
- CUSUM hop-2 / inversion: random CONTIGUOUS cuts of the ordered
  sequence (arrival order within a key is preserved — the claim —
  while the batch boundaries move arbitrarily).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from deloton_solo_spark.catalog import load_table
from deloton_solo_spark.operators.streaming_ops import (
    _cusum_kernel_factory,
    _interval_union_kernel,
    _inversion_kernel,
)
from deloton_solo_spark.streaming.pipeline import Replay, keyed_state

from .conftest import SF_DIR

SEEDS = [11, 23, 37, 41, 53]


def _replay(spark, name, schema, key_col, kernel, out_schema, state_schema):
    """A replay of ``kernel`` keyed by ``key_col``, one micro-batch per
    drain, and its drain into the replay's ``out`` sink."""
    r = Replay(spark, name, schema)
    stream = keyed_state(r.stream(), key_col, kernel, out_schema, state_schema)
    return r, r.hop(stream, "out", "ckpt")


# ---- X267 interval union ---------------------------------------------------


def _py_islands(rows):
    """Independent sweep: rows = [(user, s, e)] → {(user, s, e, n)}."""
    byu: dict[int, list[tuple[int, int]]] = {}
    for u, s, e in rows:
        byu.setdefault(u, []).append((s, e))
    out = set()
    for u, ivs in byu.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += 1
            else:
                merged.append([s, e, 1])
        for s, e, c in merged:
            out.add((u, s, e, c))
    return out


@pytest.mark.parametrize("seed", SEEDS)
def test_interval_union_any_random_split(spark, seed):
    from deloton_solo_spark.operators import events as _events

    ev = (
        load_table(spark, SF_DIR, "events")
        .select(
            "user_id",
            "event_id",
            _events.epoch_us("ts").alias("s"),
            (
                _events.epoch_us("ts")
                + F.lit(_events.IUC_BASE_US)
                + F.floor(
                    F.greatest(F.col("value"), F.lit(0.0)) * 1000000.0
                ).cast("bigint")
            ).alias("e"),
        )
        .collect()
    )
    rng = random.Random(seed)
    n_batches = rng.randint(2, 5)
    batches: list[list] = [[] for _ in range(n_batches)]
    for r in ev:
        batches[rng.randrange(n_batches)].append(r)

    replay, drain = _replay(
        spark,
        f"fuzz_siu_{seed}",
        "user_id bigint, event_id bigint, s bigint, e bigint, flush boolean",
        "user_id",
        _interval_union_kernel,
        "user_id bigint, island_start_us bigint, island_end_us bigint, "
        "n_events bigint",
        "starts array<bigint>, ends array<bigint>, counts array<bigint>",
    )
    for b in batches:
        rows = [
            (r["user_id"], r["event_id"], r["s"], r["e"], False) for r in b
        ]
        if rows:
            replay.feed(
                spark.createDataFrame(rows, replay.schema).coalesce(2), drain
            )
    users = sorted({r["user_id"] for r in ev})
    replay.feed(
        spark.createDataFrame(
            [(u, -1, 0, 0, True) for u in users], replay.schema
        ).coalesce(1),
        drain,
    )
    got = {
        (r["user_id"], r["island_start_us"], r["island_end_us"],
         r["n_events"])
        for r in replay.read("out").collect()
    }
    want = _py_islands([(r["user_id"], r["s"], r["e"]) for r in ev])
    assert got == want


# ---- X213 inversion monitor -------------------------------------------------


def _py_inversion(rows):
    """rows = [(event_id, user, us)] → {user: (n_ev, n_inv, max_back)}
    processed in event_id order per user."""
    byu: dict[int, list[tuple[int, int]]] = {}
    for eid, u, us in rows:
        byu.setdefault(u, []).append((eid, us))
    out = {}
    for u, seq in byu.items():
        seq.sort()
        last, n_ev, n_inv, max_back = None, 0, 0, 0
        for _, us in seq:
            if last is not None and us < last:
                n_inv += 1
                max_back = max(max_back, last - us)
            n_ev += 1
            last = us
        out[u] = (n_ev, n_inv, max_back)
    return out


@pytest.mark.parametrize("seed", SEEDS)
def test_inversion_monitor_any_contiguous_split(spark, seed):
    from deloton_solo_spark.functions.epoch import epoch_us

    ev = sorted(
        load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", epoch_us("ts").alias("us"))
        .collect(),
        key=lambda r: r["event_id"],
    )
    rng = random.Random(seed)
    cuts = sorted(rng.sample(range(1, len(ev)), rng.randint(1, 4)))
    chunks = [
        ev[a:b] for a, b in zip([0] + cuts, cuts + [len(ev)])
    ]
    replay, drain = _replay(
        spark,
        f"fuzz_sinv_{seed}",
        "event_id bigint, user_id bigint, us bigint",
        "user_id",
        _inversion_kernel,
        "user_id bigint, n_events bigint, n_inversions bigint, "
        "inversion_rate double, max_backstep_us bigint",
        "last_us long, n_ev long, n_inv long, max_back long",
    )
    for chunk in chunks:
        rows = [(r["event_id"], r["user_id"], r["us"]) for r in chunk]
        replay.feed(
            spark.createDataFrame(rows, replay.schema).coalesce(1), drain
        )
    # monitor emits one row per (user, batch-with-rows): the LAST
    # (max n_events) row per user is the converged state
    final = {}
    for r in replay.read("out").collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (
                r["n_events"], r["n_inversions"], r["max_backstep_us"]
            )
    want = _py_inversion(
        [(r["event_id"], r["user_id"], r["us"]) for r in ev]
    )
    assert final == want


# ---- X238 CUSUM hop-2 kernel --------------------------------------------------


def _py_cusum(bars, mu, sigma, slack, alarm):
    """bars = [(day, cents)] day-ordered → [(day, s_stat, is_alarm)]
    via the same exact 1e-6-scaled integer arithmetic."""
    from decimal import ROUND_HALF_UP, Decimal

    thresh = mu + slack * sigma
    p_i, minp_i, out = 0, 0, []
    for day, cents in bars:
        x = cents / 100.0
        dv = int(
            Decimal(repr(x - thresh))
            .quantize(Decimal("0.000001"), ROUND_HALF_UP)
            .scaleb(6)
        )
        p_i += dv
        minp_i = min(minp_i, p_i)
        s = (p_i - min(minp_i, 0)) / 1e6
        out.append((day, s, s > alarm * sigma))
    return out


@pytest.mark.parametrize("seed", SEEDS)
def test_cusum_chart_any_contiguous_bar_split(spark, seed):
    from deloton_solo_spark.operators import events as _events

    daily = sorted(
        load_table(spark, SF_DIR, "orders")
        .groupBy(F.col("o_orderdate").cast("string").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .collect(),
        key=lambda r: r["day"],
    )
    # calibration constants: plain moments suffice — the TEST only
    # needs Spark and Python to share the same mu/sigma literals
    xs = [r["cents"] / 100.0 for r in daily]
    mu = sum(xs) / len(xs)
    sigma = (sum(x * x for x in xs) / len(xs) - mu * mu) ** 0.5
    slack = _events.CUSUM_SLACK_SIGMA
    alarm = _events.CUSUM_ALARM_SIGMA

    rng = random.Random(seed)
    cuts = sorted(rng.sample(range(1, len(daily)), rng.randint(1, 4)))
    chunks = [
        daily[a:b] for a, b in zip([0] + cuts, cuts + [len(daily)])
    ]
    replay, drain = _replay(
        spark,
        f"fuzz_scusum_{seed}",
        "day string, cents long, chart int",
        "chart",
        _cusum_kernel_factory(mu, sigma, slack, alarm),
        "day string, revenue double, s_stat double, is_alarm boolean",
        "p long, minp long",
    )
    for chunk in chunks:
        rows = [(r["day"], r["cents"], 1) for r in chunk]
        replay.feed(
            spark.createDataFrame(rows, replay.schema).coalesce(1), drain
        )
    got = sorted(
        (r["day"], r["s_stat"], r["is_alarm"])
        for r in replay.read("out").collect()
    )
    want = sorted(
        _py_cusum([(r["day"], r["cents"]) for r in daily],
                  mu, sigma, slack, alarm)
    )
    assert got == want
