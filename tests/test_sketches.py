"""Approximate-sketch accuracy bounds (operators without SQL oracles).

The driver only checks these rows-only; locally we hold them to their
documented error bounds against exact ground truth.
"""

from __future__ import annotations

from deloton_solo_spark.operators.analytics import distinct_users_hll

from .conftest import SF_DIR


def test_hll_within_documented_error(spark):
    rows = distinct_users_hll(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        err = abs(r.n_users_hll - r.n_users_exact) / max(r.n_users_exact, 1)
        # rsd 1.5% → hold to 5% (≈3 sigma) deterministic bound
        assert err <= 0.05, (r.event_type, r.n_users_hll, r.n_users_exact)


def test_percentile_sketch_within_bound(spark):
    from deloton_solo_spark.operators.analytics import (
        percentile_approx_sketch,
    )

    rows = percentile_approx_sketch(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # percentile_approx returns an actual data point; the exact form
        # interpolates — at sf0.001's ~300-row groups the nearest-point
        # gap at p99 dominates the sketch error, so bound at 5%.
        for s, e in ((r.p50_sketch, r.p50_exact), (r.p99_sketch, r.p99_exact)):
            assert abs(s - e) / max(abs(e), 1) <= 0.05, (r.o_orderpriority, s, e)


def test_lsh_verified_pipeline_subset_and_recall(spark):
    """The composed LSH→verify pipeline must emit ONLY true near-dup
    pairs (precision 1.0 — the verify stage guarantees it) and find
    most of them (recall bound; MinHash banding misses are expected
    but must stay rare at 8 hash tables)."""
    from deloton_solo_spark.operators.dedup import (
        near_dedup_lsh_verified,
        near_dedup_ngram_jaccard,
    )

    exact = {
        (r.doc_a, r.doc_b)
        for r in near_dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in near_dedup_lsh_verified(spark, SF_DIR).collect()
    }
    assert exact  # the corpus has near-dups to find
    assert got <= exact  # verify stage kills every false candidate
    recall = len(got) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(exact)} pairs"


def test_explicit_hll_estimate_within_sketch_error(spark):
    """The explicit-register HLL (X77) must estimate within the sketch's
    theoretical error: rse ≈ 1.04/sqrt(64) ≈ 13%; assert a 3-sigma-ish
    40% bound per group plus a tighter aggregate bound."""
    from deloton_solo_spark.operators.analytics import hll_explicit_registers

    rows = hll_explicit_registers(spark, SF_DIR).collect()
    assert rows
    rel_errs = []
    for r in rows:
        rel = abs(r.est_users - r.n_exact) / max(r.n_exact, 1)
        rel_errs.append(rel)
        assert rel < 0.40, (
            f"{r.event_type}: est {r.est_users} vs exact {r.n_exact}"
        )
    assert sum(rel_errs) / len(rel_errs) < 0.20


def test_streaming_hll_matches_batch_registers_exactly(spark):
    """Mergeability as correctness: however the replay is micro-batched,
    the streaming register grid must yield the SAME estimate as the
    batch X77 operator — bit-identical, not approximately."""
    from deloton_solo_spark.operators.analytics import hll_explicit_registers
    from deloton_solo_spark.operators.streaming_ops import streaming_hll_merge

    batch = {
        r.event_type: r.est_users
        for r in hll_explicit_registers(spark, SF_DIR).collect()
    }
    stream = {
        r.event_type: r.est_users
        for r in streaming_hll_merge(spark, SF_DIR).collect()
    }
    assert stream == batch
