"""Semantic properties of the round-3 wave-2 operators (corpus.py,
the new streaming joins, and the window-breadth additions) — beyond
oracle parity. Parity proves Spark == DuckDB on one definition; these
prove the definition itself behaves (a transition matrix whose rows
don't sum to 1, or a curation pipeline that emits a dropped doc, would
still "match its oracle").
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from deloton_solo_spark.catalog import load_table
from deloton_solo_spark.registry import all_queries

from .conftest import SF_DIR


def run(spark, name):
    return all_queries()[name].fn(spark, SF_DIR)


def test_event_transitions_rows_normalize(spark):
    # Per source event_type, transition probabilities must sum to ~1
    # (4-dp rounding per cell bounds the drift).
    rows = run(spark, "event_transitions").collect()
    by_src: dict[str, float] = {}
    for r in rows:
        by_src[r["event_type"]] = by_src.get(r["event_type"], 0.0) + r["p"]
    assert by_src, "no transitions found"
    for src, total in by_src.items():
        assert abs(total - 1.0) < 1e-3, f"{src}: probabilities sum to {total}"


def test_chunk_dedup_only_reports_real_repeats(spark):
    # Every reported chunk must occur >= 2 times total and in >= 2 docs,
    # and n_occ >= n_docs by definition.
    for r in run(spark, "chunk_dedup").collect():
        assert r["n_docs"] >= 2
        assert r["n_occ"] >= r["n_docs"]


def test_containment_within_bounds_and_above_threshold(spark):
    from deloton_solo_spark.operators.corpus import CONTAIN_MIN

    for r in run(spark, "containment_pairs").collect():
        assert CONTAIN_MIN <= r["containment"] <= 1.0
        assert r["doc_a"] < r["doc_b"]


def test_kfold_assignment_is_balanced_and_total(spark):
    from deloton_solo_spark.operators.corpus import KFOLDS

    rows = run(spark, "kfold_assign").collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(rows) == n_docs  # every doc assigned exactly once
    sizes = [0] * KFOLDS
    for r in rows:
        assert 0 <= r["fold"] < KFOLDS
        sizes[r["fold"]] += 1
    # md5 is uniform: no fold should be pathologically empty/full.
    assert min(sizes) > n_docs / (KFOLDS * 4)
    assert max(sizes) < n_docs / KFOLDS * 2.5


def test_activity_islands_cover_all_user_days_disjointly(spark):
    # Sum of island lengths == number of distinct (user, day) pairs, and
    # islands are genuinely maximal (start/end dates consistent).
    import datetime

    rows = run(spark, "activity_islands").collect()
    ev = load_table(spark, SF_DIR, "events")
    n_user_days = (
        ev.select("user_id", F.to_date("ts").alias("d")).distinct().count()
    )
    assert sum(r["n_days"] for r in rows) == n_user_days
    for r in rows:
        d0 = datetime.date.fromisoformat(r["island_start"])
        d1 = datetime.date.fromisoformat(r["island_end"])
        assert (d1 - d0).days == r["n_days"] - 1  # consecutive days


def test_curation_pipeline_is_intersection_of_its_stages(spark):
    # The composed pipeline must emit a subset of each stage's keep-set
    # and drop every chunk-duplicated doc.
    final = {r["doc_id"] for r in run(spark, "curation_pipeline").collect()}
    passing = {
        r["doc_id"]
        for r in run(spark, "gopher_quality_filter").filter("passes").collect()
    }
    mixed = {r["doc_id"] for r in run(spark, "dataset_mixture").collect()}
    assert final <= passing
    assert final <= mixed
    # no two surviving docs may share an 8-word chunk
    from deloton_solo_spark.functions.parity import tokens
    from deloton_solo_spark.operators.corpus import _chunk_hashes

    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id").isin(list(final))
    )
    ch = docs.select("doc_id", F.explode(_chunk_hashes(tokens())).alias("h"))
    dup_pairs = (
        ch.alias("a")
        .join(ch.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .count()
    )
    assert dup_pairs == 0


def test_daily_resample_has_no_gaps_or_nulls(spark):
    rows = run(spark, "daily_resample_ffill").collect()
    import datetime

    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, rs in by_user.items():
        days = sorted(datetime.date.fromisoformat(r["day"]) for r in rs)
        # spine is contiguous: exactly (max-min+1) days, no holes
        assert len(days) == (days[-1] - days[0]).days + 1
        assert all(r["value_ffill"] is not None for r in rs), (
            f"user {user} has unfilled days"
        )


def test_unigram_surprisal_bounds(spark):
    # Surprisal of any token is in (0, ln(N)]; the per-doc mean must be
    # inside those bounds too.
    tok_total = (
        load_table(spark, SF_DIR, "documents")
        .select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), 0)
            )
        )
        .count()
    )
    hi = math.log(tok_total)
    for r in run(spark, "unigram_surprisal").collect():
        assert 0.0 < r["mean_surprisal"] <= hi + 1e-6


def test_feature_hashing_preserves_token_mass(spark):
    # Bucketing never loses tokens: sum of cnt == total token count.
    total = (
        run(spark, "feature_hashing")
        .agg(F.sum("cnt").alias("s"))
        .collect()[0]["s"]
    )
    tok_total = (
        load_table(spark, SF_DIR, "documents")
        .select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), 0)
            )
        )
        .count()
    )
    assert total == tok_total


def test_percentile_windows_are_monotone(spark):
    rows = sorted(
        run(spark, "customer_percentiles").collect(),
        key=lambda r: (r["spend"], r["c_custkey"]),
    )
    assert rows[0]["pct_rank"] == 0.0
    assert abs(rows[-1]["cume"] - 1.0) < 1e-9
    for a, b in zip(rows, rows[1:]):
        assert a["pct_rank"] <= b["pct_rank"]
        assert a["cume"] < b["cume"]  # singleton peer groups → strict


def test_streaming_attribution_outer_supersets_inner(spark):
    # The outer join must contain every inner match plus one row per
    # unmatched click, and exactly one row per click when unmatched.
    inner = run(spark, "streaming_attribution_join").collect()
    outer = run(spark, "streaming_attribution_outer").collect()
    inner_keys = {(r["click_id"], r["purchase_id"]) for r in inner}
    outer_keys = {(r["click_id"], r["purchase_id"]) for r in outer}
    assert inner_keys <= outer_keys
    unmatched = [r for r in outer if r["purchase_id"] is None]
    matched_clicks = {r["click_id"] for r in inner}
    for r in unmatched:
        assert r["click_id"] not in matched_clicks
        assert r["lag_s"] is None


def test_bm25_scores_positive_and_docs_contain_terms(spark):
    from deloton_solo_spark.operators.corpus import BM25_TERMS

    rows = run(spark, "bm25_retrieval").collect()
    assert rows
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    for r in rows:
        assert r["bm25"] > 0
        text = docs[r["doc_id"]].lower().split()
        assert any(t in text for t in BM25_TERMS)


def test_fuzzy_dedup_pairs_respect_threshold_and_blocking(spark):
    from deloton_solo_spark.operators.corpus import EDIT_REL_MAX

    pairs = run(spark, "fuzzy_dedup_editdistance").collect()
    for r in pairs:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["rel_dist"] <= EDIT_REL_MAX
        assert r["edit_dist"] >= 0


def test_schema_evolution_gen1_rows_surface_null_price(spark):
    rows = run(spark, "schema_evolution_read").collect()
    gens = {r["gen"] for r in rows}
    assert gens == {1, 2}
    for r in rows:
        if r["gen"] == 1:
            assert r["o_totalprice"] is None  # column added after gen-1
        else:
            assert r["o_totalprice"] is not None


def test_grouping_sets_markers_match_null_pattern(spark):
    rows = run(spark, "grouping_sets_custom").collect()
    seen_shapes = set()
    for r in rows:
        seen_shapes.add((r["g_nation"], r["g_priority"]))
        # marker == 1 exactly when the column is aggregated away
        assert (r["g_nation"] == 1) == (r["nation"] is None)
        assert (r["g_priority"] == 1) == (r["priority"] is None)
    # the three requested sets, and ONLY those (no (nation)-level set)
    assert seen_shapes == {(0, 0), (1, 0), (1, 1)}
