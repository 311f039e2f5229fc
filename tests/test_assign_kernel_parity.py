"""Arrow assignment-kernel parity (VERDICT r10 task 2).

``_assign_nearest`` runs a vectorized numpy ``mapInPandas`` kernel
(the BUILD path — the ×100 semantic-artifact build was ~850 s of
per-element HOF folds); the pure-JVM HOF leg is kept as the reference
these tests compare against. The kernel replays the HOF
leg's exact IEEE op order (position-sequential left-fold accumulate,
repr-based HALF_UP at .5 boundaries, packed-BIGINT argmax), so its
assignment must be BIT-EQUAL, not approximately equal. These tests
enforce that on the fixture corpus and on adversarial constructed
inputs (duplicate-cosine tiebreaks, antipodal vectors for the negative
rounding branch), plus the plan shape of each leg.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from deloton_solo_spark.catalog import load_table
from deloton_solo_spark.functions.vectors import as_double
from deloton_solo_spark.operators.similarity import (
    DIM,
    _assign_nearest_arrow,
    _assign_nearest_hof,
    _trained_cents,
)
from deloton_solo_spark.plans.inspect import plan_text

from .conftest import SF_DIR


def _fixture_vectors(spark):
    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )


def _assign_maps(d, cents):
    hof = {r.vec_id: r.cent_id for r in _assign_nearest_hof(d, cents).collect()}
    arrow_rows = _assign_nearest_arrow(d, cents).collect()
    arrow = {r.vec_id: r.cent_id for r in arrow_rows}
    return hof, arrow, arrow_rows


def test_fixture_corpus_argmax_bit_equal(spark):
    d = _fixture_vectors(spark)
    cents = _trained_cents(d)
    hof, arrow, arrow_rows = _assign_maps(d, cents)
    assert hof == arrow
    # v rides through the kernel unaltered (the HOF re-attach join and
    # its corpus-sized exchange are gone — the values must not be)
    vmap = {r.vec_id: list(r.v) for r in d.collect()}
    assert all(list(r.v) == vmap[r.vec_id] for r in arrow_rows)


def test_tiebreak_and_negative_cosine_parity(spark):
    """Adversarial: two centroids with IDENTICAL cosine to every point
    (lowest cent_id must win on both legs), plus an antipodal centroid
    driving sim = -1 through the negative rounding branch."""
    base = [float(i + 1) for i in range(DIM)]
    neg = [-x for x in base]
    ortho = [0.0] * DIM
    ortho[0], ortho[1] = base[1], -base[0]
    d = spark.createDataFrame(
        [(1, base), (2, neg), (3, ortho)],
        "vec_id long, v array<double>",
    )
    cents = spark.createDataFrame(
        # 7 and 11 are the same vector → equal cosine → id 7 must win;
        # 13 is antipodal
        [(7, base), (11, base), (13, neg)],
        "cent_id long, cv array<double>",
    )
    hof, arrow, _ = _assign_maps(d, cents)
    assert hof == arrow
    assert arrow[1] == 7 and arrow[2] == 13


def test_scaled_duplicates_parity(spark):
    """Scalar multiples have cosine exactly 1 to their base — a dense
    cluster of exact .0/.5-boundary-adjacent rounded sims."""
    base = [float(i + 1) for i in range(DIM)]
    rows = [(i, [x * (0.5 + 0.25 * i) for x in base]) for i in range(40)]
    d = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cents = spark.createDataFrame(
        [(0, base), (1, [x * 2.0 for x in base])],
        "cent_id long, cv array<double>",
    )
    hof, arrow, _ = _assign_maps(d, cents)
    assert hof == arrow
    assert set(arrow.values()) == {0}  # cos=1 everywhere, lowest id wins


def test_empty_codebook_parity(spark):
    """A tiny corpus can miss every seed residue (the 25-vector src0
    slice behind ingest_admission_report at sf0.01): the HOF leg's
    inner join against an empty argmax yields an EMPTY assignment, and
    the kernel must reproduce that instead of crashing on a 0-row
    collect (the r11 full-matrix regression)."""
    d = spark.createDataFrame(
        [(1, [1.0] * DIM)], "vec_id long, v array<double>"
    )
    empty_cents = spark.createDataFrame(
        [], "cent_id long, cv array<double>"
    )
    hof = _assign_nearest_hof(d, empty_cents).collect()
    arrow = _assign_nearest_arrow(d, empty_cents).collect()
    assert hof == [] and arrow == []
    assert (
        _assign_nearest_arrow(d, empty_cents).columns
        == _assign_nearest_hof(d, empty_cents).columns
    )


def test_leg_plan_shapes(spark):
    d = _fixture_vectors(spark)
    cents = _trained_cents(d)
    arrow_plan = plan_text(_assign_nearest_arrow(d, cents))
    # one narrow Arrow pass: no join, no aggregate, no exchange beyond
    # the scan side
    assert "MapInPandas" in arrow_plan
    assert "Join" not in arrow_plan and "HashAggregate" not in arrow_plan
    hof_plan = plan_text(_assign_nearest_hof(d, cents))
    assert "MapInPandas" not in hof_plan
