"""Connected-components property tests: the O(log² n) large-star /
small-star implementation must reach the identical fixpoint as a
driver-side union-find ground truth, on generated graphs of varied
shape (chains stress diameter, stars stress degree, random graphs
stress everything).

Also covers the convergence guard: an unconverged run must raise, not
return a partial clustering.
"""

from __future__ import annotations

import random

import pytest

from deloton_solo_spark.operators.dedup import cc_large_small_star


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then label by component minimum
    roots: dict[int, list[int]] = {}
    for v in list(parent):
        roots.setdefault(find(v), []).append(v)
    return {v: min(vs) for r, vs in roots.items() for v in vs}


def _graphs():
    rng = random.Random(20260813)
    cases = [
        ("chain", [(i, i + 1) for i in range(40)]),  # diameter 40
        ("star", [(0, i) for i in range(1, 30)]),
        ("two-cliques", [(i, j) for i in range(5) for j in range(i + 1, 5)]
         + [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]),
        ("self-loops+dups", [(1, 1), (1, 2), (2, 1), (3, 3), (3, 4)]),
    ]
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(20, 80))
        ]
        cases.append((f"random-{trial}", edges))
    return cases


@pytest.mark.parametrize("name,edges", _graphs(), ids=[c[0] for c in _graphs()])
def test_cc_variants_agree_with_union_find(spark, name, edges):
    truth = _union_find(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got_star = {
        r.id: r.label for r in cc_large_small_star(df).collect()
    }
    # the star variant labels every vertex in the input (self-loop
    # vertices become singletons); compare on the union-find domain
    for v, want in truth.items():
        assert got_star[v] == want, f"{name}: large/small-star wrong at {v}"
    # every vertex the star variant labels maps to a component min
    for v, lbl in got_star.items():
        assert truth.get(v, v) == lbl


def test_cc_large_small_star_raises_when_rounds_run_out(spark):
    # a 40-chain cannot collapse to stars in one round
    chain = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(chain, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        cc_large_small_star(df, max_rounds=1)


def test_cc_large_small_star_logarithmic_rounds(spark):
    # a 40-chain needs ~40 label-propagation rounds but must collapse
    # in O(log² n) star rounds — 8 is generous for n=41
    chain = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(chain, "src long, dst long")
    got = {r.id: r.label for r in cc_large_small_star(df, max_rounds=8).collect()}
    assert got == {i: 0 for i in range(41)}
