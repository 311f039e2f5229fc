"""The benchmark's own tests; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import check  # noqa: E402
import gen  # noqa: E402
import hoststats  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer, self_time_by_layer, self_times, union_length  # noqa: E402


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


# generator ------------------------------------------------------------------
def test_events_batch_bytes_depend_only_on_seed(tmp_path):
    a = gen.write_events_batch(str(tmp_path / "a"), seed=7, batch=3)
    b = gen.write_events_batch(str(tmp_path / "b"), seed=7, batch=3)
    c = gen.write_events_batch(str(tmp_path / "c"), seed=8, batch=3)
    f = "events.parquet"
    assert _sha(os.path.join(a, f)) == _sha(os.path.join(b, f))
    assert _sha(os.path.join(a, f)) != _sha(os.path.join(c, f))


def test_events_batches_take_consecutive_offsets():
    t0 = gen.events_table(1, 0, n=100)
    t1 = gen.events_table(1, 1, n=100)
    assert t0["event_id"].to_pylist() == list(range(100))
    assert t1["event_id"].to_pylist() == list(range(100, 200))


@pytest.mark.parametrize(
    "write, files",
    [
        (lambda root, seed: gen.write_snapshot(root, seed, 2),
         ("documents.parquet", "embeddings.parquet")),
        (gen.write_catalog, ("customer.parquet", "orders.parquet")),
    ],
)
def test_snapshot_and_catalog_bytes_are_deterministic(tmp_path, write, files):
    d1 = write(str(tmp_path / "1"), 5)
    d2 = write(str(tmp_path / "2"), 5)
    d3 = write(str(tmp_path / "3"), 6)
    for f in files:
        assert _sha(os.path.join(d1, f)) == _sha(os.path.join(d2, f))
        assert _sha(os.path.join(d1, f)) != _sha(os.path.join(d3, f))


def test_consecutive_snapshots_overlap_but_never_match():
    docs0, emb0 = gen.snapshot_tables(3, 0)
    docs1, emb1 = gen.snapshot_tables(3, 1)
    a, b = set(docs0["doc_id"].to_pylist()), set(docs1["doc_id"].to_pylist())
    assert a != b
    assert len(a & b) >= 0.8 * len(a)
    q = set(range(gen.N_QUERY_VECS))
    assert q <= set(emb0["vec_id"].to_pylist())
    assert q <= set(emb1["vec_id"].to_pylist())


def test_request_schedule_is_seeded_and_on_rate():
    s1 = gen.request_schedule(4, 5.0, 50)
    s2 = gen.request_schedule(4, 5.0, 50)
    s3 = gen.request_schedule(5, 5.0, 50)
    assert s1 == s2
    assert s1 != s3
    assert [r.due_s for r in s1] == [i / 5.0 for i in range(50)]
    assert {r.route for r in gen.request_schedule(4, 5.0, 500)} == {
        route for route, _ in gen.ROUTE_MIX
    }


@pytest.mark.parametrize("n", [1, 7, 50, 100])
def test_every_seed_gets_the_same_route_mix(n):
    counts = gen.route_counts(n)
    assert sum(counts) == n
    if n == 100:
        assert counts == [w for _, w in gen.ROUTE_MIX]
    for seed in (1, 2):
        got = [r.route for r in gen.request_schedule(seed, 5.0, n)]
        assert [got.count(rt) for rt, _ in gen.ROUTE_MIX] == counts


# percentiles ----------------------------------------------------------------
def test_nearest_rank_percentile():
    xs = [float(i) for i in range(1, 101)]
    assert hoststats.percentile(xs, 50) == 50.0
    assert hoststats.percentile(xs, 90) == 90.0
    assert hoststats.percentile(list(reversed(xs)), 95) == 95.0
    assert hoststats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        hoststats.percentile([], 50)


def test_sample_count_rule():
    assert hoststats.samples_beyond(100, 90) == 10
    assert hoststats.samples_beyond(99, 90) == 9
    assert hoststats.samples_beyond(50, 90) == 5
    assert hoststats.samples_beyond(200, 95) == 10


# spans ----------------------------------------------------------------------
def test_self_time_subtracts_children_union():
    spans = [
        Span(1, "sinks.append", "op", None, 0.0, 10.0),
        Span(2, "pipeline.rides.exec", "op", 1, 1.0, 4.0),
        Span(3, "catalog.load_table", "op", 1, 3.0, 6.0),  # overlaps 2
        Span(4, "catalog.load_table", "op", 1, 9.0, 12.0),  # runs past parent
        Span(5, "pipeline.users.exec", "op", 2, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (5.0 + 1.0))
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(0.5)
    by_layer = self_time_by_layer(spans)
    assert by_layer["sinks"] == pytest.approx(4.0)
    assert by_layer["pipeline"] == pytest.approx(3.0)
    assert by_layer["catalog"] == pytest.approx(6.0)


def test_untimed_spans_leave_layer_totals():
    spans = [
        Span(1, "pipeline.rides.exec", "op", None, 0.0, 2.0, timed=False),
        Span(2, "sinks.append", "op", None, 2.0, 3.0),
    ]
    assert self_time_by_layer(spans) == {"sinks": pytest.approx(1.0)}


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0


def test_tracer_nests_and_is_free_when_off():
    tr = Tracer(enabled=True)
    with tr.span("api.route.ride", op="req-1"):
        with tr.span("catalog.load_table"):
            pass
    outer, inner = sorted(tr.spans, key=lambda s: s.id)
    assert inner.parent == outer.id and inner.op == "req-1"
    off = Tracer(enabled=False)
    with off.span("api.route.ride", op="req-1"):
        pass
    assert off.spans == []


# steal ----------------------------------------------------------------------
def test_steal_counts_only_user_through_steal():
    #        user nice sys idle iowait irq softirq steal guest guest_nice
    line = "cpu  100 0 50 800 10 5 5 30 40 0"
    steal, total = hoststats.parse_cpu_line(line)
    assert (steal, total) == (30, 1000)  # guest (40) already inside user
    before = (30, 1000)
    after = hoststats.parse_cpu_line("cpu  200 0 100 1600 20 10 10 60 90 0")
    assert hoststats.steal_pct(before, after) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        hoststats.parse_cpu_line("cpu0 1 2 3")


def test_tree_cpu_counts_reaped_children():
    before = hoststats.tree_cpu_s(os.getpid())
    burn = "x = 0\nfor i in range(3_000_000):\n    x += i"
    subprocess.run([sys.executable, "-c", burn], check=True)
    cpu, jit = hoststats.cpu_delta_s(before, hoststats.tree_cpu_s(os.getpid()))
    assert cpu >= 0.05 and jit == 0.0


# checks ---------------------------------------------------------------------
def test_digest_ignores_row_and_column_order():
    a = check.digest(["b", "a"], [(1, "x"), (2, "y")])
    b = check.digest(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b
    assert a != check.digest(["a", "b"], [("y", 2), ("x", 2)])
    assert check.canon(1) != check.canon(1.0) != check.canon(True)


def _curate_outputs() -> dict:
    docs, _ = gen.snapshot_tables(9, 0)
    rows = [(d,) for d in docs["doc_id"].to_pylist()]
    return {call: (["doc_id"], rows) for call in workloads.Curate.CALLS}


@pytest.mark.parametrize("corrupt", [False, True])
def test_corrupted_expected_result_is_a_failure(tmp_path, corrupt):
    snap = gen.write_snapshot(str(tmp_path), 9, 0)
    sql = (
        "SELECT doc_id + 1 AS doc_id FROM documents" if corrupt
        else "SELECT doc_id FROM documents"
    )
    engine = SimpleNamespace(oracle_sql=lambda name: sql)
    wl = workloads.Curate.__new__(workloads.Curate)
    wl.ctx = SimpleNamespace(engine=engine)
    op = workloads.Op(name="curate-0", outputs=_curate_outputs())
    verdicts = wl.check([op], [snap])
    assert len(verdicts) == len(workloads.Curate.CALLS)
    assert all(ok for _, ok in verdicts) is not corrupt
    assert any(ok for _, ok in verdicts) is not corrupt


def test_serve_response_checks(tmp_path):
    cat = gen.write_catalog(str(tmp_path), 2)
    with check.Oracle(cat) as orc:
        rows = orc.records(*check.route_sql("/rider", {"user_id": 5}))
        body = json.dumps(rows)
        assert check.check_response(orc, "/rider", {"user_id": 5}, body)
        bad = json.dumps([dict(rows[0], acctbal=rows[0]["acctbal"] + 0.01)])
        assert not check.check_response(orc, "/rider", {"user_id": 5}, bad)
        assert not check.check_response(orc, "/rider", {"user_id": 5}, "not json")
        some = orc.records(*check.route_sql("/riders", {}))[:7]
        ok = json.dumps(some)
        assert check.check_response(orc, "/riders", {"limit": 7}, ok)
        assert not check.check_response(orc, "/riders", {"limit": 7}, json.dumps(some[:6]))


# per-layer metrics ----------------------------------------------------------
def test_named_step_metrics_sum_phases_and_read_zero_when_absent():
    ops = [
        workloads.Op(name=f"curate-{i}", steps={
            "similarity.ivf_cold.construct": 2.0 + i,
            "similarity.ivf_cold.plan": 0.5,
            "similarity.ivf_cold.exec": 1.0,
        })
        for i in range(3)
    ]
    m = workloads.named_step_metrics(ops)
    assert m["similarity.ivf.cold_s"] == pytest.approx(4.5)
    assert m["sinks.append_s"] == 0.0
    assert m["api.route.ride.p50_ms"] == 0.0
    with open(os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")) as f:
        per_layer = {x["name"] for x in json.load(f)["per_layer"]}
    assert set(m) <= per_layer
