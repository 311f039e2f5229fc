"""The reference's REST route surface, served by the engine — every
route returns the JSON-records shape the Flask API produced
(api.py:57-188), with values checked against direct engine queries.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from deloton_solo_spark import api
from deloton_solo_spark.api import serve
from deloton_solo_spark.catalog import load_table

from .conftest import SF_DIR


def _get(spark, route, **params):
    return json.loads(serve(spark, SF_DIR, route, **params))


def test_health(spark):
    assert _get(spark, "/") == {"status": "ok"}


def test_ride_by_id(spark):
    recs = _get(spark, "/ride", ride_id=5)
    assert len(recs) == 1 and recs[0]["ride_id"] == 5
    assert set(recs[0]) == {"ride_id", "user_id", "start_time", "duration"}


def test_rider_and_rides_consistency(spark):
    rider = _get(spark, "/rider", user_id=7)
    assert len(rider) == 1 and rider[0]["user_id"] == 7
    their_rides = _get(spark, "/rider/rides", user_id=7)
    assert all(r["user_id"] == 7 for r in their_rides)


def test_gender_filter_routes_agree(spark):
    riders = _get(spark, "/riders/gender", gender="BUILDING")
    joined = _get(spark, "/rides/gender", gender="BUILDING")
    rider_ids = {r["user_id"] for r in riders}
    assert rider_ids  # non-empty segment
    assert {r["user_id"] for r in joined} <= rider_ids


def test_age_exact_and_range(spark):
    exact = _get(spark, "/riders2", number="30")
    assert all(r["age"] == 30 for r in exact)
    ranged = _get(spark, "/riders2", number="30-35")
    assert all(30 <= r["age"] <= 35 for r in ranged)
    assert len(ranged) >= len(exact)


def test_daily_prefix_levels_nest(spark):
    month = _get(spark, "/daily", date="1995-01")
    year = _get(spark, "/daily", date="1995")
    assert month  # the fixture has January 1995 rides
    date = month[0]["start_time"][:10]  # a full Y-M-D present in the data
    day = _get(spark, "/daily", date=date)
    # the stored start_time carries a time of day; a full date must
    # still match every ride on that day
    assert day
    assert {r["ride_id"] for r in day} == {
        r["ride_id"] for r in month if r["start_time"].startswith(date)
    }
    assert len(day) <= len(month) <= len(year)


def test_daily_month_is_part_equality_not_prefix(spark):
    # the reference compares date PARTS: '1995-1' means month 1 only —
    # a prefix match would also sweep in 1995-10/11/12
    padded = _get(spark, "/daily", date="1995-01")
    bare = _get(spark, "/daily", date="1995-1")
    assert {r["ride_id"] for r in bare} == {r["ride_id"] for r in padded}
    assert all(r["start_time"].startswith("1995-01") for r in bare)


def test_delete_removes_exactly_one_key(spark):
    before = _get(spark, "/rides", limit=None)
    after = _get(spark, "/ride/del", ride_id=5)
    assert len(after) == len(before) - sum(
        1 for r in before if r["ride_id"] == 5
    )
    assert all(r["ride_id"] != 5 for r in after)


@pytest.mark.parametrize("route", ["/riders", "/rides"])
def test_full_scans_serialize(spark, route):
    recs = _get(spark, route, limit=10)
    assert len(recs) == 10


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """Run ``fn()`` under its own Spark job group; return how many jobs
    it launched."""
    sc = spark.sparkContext
    group = f"test-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_reads_launch_no_schema_jobs(spark):
    """An unchanged file's schema is inferred once, so a repeated load
    launches no job, and a point lookup over its resolved local route
    frame launches none either."""
    load_table(spark, SF_DIR, "orders")
    serve(spark, SF_DIR, "/ride", ride_id=5)  # warm
    assert _jobs(spark, lambda: load_table(spark, SF_DIR, "orders")) == 0
    assert _jobs(spark, lambda: serve(spark, SF_DIR, "/ride", ride_id=7)) == 0
    assert _jobs(spark, lambda: serve(spark, SF_DIR, "/")) == 0


@pytest.mark.parametrize(
    "table, requests",
    [
        ("customer", [("/rider", {"user_id": 7}), ("/riders", {"limit": 5})]),
        ("orders", [("/ride", {"ride_id": 5}), ("/daily", {"date": "1995-01"})]),
    ],
)
def test_routes_read_only_their_tables(spark, tmp_path, table, requests):
    """A catalog holding one table answers every route that reads only
    that table, with the same JSON as the full catalog."""
    shutil.copy(f"{SF_DIR}/{table}.parquet", tmp_path / f"{table}.parquet")
    for route, params in requests:
        got = serve(spark, str(tmp_path), route, **params)
        assert json.loads(got)
        assert got == serve(spark, SF_DIR, route, **params)
    with pytest.raises(ValueError, match="unknown route"):
        serve(spark, str(tmp_path), "/nope")


#: One request per route shape, with parameters that match rows at
#: sf0.001 (the byte-identity test also requires a non-empty answer).
_REQUESTS = [
    ("/ride", {"ride_id": 5}),
    ("/rider", {"user_id": 7}),
    ("/rider/rides", {"user_id": 7}),
    ("/riders", {"limit": 5}),
    ("/riders/gender", {"gender": "BUILDING"}),
    ("/riders2", {"number": "30"}),
    ("/riders2", {"number": "30-35"}),
    ("/daily", {"date": "1995"}),
    ("/daily", {"date": "1995-01"}),
    ("/daily", {"date": "1995-01-20"}),
    ("/rides/gender", {"gender": "BUILDING"}),
    ("/ride/del", {"ride_id": 5, "limit": 50}),
]


def _fresh_parquet_serve(spark, route, params):
    """``serve`` as it answered before the resolver: each route frame
    is built over a fresh ``load_table`` relation, filtered by Catalyst
    and serialized with ``toJSON``."""

    def resolved(spark, idents, frame, size):
        return api._Frame(frame(), None)

    def records(df, limit=None):
        if limit is not None:
            df = df.limit(limit)
        return "[" + ",".join(df.toJSON().collect()) + "]"

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(api, "_resolved", resolved)
        mp.setattr(api, "_records", records)
        return serve(spark, SF_DIR, route, **params)


@pytest.mark.parametrize(
    "route, params", _REQUESTS, ids=[f"{r}{p}" for r, p in _REQUESTS]
)
def test_routes_match_fresh_parquet_tojson_bytes(spark, route, params):
    """Every route's JSON is byte-identical to ``toJSON`` over a fresh
    parquet frame, whichever leaf the resolver holds."""
    got = serve(spark, SF_DIR, route, **params)
    assert json.loads(got)
    assert got == _fresh_parquet_serve(spark, route, params)


def _ride_prices(spark, tmp_path, ride_id):
    """Ways to read the price of ride ``ride_id`` from the catalog in
    ``tmp_path``: by ``ride_id``, through the ``user_id`` index of the
    rides frame, and through the ``gender`` index of the users⋈rides
    join."""
    (ride,) = json.loads(serve(spark, str(tmp_path), "/ride", ride_id=ride_id))
    (rider,) = json.loads(
        serve(spark, str(tmp_path), "/rider", user_id=ride["user_id"])
    )

    def by(route, **params):
        rides = json.loads(serve(spark, str(tmp_path), route, **params))
        (rec,) = [r for r in rides if r["ride_id"] == ride_id]
        return rec["duration"]

    return {
        "/ride": ride["duration"],
        "/rider/rides": by("/rider/rides", user_id=ride["user_id"]),
        "/rides/gender": by("/rides/gender", gender=rider["gender"]),
    }


def _catalog_copy(tmp_path):
    """A copy of the users and rides tables in ``tmp_path``; returns the
    orders table, its ``o_totalprice`` column index and prices, and the
    row of ride 5."""
    for table in ("customer", "orders"):
        shutil.copy(f"{SF_DIR}/{table}.parquet", tmp_path / f"{table}.parquet")
    table = pq.read_table(tmp_path / "orders.parquet")
    row = table["o_orderkey"].to_pylist().index(5)
    col = table.schema.get_field_index("o_totalprice")
    return table, col, table["o_totalprice"].to_pylist(), row


def test_resolver_sees_in_place_rewrite(spark, tmp_path):
    """A table rewritten in place, even at the same size and with its
    mtime reset, is resolved again: ``/ride``, ``/rider/rides`` and the
    join route ``/rides/gender`` return the new value."""
    path = tmp_path / "orders.parquet"
    table, col, prices, row = _catalog_copy(tmp_path)

    def all_read(price):
        return set(_ride_prices(spark, tmp_path, 5).values()) == {price}

    assert all_read(prices[row])
    sizes = []
    for bump in (1.0, 2.0):
        prices[row] += bump
        before = os.stat(path)
        pq.write_table(
            table.set_column(col, "o_totalprice", pa.array(prices)), path
        )
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
        sizes.append(os.stat(path).st_size)
        assert os.stat(path).st_mtime_ns == before.st_mtime_ns
        assert all_read(prices[row])
    assert sizes[0] == sizes[1]  # the second rewrite kept the size too


def test_join_is_keyed_by_its_inputs_identities(spark, tmp_path, monkeypatch):
    """A rides file rewritten after ``/rides/gender`` resolved its
    inputs, but before it looked up the join, leaves no stale join
    under the new file's identity: the next request sees the new
    value."""
    path = tmp_path / "orders.parquet"
    table, col, prices, row = _catalog_copy(tmp_path)
    old = prices[row]
    prices[row] += 1.0
    user = table["o_custkey"][row].as_py()
    (rider,) = json.loads(serve(spark, str(tmp_path), "/rider", user_id=user))
    resolve, rewrites = api._table, []

    def rewritten_after(spark, sf_dir, name, ident):
        frame = resolve(spark, sf_dir, name, ident)
        if name == "orders" and not rewrites:
            rewrites.append(path)
            pq.write_table(
                table.set_column(col, "o_totalprice", pa.array(prices)), path
            )
        return frame

    monkeypatch.setattr(api, "_table", rewritten_after)

    def join_price():
        rides = json.loads(
            serve(spark, str(tmp_path), "/rides/gender", gender=rider["gender"])
        )
        (rec,) = [r for r in rides if r["ride_id"] == 5]
        return rec["duration"]

    assert join_price() == old  # its inputs were resolved before the rewrite
    assert join_price() == prices[row]


def test_rows_over_the_threshold_stay_parquet(spark, tmp_path):
    """A table whose Spark estimate is within the broadcast threshold
    but whose rows' JSON is not (a long name repeated on every row,
    which parquet stores once) stays a parquet leaf and answers the
    same; the unchanged table is local under the same threshold."""
    table = pq.read_table(f"{SF_DIR}/customer.parquet")
    name = "x" * 5000
    pq.write_table(
        table.set_column(
            table.schema.get_field_index("c_name"),
            "c_name",
            pa.array([name] * table.num_rows),
        ),
        tmp_path / "customer.parquet",
    )
    bound = table.num_rows * 1000  # each row's JSON is over 5000 chars
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(bound))
    try:
        users = api._users(spark, str(tmp_path))
        assert users.rows is None and api._estimate(users.df) <= bound
        assert api._users(spark, SF_DIR).rows is not None
        got = json.loads(serve(spark, str(tmp_path), "/rider", user_id=7))
        segment = got[0]["gender"]
        riders = json.loads(
            serve(spark, str(tmp_path), "/riders/gender", gender=segment)
        )
    finally:
        spark.conf.set(conf, old)
    assert [(r["user_id"], r["name"]) for r in got] == [(7, name)]
    expect = _get(spark, "/riders/gender", gender=segment)
    assert [{**r, "name": name} for r in expect] == riders


def test_parquet_leaf_answers_the_same(spark):
    """With broadcasting off the resolver keeps the parquet relation:
    the answers are unchanged, and a point lookup runs its one job.
    The join's row order is its strategy's, which the threshold also
    picks (sort-merge instead of broadcast), so it is compared as a
    multiset."""
    local = [serve(spark, SF_DIR, r, **p) for r, p in _REQUESTS]
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        parquet = [serve(spark, SF_DIR, r, **p) for r, p in _REQUESTS]
        jobs = _jobs(spark, lambda: serve(spark, SF_DIR, "/ride", ride_id=7))
    finally:
        spark.conf.set(conf, old)
    for (route, _), a, b in zip(_REQUESTS, parquet, local):
        if route == "/rides/gender":
            a, b = (sorted(json.dumps(r) for r in json.loads(x)) for x in (a, b))
        assert a == b, route
    assert jobs == 1


def test_concurrent_requests_get_serial_answers(spark, tmp_path):
    """Eight threads issuing mixed routes against a catalog the
    resolver has not seen get exactly the serial answers."""
    for table in ("customer", "orders"):
        shutil.copy(f"{SF_DIR}/{table}.parquet", tmp_path / f"{table}.parquet")
    requests = _REQUESTS * 3
    serial = [serve(spark, SF_DIR, r, **p) for r, p in requests]

    def one(request):
        route, params = request
        return serve(spark, str(tmp_path), route, **params)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            assert list(pool.map(one, requests, timeout=600)) == serial
    finally:
        sys.setswitchinterval(interval)


#: Each route a local frame answers from its serialized rows, with a
#: warm-up request and a second request for another key.
_INDEXED = [
    ("/ride", "ride_id", 5, 7),
    ("/rider", "user_id", 7, 8),
    ("/rider/rides", "user_id", 7, 8),
    ("/riders/gender", "gender", "BUILDING", "MACHINERY"),
    ("/riders2", "number", "30", "31"),
    ("/riders", "limit", 5, 7),
    ("/rides", "limit", 5, 7),
    ("/rides/gender", "gender", "BUILDING", "MACHINERY"),
    ("/ride/del", "ride_id", 5, 7),
]


@pytest.mark.parametrize(
    "route, param, warm, key", _INDEXED, ids=[r for r, *_ in _INDEXED]
)
def test_indexed_routes_launch_no_jobs(spark, route, param, warm, key):
    """Once its frame is resolved and its key column indexed, a keyed,
    limit or delete route over a local frame runs no Spark job,
    including the users⋈rides join of ``/rides/gender``."""
    serve(spark, SF_DIR, route, **{param: warm})
    assert _jobs(spark, lambda: serve(spark, SF_DIR, route, **{param: key})) == 0


@pytest.mark.parametrize(
    "route, params",
    [
        ("/ride", {"ride_id": -1}),
        ("/ride", {"ride_id": 10**9}),
        ("/rider", {"user_id": 10**9}),
        ("/rider/rides", {"user_id": -5}),
        ("/riders/gender", {"gender": "NOPE"}),
        ("/rides/gender", {"gender": "NOPE"}),
        ("/riders2", {"number": "100"}),
    ],
)
def test_absent_key_returns_empty_array(spark, route, params):
    assert serve(spark, SF_DIR, route, **params) == "[]"


def test_null_key_is_never_matched(spark, tmp_path):
    """A user whose ``c_mktsegment`` is null is in no segment's answer
    of ``/riders/gender`` or ``/rides/gender``, as SQL equality never
    matches null; the user's other routes still find the row."""
    table = pq.read_table(f"{SF_DIR}/customer.parquet")
    segments = table["c_mktsegment"].to_pylist()
    user = table["c_custkey"][0].as_py()
    col = table.schema.get_field_index("c_mktsegment")
    pq.write_table(
        table.set_column(
            col, "c_mktsegment", pa.array([None] + segments[1:], pa.string())
        ),
        tmp_path / "customer.parquet",
    )
    shutil.copy(f"{SF_DIR}/orders.parquet", tmp_path / "orders.parquet")

    def get(route, **params):
        return json.loads(serve(spark, str(tmp_path), route, **params))

    riders = [r for g in set(segments) for r in get("/riders/gender", gender=g)]
    assert user not in {r["user_id"] for r in riders}
    assert len(riders) == len(segments) - 1
    for g in set(segments):
        assert user not in {r["user_id"] for r in get("/rides/gender", gender=g)}
    (rider,) = get("/rider", user_id=user)
    assert "gender" not in rider  # a null field is left out, as by toJSON
