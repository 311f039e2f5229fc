"""The reference's REST route surface, served by the engine — every
route returns the JSON-records shape the Flask API produced
(api.py:57-188), with values checked against direct engine queries.
"""

from __future__ import annotations

import itertools
import json
import shutil

import pytest

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
    launches no job and a point lookup runs exactly its collect."""
    load_table(spark, SF_DIR, "orders")
    serve(spark, SF_DIR, "/ride", ride_id=5)  # warm
    assert _jobs(spark, lambda: load_table(spark, SF_DIR, "orders")) == 0
    assert _jobs(spark, lambda: serve(spark, SF_DIR, "/ride", ride_id=7)) == 1
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
