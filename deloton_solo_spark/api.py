"""The reference's REST query surface as an engine library — every
Flask route (api.py:57-188) mapped to its engine query plus the
JSON-records serialization edge (``to_json(orient="records")``,
api.py:66,...).

A user of the reference swaps ``requests.get(url)`` for
``serve(spark, sf_dir, route, **params)`` and receives the identical
shape: a JSON array of record objects. The delivery mechanism (Flask,
HTTP, module-global caching) is exactly what SURVEY.md §7 says we do
NOT port — this module is the capability boundary, not a web server.

Route → semantics (site cites the reference):
  /                      health echo                    (api.py:57-59)
  /ride/<id>             one ride by key                (api.py:62-67)
  /riders                all users                      (api.py:70-74)
  /rider/<id>            one user by key                (api.py:77-81)
  /riders/<gender>       users filtered by gender       (api.py:84-88)
  /rides                 all rides                      (api.py:91-94)
  /rides/<gender>        users⋈rides filtered by gender (api.py:97-107)
  /riders2?number=N|A-B  users by age / age range       (api.py:110-120)
  /rider/<id>/rides      rides of one user              (api.py:140-144)
  /daily?date=Y-M-D      rides by date parts            (api.py:148-181)
  /ride/del/<id>         delete a ride by key           (api.py:185-188)

Table mapping on the driver testdata: users ≙ customer
(c_custkey/c_mktsegment/c_acctbal), rides ≙ orders (o_orderkey/
o_custkey/o_orderdate) — same shapes the relational operators use.

Resolver: the users and rides route frames are resolved once per
session, file content (``memo.input_identity``: path, size,
``mtime_ns``, ``ctime_ns``, footer digest), session time zone and
broadcast threshold, and kept in ``_FRAMES``, a ``memo.Memo`` of 8
frames owned by the SparkContext's applicationId. A frame whose Spark
size estimate is within ``spark.sql.autoBroadcastJoinThreshold`` is
held as a driver-local relation, so filters, projections, limits and
the JSON serialization over it fold at optimization time and a point
lookup runs no Spark job; a larger one (or any, with the threshold at
-1) stays a parquet relation. The memory bound is entries × threshold.
Joins still run Spark jobs.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .memo import Memo, input_identity
from .operators.sinks import delete_by_keys
from .session import apply_runtime_confs

#: Resolved route frames, keyed by ``_resolved``; at most 8 × the
#: broadcast threshold of rows are held locally. A serve benchmark run
#: peaks at 2 entries (one catalog's users and rides); the tier-1 suite,
#: which serves many catalog copies, reaches the bound and evicts.
_FRAMES = Memo(8)

#: Session confs a resolved frame depends on: the zone of its
#: timestamp-to-string casts and the size bound of a local leaf.
_FRAME_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.autoBroadcastJoinThreshold",
)


def _records(df: DataFrame, limit: int | None = None) -> str:
    """S8: the ``to_json(orient="records")`` edge — rows to a JSON
    array string. Driver-bound BY CONTRACT: this is the API-response
    serialization boundary (the rows leave Spark here), so the
    ``collect()`` is the declared edge, not a distributed-op smell.
    ``limit`` guards driver memory for full-table routes (the
    reference materializes everything; at scale you paginate).

    Each row is serialized by ``to_json(struct(*cols))``, which gives
    the same bytes as ``df.toJSON()``; unlike ``toJSON``'s RDD path it
    stays a Catalyst expression, so over a local relation the whole
    query folds at optimization time and the collect runs no job."""
    if limit is not None:
        df = df.limit(limit)
    rows = df.select(F.to_json(F.struct(*df.columns))).collect()
    return "[" + ",".join(r[0] for r in rows) + "]"


def _localized(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df`` collected once into a driver-local relation if Spark's
    size estimate of it is within the broadcast threshold; ``df``
    itself otherwise, or when the threshold is negative. The rows go
    JVM-side only: they never cross into Python."""
    jspark = spark._jsparkSession
    bound = jspark.sessionState().conf().autoBroadcastJoinThreshold()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if bound < 0 or size > bound:
        return df
    rows = df._jdf.collectAsList()
    return DataFrame(jspark.createDataFrame(rows, df._jdf.schema()), spark)


def _resolved(spark: SparkSession, sf_dir: str, name: str, project) -> DataFrame:
    """``project(load_table(spark, sf_dir, name))`` from ``_FRAMES``,
    built through ``_localized`` on a miss. The key holds the session,
    since a frame runs in the session that built it, the file's
    ``input_identity`` and the ``_FRAME_CONFS`` values. A table that is
    not a single local parquet file is loaded on every call."""
    path = f"{sf_dir}/{name}.parquet"
    ident = input_identity([path])
    if ident is None:
        return project(load_table(spark, sf_dir, name))
    confs = tuple(spark.conf.get(k) for k in _FRAME_CONFS)
    key = (spark._jsparkSession.sessionUUID(), ident, confs)
    return _FRAMES.get_or_put(
        key,
        lambda: _localized(spark, project(load_table(spark, sf_dir, name))),
        spark.sparkContext.applicationId,
    )


def _users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _resolved(
        spark,
        sf_dir,
        "customer",
        lambda t: t.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("gender"),  # categorical stand-in
            (F.col("c_custkey") % 60 + 18).alias("age"),  # deterministic age
            F.col("c_acctbal").alias("acctbal"),
        ),
    )


def _rides(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _resolved(
        spark,
        sf_dir,
        "orders",
        lambda t: t.select(
            F.col("o_orderkey").alias("ride_id"),
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("string").alias("start_time"),
            F.col("o_totalprice").alias("duration"),
        ),
    )


def serve(spark: SparkSession, sf_dir: str, route: str, **params) -> str:
    """Dispatch a reference route to its engine query; returns the JSON
    records string the Flask handler would have returned. Each route
    loads only the tables it reads: ``/`` none, ``/rides/gender`` both,
    every other route one; an unknown route raises ``ValueError``
    before any table is read. Every route but ``/`` first pins the
    engine's runtime confs, as ``load_table`` does."""
    if route == "/":
        return json.dumps({"status": "ok"})  # api.py:57-59
    apply_runtime_confs(spark)
    if route == "/ride":
        return _records(
            _rides(spark, sf_dir).filter(
                F.col("ride_id") == int(params["ride_id"])
            )
        )
    if route == "/riders":
        return _records(_users(spark, sf_dir), limit=params.get("limit"))
    if route == "/rider":
        return _records(
            _users(spark, sf_dir).filter(
                F.col("user_id") == int(params["user_id"])
            )
        )
    if route == "/riders/gender":
        return _records(
            _users(spark, sf_dir).filter(F.col("gender") == params["gender"])
        )
    if route == "/rides":
        return _records(_rides(spark, sf_dir), limit=params.get("limit"))
    if route == "/rides/gender":
        users = _users(spark, sf_dir).select("user_id", "gender", "age")
        j = users.join(_rides(spark, sf_dir), "user_id")
        return _records(j.filter(F.col("gender") == params["gender"]))
    if route == "/riders2":
        users = _users(spark, sf_dir)
        num = str(params["number"])
        if "-" in num:  # age range "lo-hi" (api.py:113-118)
            lo, hi = (int(x) for x in num.split("-"))
            return _records(users.filter(F.col("age").between(lo, hi)))
        return _records(users.filter(F.col("age") == int(num)))
    if route == "/rider/rides":
        return _records(
            _rides(spark, sf_dir).filter(
                F.col("user_id") == int(params["user_id"])
            )
        )
    if route == "/daily":
        # per-PART string equality on the split date (api.py:148-181,
        # minus its str-vs-int default-path bug which SURVEY.md §7
        # excludes). A prefix match would be wrong: '1995-1' must match
        # only month 1, never 1995-10/11/12, and each given part is
        # compared against the zero-padded storage form individually.
        # Only the date portion of "YYYY-MM-DD HH:MM:SS" is split, so
        # the day part is "DD", not "DD HH:MM:SS".
        d = str(params["date"])  # "YYYY[-M[-D]]"
        given = d.split("-")
        widths = (4, 2, 2)
        date_parts = F.split(F.substring("start_time", 1, 10), "-")
        cond = F.lit(True)
        for i, part in enumerate(given[:3]):
            stored = date_parts.getItem(i)
            cond = cond & (stored == part.zfill(widths[i]))
        return _records(_rides(spark, sf_dir).filter(cond))
    if route == "/ride/del":
        keys = spark.createDataFrame(
            [(int(params["ride_id"]),)], "ride_id long"
        )
        kept = delete_by_keys(
            _rides(spark, sf_dir), F.broadcast(keys), ["ride_id"]
        )
        return _records(kept, limit=params.get("limit"))
    raise ValueError(f"unknown route: {route}")
