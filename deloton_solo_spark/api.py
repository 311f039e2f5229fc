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

Resolver: the users and rides route frames, and the users⋈rides
projection of ``/rides/gender``, are resolved once per session, file
content (``memo.input_identity``: path, size, ``mtime_ns``,
``ctime_ns``, footer digest), session time zone and broadcast
threshold, and kept in ``_FRAMES``, a ``memo.Memo`` of 8 entries owned
by the SparkContext's applicationId. A table frame whose Spark size
estimate, and whose rows' JSON length, are within
``spark.sql.autoBroadcastJoinThreshold`` is held as a driver-local
relation; the join is held locally when both inputs are and its
counted size and JSON length are within the threshold. A local entry
also keeps its rows serialized once (the ``_records`` expression,
relation order) and, built on a key's first request, an index of each
looked-up integral or string column, so equality routes join the rows
at the key's positions, limit routes slice a prefix and ``/ride/del``
skips the key's positions: none of them plans a query or runs a Spark
job.
A larger frame (or any, with the threshold at -1) stays a parquet
relation, and the range routes (``/daily``, ``/riders2 A-B``) stay
Catalyst filters. Memory: at most 8 entries, each a relation and JSON
rows within the threshold, plus indexes that grow with the row count
(see ``_FRAMES``).
"""

from __future__ import annotations

import itertools
import json
import math
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType

from .catalog import load_table
from .memo import Memo, input_identity
from .operators.sinks import delete_by_keys
from .session import apply_runtime_confs

#: Resolved route frames (:class:`_Frame`), keyed by ``_resolved``. A
#: local entry holds three things: its relation, JVM-side, within the
#: broadcast threshold by Spark's estimate; its serialized rows, whose
#: JSON is within the threshold in characters (``_localized`` keeps the
#: parquet leaf otherwise); and the key indexes built so far, one
#: position per row for each indexed column (at most three per entry).
#: Bound per entry at Spark's default 10 MB threshold: 10 MB JVM-side;
#: 10 M characters of rows plus about 57 bytes per row of CPython
#: object overhead; at most about 100 bytes per row and indexed column
#: (a unique key's dict slot, key and bare position int; a key on two
#: rows shares one slot between them but adds a two-element list). So
#: 8 entries hold at most 80 MB JVM-side and 80 M characters of rows
#: in Python, plus the per-row overheads. Measured on the benchmark
#: catalog (2000 users, 20000 rides) by walking the entries with
#: ``sys.getsizeof``: three entries, 2.78 MB of Spark estimate and
#: 4.25 M characters of JSON, hold 10.5 MB of Python objects, 6.7 MB
#: of rows and 3.8 MB of indexes on six columns (86-93 bytes per row
#: for the unique ``ride_id`` and ``user_id``, 37-51 for the others).
#: A serve benchmark run peaks at 3 entries (one catalog's users,
#: rides and their join); the tier-1 suite, which serves many catalog
#: copies, reaches the bound and evicts.
_FRAMES = Memo(8)

#: Session confs a resolved frame depends on: the zone of its
#: timestamp-to-string casts and the size bound of a local leaf.
_FRAME_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.autoBroadcastJoinThreshold",
)

#: The values a 64-bit integral column can hold; an integral key
#: outside it is left to Catalyst.
_INT64 = range(-(2**63), 2**63)


def _array(rows) -> str:
    return "[" + ",".join(rows) + "]"


def _json_rows(df: DataFrame) -> list[str]:
    """Each row of ``df`` as a JSON object, in relation order.

    Each row is serialized by ``to_json(struct(*cols))``, which gives
    the same bytes as ``df.toJSON()``; unlike ``toJSON``'s RDD path it
    stays a Catalyst expression, so over a local relation the whole
    query folds at optimization time and the collect runs no job."""
    return [r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()]


def _records(df: DataFrame, limit: int | None = None) -> str:
    """S8: the ``to_json(orient="records")`` edge — rows to a JSON
    array string. Driver-bound BY CONTRACT: this is the API-response
    serialization boundary (the rows leave Spark here), so the
    ``collect()`` is the declared edge, not a distributed-op smell.
    ``limit`` guards driver memory for full-table routes (the
    reference materializes everything; at scale you paginate)."""
    if limit is not None:
        df = df.limit(limit)
    return _array(_json_rows(df))


def _slices(limit) -> bool:
    """Whether a Python slice gives ``DataFrame.limit(limit)``'s rows."""
    return limit is None or (type(limit) is int and limit >= 0)


class _Frame:
    """A resolved route frame: ``df``, and when it is held locally,
    ``rows``, its rows serialized once in relation order by
    ``_json_rows``; ``rows`` is ``None`` for a parquet leaf."""

    def __init__(self, df: DataFrame, rows: list[str] | None) -> None:
        self.df, self.rows = df, rows
        self._indexes: dict = {}
        self._lock = threading.Lock()

    def positions(self, col: str, key) -> list[int] | None:
        """The ascending positions of the rows whose ``col`` equals
        ``key``, from ``col``'s index (built on first use); ``None``
        when no index answers: the frame is not local, ``col`` is
        neither integral nor string, or ``key`` is not a value of its
        type. Null keys are never indexed: SQL equality never matches
        null."""
        if self.rows is None:
            return None
        with self._lock:
            if col not in self._indexes:
                self._indexes[col] = _key_index(self.df, col)
            kind, index = self._indexes[col]
        if type(key) is not kind or (kind is int and key not in _INT64):
            return None
        at = index.get(key, [])
        return [at] if type(at) is int else at


def _key_index(df: DataFrame, col: str) -> tuple[type | None, dict]:
    """``(key type, {key: positions})`` of ``df``'s ``col``: ``int``
    for an integral column, ``str`` for a string one, ``None`` (and no
    positions) for any other. A key on one row maps to its bare
    position, and to a list of positions only from its second row on:
    a unique column's index then holds no list at all."""
    dtype = df.schema[col].dataType
    if isinstance(dtype, IntegralType):
        kind = int
    elif dtype == StringType():
        kind = str
    else:
        return None, {}
    index: dict = {}
    for i, (key,) in enumerate(df.select(col).collect()):
        if key is None:
            continue
        at = index.get(key)
        if at is None:
            index[key] = i
        elif type(at) is int:
            index[key] = [at, i]
        else:
            at.append(i)
    return kind, index


def _estimate(df: DataFrame) -> int:
    """Spark's size estimate of ``df``, in bytes."""
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def _localized(spark: SparkSession, df: DataFrame, size) -> _Frame:
    """``df`` collected once into a driver-local relation, with its
    rows serialized, if ``size(df)`` is within the broadcast threshold
    and so is the length of its rows' JSON; a frame over ``df`` itself
    otherwise, or when the threshold is negative (``size`` is then not
    called). The relation's rows are collected JVM-side; only their
    JSON crosses into Python. The JSON is checked too because Spark's
    estimate comes from the compressed file size, which a repetitive
    string column can leave far below the rows' real size."""
    jspark = spark._jsparkSession
    bound = jspark.sessionState().conf().autoBroadcastJoinThreshold()
    if bound < 0 or size(df) > bound:
        return _Frame(df, None)
    rows = df._jdf.collectAsList()
    local = DataFrame(jspark.createDataFrame(rows, df._jdf.schema()), spark)
    json_rows = _json_rows(local)
    if sum(map(len, json_rows)) > bound:
        return _Frame(df, None)
    return _Frame(local, json_rows)


def _identity(sf_dir: str, name: str) -> tuple | None:
    """``input_identity`` of table ``name``'s file in ``sf_dir``."""
    return input_identity([f"{sf_dir}/{name}.parquet"])


def _resolved(spark: SparkSession, idents, frame, size) -> _Frame:
    """The route frame ``frame()``, from ``_FRAMES``, built through
    ``_localized`` with ``size`` on a miss. The key holds the session,
    since a frame runs in the session that built it, ``idents``, the
    ``_identity`` of each table file the frame reads, and the
    ``_FRAME_CONFS`` values. If a table is not a single local parquet
    file, the frame is rebuilt on every call and never held locally."""
    if None in idents:
        return _Frame(frame(), None)
    confs = tuple(spark.conf.get(k) for k in _FRAME_CONFS)
    key = (spark._jsparkSession.sessionUUID(), *idents, confs)
    return _FRAMES.get_or_put(
        key,
        lambda: _localized(spark, frame(), size),
        spark.sparkContext.applicationId,
    )


#: Each route table's projection onto the reference's columns.
_PROJECTIONS = {
    "customer": lambda t: t.select(  # users
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("gender"),  # categorical stand-in
        (F.col("c_custkey") % 60 + 18).alias("age"),  # deterministic age
        F.col("c_acctbal").alias("acctbal"),
    ),
    "orders": lambda t: t.select(  # rides
        F.col("o_orderkey").alias("ride_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("string").alias("start_time"),
        F.col("o_totalprice").alias("duration"),
    ),
}


def _table(spark: SparkSession, sf_dir: str, name: str, ident) -> _Frame:
    """Route table ``name``, resolved under its file's ``ident``."""
    project = _PROJECTIONS[name]
    return _resolved(
        spark,
        (ident,),
        lambda: project(load_table(spark, sf_dir, name)),
        _estimate,
    )


def _users(spark: SparkSession, sf_dir: str) -> _Frame:
    return _table(spark, sf_dir, "customer", _identity(sf_dir, "customer"))


def _rides(spark: SparkSession, sf_dir: str) -> _Frame:
    return _table(spark, sf_dir, "orders", _identity(sf_dir, "orders"))


def _user_rides(spark: SparkSession, sf_dir: str) -> _Frame:
    """``/rides/gender``'s ``users(user_id, gender, age) ⋈ rides``.
    Each file's identity is taken once and keys both its input and the
    join, so the join is stored under the identities its inputs were
    resolved under: a file rewritten in between leaves no stale join
    under the new identity. Spark estimates a join as the product of
    its inputs, so its size is counted (one job, when both inputs are
    local): rows × the row width Spark gives a local relation."""
    idents = (_identity(sf_dir, "customer"), _identity(sf_dir, "orders"))
    users = _table(spark, sf_dir, "customer", idents[0])
    rides = _table(spark, sf_dir, "orders", idents[1])

    def size(j: DataFrame) -> float:
        if users.rows is None or rides.rows is None:
            return math.inf
        return j.count() * (8 + j._jdf.schema().defaultSize())

    return _resolved(
        spark,
        idents,
        lambda: users.df.select("user_id", "gender", "age").join(
            rides.df, "user_id"
        ),
        size,
    )


def _equal(frame: _Frame, col: str, key) -> str:
    """The rows of ``frame`` whose ``col`` equals ``key``: the
    serialized rows at the key's positions, or a Catalyst filter when
    no index answers."""
    at = frame.positions(col, key)
    if at is None:
        return _records(frame.df.filter(F.col(col) == key))
    return _array(frame.rows[i] for i in at)


def _prefix(frame: _Frame, limit) -> str:
    """The first ``limit`` rows of ``frame`` (all if ``None``)."""
    if frame.rows is None or not _slices(limit):
        return _records(frame.df, limit)
    return _array(frame.rows[:limit])


def _deleted(spark: SparkSession, rides: _Frame, key: int, limit) -> str:
    """S9: ``rides`` without the rows whose ``ride_id`` is ``key``, then
    ``limit``. A local frame skips the key's positions; rows with a null
    ``ride_id`` stay, as with ``delete_by_keys``' left-anti join."""
    at = rides.positions("ride_id", key)
    if at is None or not _slices(limit):
        keys = spark.createDataFrame([(key,)], "ride_id long")
        kept = delete_by_keys(rides.df, F.broadcast(keys), ["ride_id"])
        return _records(kept, limit=limit)
    drop = set(at)
    kept = (row for i, row in enumerate(rides.rows) if i not in drop)
    return _array(itertools.islice(kept, limit))


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
        return _equal(_rides(spark, sf_dir), "ride_id", int(params["ride_id"]))
    if route == "/riders":
        return _prefix(_users(spark, sf_dir), params.get("limit"))
    if route == "/rider":
        return _equal(_users(spark, sf_dir), "user_id", int(params["user_id"]))
    if route == "/riders/gender":
        return _equal(_users(spark, sf_dir), "gender", params["gender"])
    if route == "/rides":
        return _prefix(_rides(spark, sf_dir), params.get("limit"))
    if route == "/rides/gender":
        return _equal(_user_rides(spark, sf_dir), "gender", params["gender"])
    if route == "/riders2":
        users = _users(spark, sf_dir)
        num = str(params["number"])
        if "-" in num:  # age range "lo-hi" (api.py:113-118)
            lo, hi = (int(x) for x in num.split("-"))
            return _records(users.df.filter(F.col("age").between(lo, hi)))
        return _equal(users, "age", int(num))
    if route == "/rider/rides":
        return _equal(_rides(spark, sf_dir), "user_id", int(params["user_id"]))
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
        return _records(_rides(spark, sf_dir).df.filter(cond))
    if route == "/ride/del":
        return _deleted(
            spark, _rides(spark, sf_dir), int(params["ride_id"]), params.get("limit")
        )
    raise ValueError(f"unknown route: {route}")
