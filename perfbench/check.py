"""Output checks, run outside every timed region.

- Registered queries are compared against their DuckDB oracle twins
  (``QuerySpec.oracle``) on the same generated files, by row count,
  column names and an order-insensitive hash of the values with the
  columns sorted by name — the comparison ``tools/driver_sim.py`` makes.
- Serve responses are compared against DuckDB statements written here
  from the reference routes' semantics.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import os
from dataclasses import dataclass

import duckdb


def canon(v) -> str:
    """Type-tagged text of one value, identical for equal values coming
    from Spark rows, DuckDB tuples or parsed JSON."""
    if v is None:
        return "n"
    if isinstance(v, bool):
        return f"b{v}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return f"f{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d{v.normalize()}"
    if isinstance(v, str):
        return "s" + json.dumps(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return f"t{v.isoformat()}"
    if hasattr(v, "asDict"):  # a pyspark Row struct matches DuckDB's dict
        return canon(v.asDict())
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    raise TypeError(f"cannot canonicalize {type(v).__name__}")


@dataclass(frozen=True)
class Digest:
    rows: int
    columns: tuple[str, ...]
    value_hash: str


def digest(columns: list[str], rows: list[tuple]) -> Digest:
    """Order-insensitive digest: columns sorted by name, each row's
    canonical text hashed, the row hashes sorted and hashed again."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    row_hashes = sorted(
        hashlib.sha256(
            "|".join(canon(r[i]) for i in order).encode()
        ).hexdigest()
        for r in rows
    )
    return Digest(
        rows=len(rows),
        columns=tuple(columns[i] for i in order),
        value_hash=hashlib.sha256("".join(row_hashes).encode()).hexdigest(),
    )


class Oracle:
    """DuckDB over one directory of generated parquet tables."""

    def __init__(self, table_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for f in sorted(os.listdir(table_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(table_dir, f).replace("'", "''")
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )

    def close(self) -> None:
        self.con.close()

    def __enter__(self) -> "Oracle":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def digest(self, sql: str, params: list | None = None) -> Digest:
        cur = self.con.execute(sql, params or [])
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())

    def records(self, sql: str, params: list | None = None) -> list[dict]:
        cur = self.con.execute(sql, params or [])
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]


def parquet_digest(paths: list[str]) -> Digest:
    """Digest of the rows held in the given parquet files (rows a sink
    call wrote), read with DuckDB rather than the engine."""
    if not paths:
        return Digest(0, (), digest([], []).value_hash)
    con = duckdb.connect()
    try:
        files = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
        cur = con.execute(f"SELECT * FROM read_parquet([{files}])")
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())
    finally:
        con.close()


# serve routes ---------------------------------------------------------------
_USERS = """(SELECT c_custkey AS user_id, c_name AS name,
                    c_mktsegment AS gender, c_custkey % 60 + 18 AS age,
                    c_acctbal AS acctbal FROM customer)"""
_RIDES = """(SELECT o_orderkey AS ride_id, o_custkey AS user_id,
                    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS start_time,
                    o_totalprice AS duration FROM orders)"""


def route_sql(route: str, params: dict) -> tuple[str, list]:
    """DuckDB statement answering one reference route."""
    if route == "/ride":
        return f"SELECT * FROM {_RIDES} WHERE ride_id = ?", [params["ride_id"]]
    if route == "/rider":
        return f"SELECT * FROM {_USERS} WHERE user_id = ?", [params["user_id"]]
    if route == "/rider/rides":
        return f"SELECT * FROM {_RIDES} WHERE user_id = ?", [params["user_id"]]
    if route == "/riders/gender":
        return f"SELECT * FROM {_USERS} WHERE gender = ?", [params["gender"]]
    if route == "/rides/gender":
        return (
            f"SELECT u.user_id, u.gender, u.age, r.ride_id, r.start_time, "
            f"r.duration FROM {_USERS} u JOIN {_RIDES} r "
            f"ON u.user_id = r.user_id WHERE u.gender = ?",
            [params["gender"]],
        )
    if route == "/riders2":
        num = str(params["number"])
        if "-" in num:
            lo, hi = (int(x) for x in num.split("-"))
            return f"SELECT * FROM {_USERS} WHERE age BETWEEN ? AND ?", [lo, hi]
        return f"SELECT * FROM {_USERS} WHERE age = ?", [int(num)]
    if route == "/daily":
        # each given date part equals the zero-padded stored part
        parts = str(params["date"]).split("-")[:3]
        widths = (4, 2, 2)
        conds = [
            f"split_part(start_time, '-', {i + 1}) = ?" for i in range(len(parts))
        ]
        return (
            f"SELECT * FROM {_RIDES} WHERE " + " AND ".join(conds),
            [p.zfill(widths[i]) for i, p in enumerate(parts)],
        )
    if route == "/riders":
        return f"SELECT * FROM {_USERS}", []
    raise ValueError(f"no DuckDB equivalent for route {route}")


def check_response(oracle: Oracle, route: str, params: dict, body: str) -> bool:
    """True when the JSON array ``body`` holds exactly the expected rows
    (any order). ``/riders?limit=N`` may return any N distinct rows."""
    try:
        got = [canon(r) for r in json.loads(body)]
    except (ValueError, TypeError, AttributeError):
        return False
    sql, args = route_sql(route, params)
    want = [canon(r) for r in oracle.records(sql, args)]
    if route == "/riders" and params.get("limit") is not None:
        n = min(int(params["limit"]), len(want))
        return len(got) == n and len(set(got)) == n and set(got) <= set(want)
    return sorted(got) == sorted(want)
