"""Seeded input generator for the benchmark.

Every input the engine sees is written here, as parquet files shaped
like the engine's catalog tables, before any timing starts. The same
seed gives byte-identical files and request schedules; another seed
gives different ones. Nothing in this module imports the engine.

Inputs:

- serve: one ``customer`` + ``orders`` catalog and a request schedule
  (route, params, due time) at a fixed offered rate.
- batch, ingest part: ``events`` batches at consecutive offset ranges
  (``batch_dir/events.parquet``), one per pass.
- batch, curate part: ``documents`` + ``embeddings`` snapshots, each a
  seeded ~90% subset of one base corpus, so consecutive snapshots
  overlap heavily but never match.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Input sizes, also stated in README.md and in BENCHMARK.json's workloads.
EVENTS_PER_BATCH = 4000
#: The warm-up batch only needs to compile every plan once.
WARMUP_EVENTS = 1000
N_EVENT_USERS = 150
N_CUSTOMERS = 2000
N_ORDERS = 20000
N_DOCS = 600
N_VECS = 600
SNAPSHOT_SHARE = 0.9
#: vec_id < 8 are the IVF query vectors; every snapshot keeps them.
N_QUERY_VECS = 8
DIM = 64

EVENT_TYPES = ("signup", "view", "click", "purchase", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
N_SOURCES = 20

#: Parquet writer settings pinned so output bytes depend on data only.
_PQ = {"compression": "snappy", "use_dictionary": True, "write_statistics": True}

_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in microseconds
_ORDER_T0_US = 788_918_400_000_000  # 1995-01-01 00:00:00 UTC


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **_PQ)


# ingest -------------------------------------------------------------------
def events_table(seed: int, batch: int, n: int = EVENTS_PER_BATCH) -> pa.Table:
    """One batch of log events at offsets [batch*n, (batch+1)*n).

    Timestamps rise monotonically across the batch and span well over
    the one-hour cutoff that the bounded read applies."""
    r = _rng(seed, 1, batch)
    offset = batch * n
    gaps = r.integers(1_000_000, 240_000_000, size=n)  # 1 s .. 4 min
    ts = _T0_US + offset * 120_000_000 + np.cumsum(gaps)
    return pa.table(
        {
            "event_id": pa.array(np.arange(offset, offset + n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, N_EVENT_USERS, n), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in r.integers(0, len(EVENT_TYPES), n)],
                pa.string(),
            ),
            "value": pa.array(
                np.round(r.exponential(50.0, n) + 0.01, 2), pa.float64()
            ),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n)],
                pa.string(),
            ),
        }
    )


def write_events_batch(
    root: str, seed: int, batch: int, n: int = EVENTS_PER_BATCH
) -> str:
    """Write batch ``batch`` under ``root``; returns its table dir."""
    d = os.path.join(root, f"batch-{batch:04d}")
    _write(events_table(seed, batch, n), os.path.join(d, "events.parquet"))
    return d


# serve --------------------------------------------------------------------
def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """``customer`` (users) and ``orders`` (rides) for the serve routes."""
    r = _rng(seed, 2)
    cust = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
            "c_name": pa.array(
                [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)], pa.string()
            ),
            "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMERS), pa.int32()),
            "c_acctbal": pa.array(
                np.round(r.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
                pa.float64(),
            ),
            "c_mktsegment": pa.array(
                [SEGMENTS[i] for i in r.integers(0, 5, N_CUSTOMERS)],
                pa.string(),
            ),
        }
    )
    days = r.integers(0, 365 * 6 + 200, N_ORDERS)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(r.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
            "o_orderstatus": pa.array(
                [ORDER_STATUS[i] for i in r.integers(0, 3, N_ORDERS)],
                pa.string(),
            ),
            "o_totalprice": pa.array(
                np.round(r.uniform(900.0, 500_000.0, N_ORDERS), 2), pa.float64()
            ),
            "o_orderdate": pa.array(
                _ORDER_T0_US + days * 86_400_000_000, pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                [PRIORITIES[i] for i in r.integers(0, 5, N_ORDERS)],
                pa.string(),
            ),
        }
    )
    return {"customer": cust, "orders": orders}


def write_catalog(root: str, seed: int) -> str:
    for name, table in catalog_tables(seed).items():
        _write(table, os.path.join(root, f"{name}.parquet"))
    return root


@dataclass(frozen=True)
class Request:
    due_s: float  # offset from the start of the open loop
    route: str
    params: tuple[tuple[str, object], ...]

    @property
    def kwargs(self) -> dict:
        return dict(self.params)

    @property
    def label(self) -> str:
        """Route name as the per-route metrics spell it."""
        if self.route == "/riders/gender":
            return "riders_gender"
        if self.route == "/rides/gender":
            return "rides_gender"
        return self.route.strip("/").replace("/", "_")


#: Route mix (weights sum to 100). No traffic data for the API exists, so
#: these weights are an unverified assumption that encodes only "mostly
#: point lookups": the three keyed lookups get 75%, and each scan or
#: aggregate route gets 5%, the least that still sends every route one
#: request in a 20-request run. Replace them once measured traffic is
#: available.
ROUTE_MIX = (
    ("/ride", 30),
    ("/rider", 25),
    ("/rider/rides", 20),
    ("/daily", 5),
    ("/riders2", 5),
    ("/riders/gender", 5),
    ("/riders", 5),
    ("/rides/gender", 5),
)


def route_counts(n: int) -> list[int]:
    """Requests per ``ROUTE_MIX`` route out of ``n``: each weight's share,
    rounded by largest remainder so the counts sum to ``n``."""
    total = sum(w for _, w in ROUTE_MIX)
    exact = [n * w / total for _, w in ROUTE_MIX]
    counts = [int(x) for x in exact]
    by_remainder = sorted(range(len(exact)), key=lambda i: counts[i] - exact[i])
    for i in by_remainder[: n - sum(counts)]:
        counts[i] += 1
    return counts


def request_schedule(seed: int, rate: float, n: int) -> list[Request]:
    """``n`` requests due every ``1/rate`` seconds. The seed picks the
    order and the keys; every seed sends each route the same number of
    requests, since routes differ in cost and a seed-dependent mix would
    move the latency median between runs."""
    r = _rng(seed, 3)
    routes = [rt for rt, _ in ROUTE_MIX]
    picks = r.permutation(np.repeat(np.arange(len(routes)), route_counts(n)))
    out: list[Request] = []
    for i, k in enumerate(picks):
        route = routes[k]
        if route == "/ride":
            params = (("ride_id", int(r.integers(0, N_ORDERS))),)
        elif route in ("/rider", "/rider/rides"):
            params = (("user_id", int(r.integers(0, N_CUSTOMERS))),)
        elif route == "/daily":
            # year-month, zero-padded or not; day-level dates are left out
            # because the engine's day-part match never fires on stored
            # "YYYY-MM-DD HH:MM:SS" times, so a check of intended
            # semantics would fail the parent commit
            y = int(r.integers(1995, 2001))
            m = int(r.integers(1, 13))
            month = f"{m:02d}" if r.random() < 0.5 else str(m)
            params = (("date", f"{y}-{month}"),)
        elif route == "/riders2":
            lo = int(r.integers(18, 78))
            if r.random() < 0.5:
                params = (("number", str(lo)),)
            else:
                params = (("number", f"{lo}-{min(lo + int(r.integers(1, 6)), 77)}"),)
        elif route in ("/riders/gender", "/rides/gender"):
            params = (("gender", SEGMENTS[int(r.integers(0, 5))]),)
        else:  # /riders?limit
            params = (("limit", int(r.integers(5, 50))),)
        out.append(Request(due_s=i / rate, route=route, params=params))
    return out


# curate -------------------------------------------------------------------
def _base_corpus(seed: int) -> tuple[pa.Table, pa.Table]:
    r = _rng(seed, 4)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and r.random() < 0.06:
            # near duplicate of an earlier document (dedup finds pairs)
            src = texts[int(r.integers(0, i))].split()
            cut = int(r.integers(max(1, len(src) * 3 // 4), len(src) + 1))
            texts.append(" ".join(src[:cut] + ["dup"]))
            continue
        n_words = int(r.integers(8, 90))
        texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), n_words)))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [LANGS[j] for j in r.integers(0, len(LANGS), N_DOCS)], pa.string()
            ),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in range(N_DOCS)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = r.integers(0, 10, N_VECS)
    centers = r.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] * 0.15 + r.normal(0.0, 1.0, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return docs, emb


def snapshot_tables(seed: int, snap: int) -> tuple[pa.Table, pa.Table]:
    """Snapshot ``snap``: a seeded ``SNAPSHOT_SHARE`` subset of the base
    corpus that always keeps the query vectors."""
    docs, emb = _base_corpus(seed)
    r = _rng(seed, 5, snap)
    share = SNAPSHOT_SHARE
    keep_docs = np.sort(r.choice(N_DOCS, size=int(N_DOCS * share), replace=False))
    rest = np.arange(N_QUERY_VECS, N_VECS)
    keep_vecs = np.concatenate(
        [
            np.arange(N_QUERY_VECS),
            np.sort(
                r.choice(
                    rest, size=int(N_VECS * share) - N_QUERY_VECS, replace=False
                )
            ),
        ]
    )
    return docs.take(keep_docs), emb.take(keep_vecs)


def write_snapshot(root: str, seed: int, snap: int) -> str:
    d = os.path.join(root, f"snap-{snap:04d}")
    docs, emb = snapshot_tables(seed, snap)
    _write(docs, os.path.join(d, "documents.parquet"))
    _write(emb, os.path.join(d, "embeddings.parquet"))
    return d
