"""The benchmark's two workloads, driven through the engine's public
functions only.

- ``serve`` (open loop): reference API routes at a fixed offered rate,
  each request timed from when it was due.
- ``batch`` (closed loop): one pass is an ingest part and a curate part.
  Ingest drains a fresh log batch, builds the rides and users tables,
  appends both to parquet sinks, then redelivers the same batch, which
  must write nothing. Curate runs the curation pipeline, MinHash band
  pairs and a cold then warm IVF top-k on a fresh corpus snapshot.

An *operation* is one pass (batch) or one request (serve). Its time is
the sum of its timed steps; checks, bookkeeping and the
measurement-only noop runs of the traced mode are not timed. Its CPU
time is what the benchmark's process tree used meanwhile.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import check
import gen
import hoststats
from spans import JobGroups, SparkCounters, Tracer, self_time_by_layer

#: Offered request rate of the serve workload, and its latency limit.
#: The rate is about a third of the closed-loop capacity of four clients
#: (7.5 req/s), and gives 20 requests in an 8 s run, enough for every
#: route. At 4 req/s, concurrent requests queue for the same Spark task
#: slots, so host noise moved the latency median between runs by more:
#: on a shared 4-CPU host, over the same six seeds run alternately, the
#: quartile spread of the run medians was 0.21 at 4 req/s and 0.14 at
#: 2 req/s.
SERVE_RATE = 2.5
SERVE_LIMIT_MS = 1000.0
#: Warm-up requests before the timed window, issued at four times the
#: offered rate to keep the run short (the engine answers about 5 req/s
#: with this many threads). Latency levels off after about 50 requests,
#: CPU per request outside the JIT compiler after about 90.
SERVE_WARMUP_REQUESTS = 96
SERVE_WARMUP_SPEEDUP = 4
#: Tail percentile in the serve details, stated with its sample count
#: (5 samples beyond it in a 20-request run).
TAIL_Q = 75.0
RIDE_KEYS = ["user_id", "start_time"]
USER_KEYS = ["user_id", "account_created"]
#: Inputs used only to warm up, drawn from streams the timed loop never
#: uses.
WARMUP_INDEX = 10_000
#: Untimed passes before the timed ones. The first is the cold start
#: (class loading, code generation). The JIT then keeps cutting the CPU
#: of each pass: in two fresh processes on a 4-CPU host, the second,
#: third and fourth passes took 32-35, 25-28 and 21-23 CPU seconds, and
#: the two processes were 11% apart on the third pass, 7% on the fourth.
WARMUP_OPS = 3
LAYERS = ("api", "catalog", "sources", "pipeline", "sinks", "corpus",
          "dedup", "similarity")


class Engine:
    """Handles on the engine's public functions, imported at set-up."""

    def __init__(self) -> None:
        from deloton_solo_spark import api, catalog
        from deloton_solo_spark.operators import (
            corpus, dedup, pipeline, similarity, sinks, sources,
        )
        from deloton_solo_spark.registry import all_queries

        self.api, self.catalog = api, catalog
        self.sources, self.pipeline, self.sinks = sources, pipeline, sinks
        self.corpus, self.dedup, self.similarity = corpus, dedup, similarity
        self.queries = all_queries()

    def oracle_sql(self, name: str) -> str:
        return self.queries[name].oracle


@dataclass
class Op:
    """One operation: its timed steps, its Spark job groups and what
    the checks need afterwards."""

    name: str
    ms: float = 0.0
    cpu_ms: float = 0.0
    jit_cpu_ms: float = 0.0
    steal_pct: float = 0.0
    steps: dict[str, float] = field(default_factory=dict)
    groups: list[tuple[str, str, bool]] = field(default_factory=list)
    outputs: dict[str, object] = field(default_factory=dict)
    error: str | None = None


class Ctx:
    def __init__(self, spark, engine: Engine, tracer: Tracer, cpus: int,
                 work: str, seed: int, rss: hoststats.PeakRss) -> None:
        self.spark = spark
        self.engine = engine
        self.tracer = tracer
        self.traced = tracer.enabled
        self.groups = JobGroups(spark) if tracer.enabled else None
        self.cpus = cpus
        self.work = work
        self.seed = seed
        self.rss = rss

    @contextlib.contextmanager
    def step(self, op: Op, name: str, timed: bool = True):
        """Time one call into a layer; traced runs also open a span and
        a Spark job group for it."""
        group = self.groups.start(name) if self.groups else None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, op=op.name, timed=timed):
                yield
        finally:
            dt = time.perf_counter() - t0
            if group is not None:
                self.groups.stop()
                op.groups.append((name, group, timed))
            op.steps[name] = op.steps.get(name, 0.0) + dt
            if timed:
                op.ms += dt * 1000.0

    def frame(self, op: Op, layer: str, build, run):
        """A lazy frame in three phases: build, plan (traced only), run."""
        with self.step(op, f"{layer}.construct"):
            df = build()
        if self.traced:
            with self.step(op, f"{layer}.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.step(op, f"{layer}.exec"):
            return df, run(df)


def _parquet_files(path: str) -> set[str]:
    if not os.path.isdir(path):
        return set()
    return {
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect(df):
    return df.collect()


# ingest -------------------------------------------------------------------
class Ingest:
    """The ingest part of a batch pass."""

    #: Engine calls per pass: drain, two appends, two redeliveries.
    CALLS = ("drain", "rides", "users", "rides_redelivery", "users_redelivery")

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.inputs = os.path.join(ctx.work, "inputs")
        self.sink = {
            "rides": os.path.join(ctx.work, "sink", "rides"),
            "users": os.path.join(ctx.work, "sink", "users"),
        }
        self.items_per_op = gen.EVENTS_PER_BATCH

    def prepare(self, n: int) -> None:
        self.dirs = [
            gen.write_events_batch(self.inputs, self.ctx.seed, b)
            for b in range(n)
        ]
        self.warm = [
            gen.write_events_batch(
                self.inputs, self.ctx.seed, WARMUP_INDEX + k, gen.WARMUP_EVENTS
            )
            for k in range(WARMUP_OPS)
        ]

    def input_for(self, i: int) -> str:
        while i >= len(self.dirs):
            self.dirs.append(
                gen.write_events_batch(self.inputs, self.ctx.seed, len(self.dirs))
            )
        return self.dirs[i]

    def _append(self, op: Op, table: str, build, redelivery: bool) -> None:
        ctx, eng = self.ctx, self.ctx.engine
        again = "re" if redelivery else ""
        with ctx.step(op, f"pipeline.{table}.{again}construct"):
            df = build()
        if ctx.traced and not redelivery:
            with ctx.step(op, f"pipeline.{table}.plan"):
                df._jdf.queryExecution().executedPlan()
            # measurement-only run of the pipeline alone: the append
            # below runs the whole plan again, so layer_metrics moves
            # this much of the append's time from sinks to pipeline
            with ctx.step(op, f"pipeline.{table}.exec", timed=False):
                _noop(df)
        keys = RIDE_KEYS if table == "rides" else USER_KEYS
        before = _parquet_files(self.sink[table])
        with ctx.step(op, "sinks.redelivery" if redelivery else "sinks.append"):
            eng.sinks.idempotent_append(df, self.sink[table], keys)
        call = f"{table}_redelivery" if redelivery else table
        op.outputs[call] = sorted(_parquet_files(self.sink[table]) - before)

    def run(self, op: Op, batch_dir: str) -> None:
        ctx, eng = self.ctx, self.ctx.engine
        spark = ctx.spark
        df, rows = ctx.frame(
            op, "sources.bounded_read",
            lambda: eng.sources.bounded_read(spark, batch_dir), _collect,
        )
        op.outputs["drain"] = (df.columns, rows)
        rides = lambda: eng.pipeline.ride_ingest_pipeline(spark, batch_dir)  # noqa: E731
        users = lambda: eng.pipeline.users_ingest_pipeline(spark, batch_dir)  # noqa: E731
        self._append(op, "rides", rides, redelivery=False)
        self._append(op, "users", users, redelivery=False)
        self._append(op, "rides", rides, redelivery=True)
        self._append(op, "users", users, redelivery=True)

    def check(self, ops: list[Op], dirs: list[str]) -> list[tuple[str, bool]]:
        eng = self.ctx.engine
        verdicts: list[tuple[str, bool]] = []
        for op, d in zip(ops, dirs):
            with check.Oracle(d) as orc:
                want = {
                    "drain": orc.digest(eng.oracle_sql("bounded_read")),
                    "rides": orc.digest(eng.oracle_sql("ride_ingest_pipeline")),
                    "users": orc.digest(eng.oracle_sql("users_ingest_pipeline")),
                }
            cols, rows = op.outputs["drain"]
            verdicts.append(("drain", check.digest(cols, rows) == want["drain"]))
            for t in ("rides", "users"):
                verdicts.append((t, check.parquet_digest(op.outputs[t]) == want[t]))
                written = check.parquet_digest(op.outputs[f"{t}_redelivery"]).rows
                verdicts.append((f"{t}_redelivery", written == 0))
        return verdicts


# curate -------------------------------------------------------------------
class Curate:
    """The curate part of a batch pass."""

    CALLS = ("curation", "minhash", "ivf_cold", "ivf_warm")

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.inputs = os.path.join(ctx.work, "inputs")
        self.items_per_op = int(gen.N_DOCS * gen.SNAPSHOT_SHARE)

    def prepare(self, n: int) -> None:
        self.dirs = [
            gen.write_snapshot(self.inputs, self.ctx.seed, s) for s in range(n)
        ]
        self.warm = [
            gen.write_snapshot(self.inputs, self.ctx.seed, WARMUP_INDEX + k)
            for k in range(WARMUP_OPS)
        ]

    def input_for(self, i: int) -> str:
        while i >= len(self.dirs):
            self.dirs.append(
                gen.write_snapshot(self.inputs, self.ctx.seed, len(self.dirs))
            )
        return self.dirs[i]

    def _memo_size(self) -> int:
        memo = getattr(self.ctx.engine.similarity, "_ARTIFACT_MEMO", None)
        return len(memo) if memo is not None else 0

    def run(self, op: Op, snap_dir: str) -> None:
        ctx, eng, spark = self.ctx, self.ctx.engine, self.ctx.spark
        calls = (
            ("curation", "corpus.curation", eng.corpus.curation_pipeline),
            ("minhash", "dedup.minhash", eng.dedup.minhash_band_pairs),
            ("ivf_cold", "similarity.ivf_cold", eng.similarity.similarity_topk_ivf),
            ("ivf_warm", "similarity.ivf_warm", eng.similarity.similarity_topk_ivf),
        )
        op.outputs["memo_added"] = []
        for call, layer, fn in calls:
            m0 = self._memo_size()
            df, rows = ctx.frame(op, layer, lambda fn=fn: fn(spark, snap_dir), _collect)
            op.outputs[call] = (df.columns, rows)
            if call.startswith("ivf"):
                op.outputs["memo_added"].append(self._memo_size() - m0)

    def check(self, ops: list[Op], dirs: list[str]) -> list[tuple[str, bool]]:
        eng = self.ctx.engine
        names = {
            "curation": "curation_pipeline",
            "minhash": "minhash_band_pairs",
            "ivf_cold": "similarity_topk_ivf",
            "ivf_warm": "similarity_topk_ivf",
        }
        verdicts: list[tuple[str, bool]] = []
        for op, d in zip(ops, dirs):
            with check.Oracle(d) as orc:
                want: dict[str, check.Digest] = {}
                for call, q in names.items():
                    if q not in want:
                        want[q] = orc.digest(eng.oracle_sql(q))
                    cols, rows = op.outputs[call]
                    verdicts.append((call, check.digest(cols, rows) == want[q]))
        return verdicts


# batch --------------------------------------------------------------------
class Batch:
    """One pass: an ingest iteration, then a curate iteration, on inputs
    of the same index."""

    CALLS = Ingest.CALLS + Curate.CALLS

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.ingest = Ingest(ctx)
        self.curate = Curate(ctx)

    def prepare(self, n: int) -> None:
        self.ingest.prepare(n)
        self.curate.prepare(n)
        self.warm = list(zip(self.ingest.warm, self.curate.warm))

    def input_for(self, i: int) -> tuple[str, str]:
        return self.ingest.input_for(i), self.curate.input_for(i)

    def run_op(self, i: int, dirs: tuple[str, str]) -> Op:
        op = Op(name=f"batch-{i}")
        self.ingest.run(op, dirs[0])
        self.curate.run(op, dirs[1])
        return op

    def check(self, ops: list[Op], dirs: list[tuple[str, str]]) -> list[tuple[str, bool]]:
        return (
            self.ingest.check(ops, [d[0] for d in dirs])
            + self.curate.check(ops, [d[1] for d in dirs])
        )


# closed loop ------------------------------------------------------------------
def closed_loop(wl, seconds: float) -> tuple[list[Op], list, int]:
    """Run operations until their summed time reaches ``seconds``.
    Returns the ops, their inputs and the number of failed calls (engine
    errors)."""
    ctx = wl.ctx
    t = time.perf_counter()
    for k, d in enumerate(wl.warm):  # warm-up, discarded
        wl.run_op(-1 - k, d)
    wl.warmup_s = time.perf_counter() - t
    ctx.rss.sample()
    ops: list[Op] = []
    dirs: list = []
    spent = 0.0
    errors = 0
    while spent < seconds:
        d = wl.input_for(len(ops))
        cpu0, ticks0 = hoststats.tree_cpu_s(os.getpid()), hoststats.read_cpu_ticks()
        try:
            op = wl.run_op(len(ops), d)
        except Exception:  # noqa: BLE001 — a failed call is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            errors += 1
            break
        cpu, jit = hoststats.cpu_delta_s(cpu0, hoststats.tree_cpu_s(os.getpid()))
        op.cpu_ms, op.jit_cpu_ms = cpu * 1000.0, jit * 1000.0
        op.steal_pct = hoststats.steal_pct(ticks0, hoststats.read_cpu_ticks())
        ops.append(op)
        dirs.append(d)
        spent += op.ms / 1000.0
        ctx.rss.sample()
    return ops, dirs, errors


# serve --------------------------------------------------------------------
class Serve:
    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.catalog = os.path.join(ctx.work, "inputs", "catalog")

    def prepare(self, seconds: float) -> None:
        gen.write_catalog(self.catalog, self.ctx.seed)
        n = max(1, int(round(seconds * SERVE_RATE)))
        self.schedule = gen.request_schedule(self.ctx.seed, SERVE_RATE, n)
        # keys from another stream
        self.warm = gen.request_schedule(
            self.ctx.seed + WARMUP_INDEX, SERVE_WARMUP_SPEEDUP * SERVE_RATE,
            SERVE_WARMUP_REQUESTS,
        )

    def _one(self, op: Op, rq: gen.Request, due: float) -> None:
        ctx = self.ctx
        try:
            with ctx.step(op, f"api.route.{rq.label}"):
                op.outputs["body"] = ctx.engine.api.serve(
                    ctx.spark, self.catalog, rq.route, **rq.kwargs
                )
        except Exception:  # noqa: BLE001 — a failed request is counted
            op.error = traceback.format_exc(limit=3)
        op.outputs["latency_ms"] = (time.perf_counter() - due) * 1000.0

    def _open_loop(self, ops: list[Op], schedule: list[gen.Request]):
        """Issue ``schedule`` on time; returns the generator's lateness
        per request and the window from the first due time to the last
        answer."""
        lateness: list[float] = []
        with ThreadPoolExecutor(max_workers=self.ctx.cpus) as pool:
            futures = []
            t0 = time.perf_counter() + 0.05
            for op, rq in zip(ops, schedule):
                due = t0 + rq.due_s
                now = time.perf_counter()
                if due > now:
                    time.sleep(due - now)
                lateness.append((time.perf_counter() - due) * 1000.0)
                futures.append(pool.submit(self._one, op, rq, due))
            for f in futures:
                f.result()
        return lateness, time.perf_counter() - t0

    def run(self) -> tuple[list[Op], list[float]]:
        t = time.perf_counter()
        warm = [Op(name=f"warm-{k}") for k in range(len(self.warm))]
        self._open_loop(warm, self.warm)
        self.warmup_s = time.perf_counter() - t
        self.ctx.rss.sample()
        ops = [Op(name=f"req-{i}") for i in range(len(self.schedule))]
        cpu0 = hoststats.tree_cpu_s(os.getpid())
        lateness, self.window_s = self._open_loop(ops, self.schedule)
        cpu, jit = hoststats.cpu_delta_s(cpu0, hoststats.tree_cpu_s(os.getpid()))
        self.cpu_ms, self.jit_cpu_ms = cpu * 1000.0, jit * 1000.0
        self.ctx.rss.sample()
        return ops, lateness

    def check(self, ops: list[Op]) -> list[tuple[str, bool]]:
        verdicts: list[tuple[str, bool]] = []
        with check.Oracle(self.catalog) as orc:
            for op, rq in zip(ops, self.schedule):
                ok = op.error is None and check.check_response(
                    orc, rq.route, rq.kwargs, op.outputs.get("body", "")
                )
                op.outputs["correct"] = ok
                verdicts.append((rq.label, ok))
        return verdicts


# traced metrics ------------------------------------------------------------
def patch_load_table(ctx: Ctx):
    """Route every engine module's ``load_table`` through a span.
    Returns the undo function."""
    orig = ctx.engine.catalog.load_table

    def load_table(*args, **kwargs):
        with ctx.tracer.span("catalog.load_table"):
            return orig(*args, **kwargs)

    patched = [
        mod
        for name, mod in list(sys.modules.items())
        if name.startswith("deloton_solo_spark")
        and getattr(mod, "load_table", None) is orig
    ]
    for mod in patched:
        mod.load_table = load_table

    def undo() -> None:
        for mod in patched:
            mod.load_table = orig

    return undo


def spark_counters(ctx: Ctx, ops: list[Op]) -> dict[str, SparkCounters]:
    """Counters summed per step name, and under ``"_all"`` over the
    timed steps."""
    out: dict[str, SparkCounters] = {"_all": SparkCounters()}
    for op in ops:
        for name, group, timed in op.groups:
            c = ctx.groups.read(group)
            out.setdefault(name, SparkCounters())
            out[name] += c
            if timed:
                out["_all"] += c
    return out


def layer_metrics(
    ctx: Ctx, ops: list[Op], session_start_s: float
) -> tuple[dict[str, float], dict[str, SparkCounters]]:
    """The per-layer metrics every workload reports, and the Spark
    counters per step name they were summed from."""
    n = max(len(ops), 1)
    op_ms = sum(o.ms for o in ops)
    names = {o.name for o in ops}
    spans = [s for s in ctx.tracer.spans if s.op in names]
    loads = [s for s in spans if s.name == "catalog.load_table"]
    counters = spark_counters(ctx, ops)
    c = counters["_all"]
    by_layer = self_time_by_layer(spans)
    # ingest: the append re-runs the pipeline, so its share of the
    # append is the untimed noop run of that pipeline
    rerun = sum(
        s.dur for s in spans
        if not s.timed and s.name.startswith("pipeline.") and s.name.endswith(".exec")
    )
    if rerun:
        moved = min(rerun, by_layer.get("sinks", 0.0))
        by_layer["sinks"] = by_layer.get("sinks", 0.0) - moved
        by_layer["pipeline"] = by_layer.get("pipeline", 0.0) + moved
    m = {
        "session.start_s": session_start_s,
        "catalog.load_table.calls_per_op": len(loads) / n,
        "catalog.load_table.ms_per_op": sum(s.dur for s in loads) * 1000.0 / n,
        "engine.call_ms_per_op": op_ms / n,
        "spark.job_ms_per_op": c.job_wall_ms / n,
        "driver.ms_per_op": max(op_ms - c.job_wall_ms, 0.0) / n,
        "spark.jobs_per_op": c.jobs / n,
        "spark.stages_per_op": c.stages / n,
        "spark.tasks_per_op": c.tasks / n,
        "spark.executor_run_ms_per_op": c.executor_run_ms / n,
        "spark.executor_busy_ratio": (
            c.executor_run_ms / (op_ms * ctx.cpus) if op_ms else 0.0
        ),
        "spark.gc_ms_per_op": c.gc_ms / n,
        "spark.shuffle_write_bytes_per_op": c.shuffle_write_bytes / n,
        "spark.spill_bytes_per_op": c.spill_bytes / n,
    }
    for layer in LAYERS:
        m[f"share.{layer}"] = by_layer.get(layer, 0.0) * 1000.0 / op_ms if op_ms else 0.0
    return m, counters


PHASES = ("construct", "plan", "exec")
#: Per-layer timings under their own names: metric → the steps whose
#: seconds it sums per operation.
NAMED_STEPS = {
    "sources.bounded_read.exec_s": ("sources.bounded_read.exec",),
    "pipeline.rides.construct_s": ("pipeline.rides.construct",),
    "pipeline.rides.plan_s": ("pipeline.rides.plan",),
    "pipeline.rides.exec_s": ("pipeline.rides.exec",),
    "pipeline.users.exec_s": ("pipeline.users.exec",),
    "sinks.append_s": ("sinks.append",),
    "sinks.redelivery_s": ("sinks.redelivery",),
    "corpus.curation.construct_s": ("corpus.curation.construct",),
    "corpus.curation.exec_s": ("corpus.curation.exec",),
    "dedup.minhash_s": tuple(f"dedup.minhash.{p}" for p in PHASES),
    "similarity.ivf.cold_s": tuple(f"similarity.ivf_cold.{p}" for p in PHASES),
    "similarity.ivf.warm_s": tuple(f"similarity.ivf_warm.{p}" for p in PHASES),
}


def _median_seconds(ops: list[Op], steps: tuple[str, ...]) -> float:
    """Median over the ops that ran any of ``steps`` of their summed
    seconds; 0 when no op ran them."""
    per_op = [
        sum(op.steps.get(s, 0.0) for s in steps)
        for op in ops
        if any(s in op.steps for s in steps)
    ]
    return statistics.median(per_op) if per_op else 0.0


def named_step_metrics(ops: list[Op]) -> dict[str, float]:
    """Every ``NAMED_STEPS`` metric, and each serve route's median
    service time as ``api.route.<route>.p50_ms``. A step the workload
    does not run reads 0."""
    m = {name: _median_seconds(ops, steps) for name, steps in NAMED_STEPS.items()}
    for route, _ in gen.ROUTE_MIX:
        label = gen.Request(0.0, route, ()).label
        m[f"api.route.{label}.p50_ms"] = (
            _median_seconds(ops, (f"api.route.{label}",)) * 1000.0
        )
    return m


def step_medians(ops: list[Op]) -> dict[str, float]:
    """Median seconds per step name over the ops that ran it."""
    per: dict[str, list[float]] = {}
    for op in ops:
        for k, v in op.steps.items():
            per.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in sorted(per.items())}
