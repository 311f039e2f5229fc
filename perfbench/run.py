"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload serve|batch \\
        --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, starts the engine,
warms up, measures for ``--seconds`` seconds of operations, checks every
output against DuckDB, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. The
line before it holds the run's details (input sizes, sample counts,
host noise, pinned settings, per-step times); the same details and, when
traced, every span are written under ``.perfbench_out/``.

Everything the run writes stays inside the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"
#: Driver heap cap for the engine's JVM: the engine's own default, pinned
#: so every run (and both sides of a comparison) sizes it alike. The heap
#: starts small and grows as the JVM needs, so peak RSS follows the
#: engine's real heap use.
DRIVER_MEM = "8g"
#: Inputs generated before timing for a closed loop (more are generated,
#: outside the clock, if a fast engine runs more operations).
POOL = 4


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_env(work: str, cpus: int) -> dict[str, str]:
    """Pin every environment setting the engine reads, and keep the
    JVM's and Python's scratch files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CODEGEN_CACHE": "20000",
        "SPARK_GRAFT_ASSIGN_KERNEL": "arrow",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Compiler threads that come and go would take their CPU time
        # out of the JIT's share; keeping them alive changes no compile
        # decision.
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(pins)
    tempfile.tempdir = None  # re-read TMPDIR
    return pins


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — make sure it is gone
            proc.kill()
            proc.wait(timeout=10)


def reap_children(timeout: float = 15.0) -> None:
    """Wait for every process below this one to end, killing leftovers."""
    import signal

    import hoststats

    deadline = time.monotonic() + timeout
    me = os.getpid()
    while True:
        kids = hoststats.descendants(me) - {me}
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "deloton_solo_spark")):
        print(
            "perfbench: deloton_solo_spark/ not found; run from the "
            "repository root",
            file=sys.stderr,
        )
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, root]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, WORK_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pins = pin_env(work, cpus)

    import hoststats
    import workloads as W
    from spans import Tracer

    wl_cls = {"serve": W.Serve, "batch": W.Batch}[args.workload]
    noise = {
        "load_avg_1m_before": hoststats.load_avg_1m(),
        "competing_jvms_before": hoststats.competing_jvms({os.getpid()}),
    }

    # set-up: engine import, session start, first job
    t_setup = time.perf_counter()
    from deloton_solo_spark.session import get_spark

    engine = W.Engine()
    t_session = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.range(1).count()
    ready = time.perf_counter()
    setup_s = ready - t_setup
    session_start_s = ready - t_session
    spark.sparkContext.setLogLevel("ERROR")

    rss = hoststats.PeakRss(os.getpid())
    rss.sample()
    tracer = Tracer(enabled=bool(args.trace))
    ctx = W.Ctx(spark, engine, tracer, cpus, work, args.seed, rss)
    wl = wl_cls(ctx)
    t = time.perf_counter()
    wl.prepare(args.seconds if args.workload == "serve" else POOL)
    gen_s = time.perf_counter() - t
    undo = W.patch_load_table(ctx) if ctx.traced else (lambda: None)

    ticks0 = hoststats.read_cpu_ticks()
    t_loop = time.perf_counter()
    if args.workload == "serve":
        ops, lateness = wl.run()
        dirs: list[str] = []
        errors = 0
    else:
        ops, dirs, errors = W.closed_loop(wl, args.seconds)
        lateness = []
    loop_s = time.perf_counter() - t_loop
    ticks1 = hoststats.read_cpu_ticks()
    undo()
    own = hoststats.descendants(os.getpid())
    noise.update(
        steal_pct=hoststats.steal_pct(ticks0, ticks1),
        load_avg_1m_after=hoststats.load_avg_1m(),
        competing_jvms=hoststats.competing_jvms(own),
    )
    noise["contaminated"] = bool(
        noise["steal_pct"] > hoststats.MAX_STEAL_PCT
        or noise["competing_jvms"] > 0
    )
    rss.sample()

    # checks, outside the clock
    t = time.perf_counter()
    verdicts = wl.check(ops) if args.workload == "serve" else wl.check(ops, dirs)
    check_s = time.perf_counter() - t
    failed = sum(1 for _, ok in verdicts if not ok) + errors
    calls = getattr(wl, "CALLS", ("request",))
    attempted = len(ops) * len(calls) + errors

    detail: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "env": pins,
        "host": noise,
        "peak_rss_mb_by_command": rss.by_command(),
        "timings_s": {
            "setup": setup_s, "session_start": session_start_s,
            "input_generation": gen_s, "warmup": wl.warmup_s,
            "loop": loop_s, "checks": check_s,
        },
        "failed_checks": sorted({name for name, ok in verdicts if not ok}),
        "steps_median_s": W.step_medians(ops),
    }
    if not ops:
        print(json.dumps({"detail": detail}))
        print("perfbench: no operation completed", file=sys.stderr)
        stop_spark(spark)
        reap_children()
        return 1

    if args.workload == "serve":
        lat = [op.outputs["latency_ms"] for op in ops]
        good = sum(
            1 for op in ops
            if op.outputs.get("correct") and op.outputs["latency_ms"] <= W.SERVE_LIMIT_MS
        )
        goodput = good / wl.window_s
        cpu_ms = (wl.cpu_ms - wl.jit_cpu_ms) / len(ops)
        jit_ms = wl.jit_cpu_ms / len(ops)
        per_route: dict[str, list[float]] = {}
        for op, rq in zip(ops, wl.schedule):
            per_route.setdefault(rq.label, []).append(op.outputs["latency_ms"])
        detail["serve"] = {
            "offered_rate_per_s": W.SERVE_RATE,
            "window_s": wl.window_s,
            "latency_limit_ms": W.SERVE_LIMIT_MS,
            "requests": len(ops),
            "goodput_per_s": goodput,
            "cpu_ms_per_request": wl.cpu_ms / len(ops),
            "jit_cpu_ms_per_request": jit_ms,
            f"p{W.TAIL_Q:g}_ms": hoststats.percentile(lat, W.TAIL_Q),
            "tail_samples_beyond": hoststats.samples_beyond(len(lat), W.TAIL_Q),
            "generator_lateness_ms": {
                "median": statistics.median(lateness),
                "max": max(lateness),
            },
            "route_p50_ms": {
                k: statistics.median(v) for k, v in sorted(per_route.items())
            },
            "route_requests": {k: len(v) for k, v in sorted(per_route.items())},
        }
    else:
        lat = [op.ms for op in ops]
        cpu_ms = statistics.median(op.cpu_ms - op.jit_cpu_ms for op in ops)
        jit_ms = statistics.median(op.jit_cpu_ms for op in ops)
        pass_s = statistics.median(lat) / 1000.0
        detail["batch"] = {
            "passes": len(ops),
            "warmup_passes": W.WARMUP_OPS,
            "lines_per_pass": wl.ingest.items_per_op,
            "docs_per_pass": wl.curate.items_per_op,
            "lines_per_s": wl.ingest.items_per_op / pass_s,
            "docs_per_s": wl.curate.items_per_op / pass_s,
            "pass_ms": lat,
            "pass_cpu_ms": [op.cpu_ms for op in ops],
            "pass_jit_cpu_ms": [op.jit_cpu_ms for op in ops],
            "pass_steal_pct": [op.steal_pct for op in ops],
        }
    p50 = statistics.median(lat)
    detail["p50_ms"] = p50

    if ctx.traced:
        metrics, counters = W.layer_metrics(ctx, ops, session_start_s)
        metrics.update(extra_layer_metrics(args.workload, ops, counters))
        metrics.update(W.named_step_metrics(ops))
        metrics["traced.p50_ms"] = p50
        metrics["traced.cpu_ms_per_op"] = cpu_ms
        metrics["jvm.jit_cpu_ms_per_op"] = jit_ms
        metrics["peak_rss_mb"] = rss.mb
        detail["layers"] = named_layer_details(ops, counters)
    else:
        metrics = {"setup_s": setup_s, "cpu_ms_per_op": cpu_ms}
    out_dir = os.path.join(root, OUT_DIR)
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if ctx.traced:
        tracer.write(stem + ".spans.json")

    stop_spark(spark)
    reap_children()
    shutil.rmtree(work, ignore_errors=True)

    units = unit_map()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }
    with open(stem + ".json", "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


def unit_map() -> dict[str, str]:
    """Metric name → unit, from BENCHMARK.json beside this directory."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def extra_layer_metrics(workload, ops, counters) -> dict[str, float]:
    """Per-layer counts and ratios of single layers. Every workload
    reports all of them; a layer the workload does not call reads 0."""
    n = len(ops)
    m = {
        "sinks.rows_written_per_op": 0.0,
        "sinks.redelivery_rows_written": 0.0,
        "pipeline.rides.stages": 0.0,
        "pipeline.rides.shuffle_bytes": 0.0,
        "similarity.artifact_hit_ratio": 0.0,
        "similarity.memo_entries_added_per_call": 0.0,
        "api.response_bytes_per_op": 0.0,
    }
    if workload == "batch":
        import check

        written = sum(
            check.parquet_digest(op.outputs[t]).rows
            for op in ops for t in ("rides", "users")
        )
        again = sum(
            check.parquet_digest(op.outputs[f"{t}_redelivery"]).rows
            for op in ops for t in ("rides", "users")
        )
        rides = counters.get("pipeline.rides.exec")
        m["sinks.rows_written_per_op"] = written / n
        m["sinks.redelivery_rows_written"] = float(again)
        if rides is not None:
            m["pipeline.rides.stages"] = rides.stages / n
            m["pipeline.rides.shuffle_bytes"] = rides.shuffle_write_bytes / n
        added = [a for op in ops for a in op.outputs["memo_added"]]
        if added:
            m["similarity.artifact_hit_ratio"] = sum(1 for a in added if a == 0) / len(added)
            m["similarity.memo_entries_added_per_call"] = sum(added) / len(added)
    else:
        m["api.response_bytes_per_op"] = sum(
            len(op.outputs.get("body", "")) for op in ops
        ) / n
    return m


def named_layer_details(ops, counters) -> dict[str, float]:
    """Each step's median seconds per operation that ran it
    (``pipeline.rides.construct_s``; for serve, ``api.route.ride_s`` is
    the route's median service time), plus its Spark stages and shuffle
    bytes per operation."""
    import workloads as W

    out = {f"{step}_s": v for step, v in W.step_medians(ops).items()}
    for name, c in counters.items():
        if name != "_all":
            out[f"{name}.stages"] = c.stages / len(ops)
            out[f"{name}.shuffle_write_bytes"] = c.shuffle_write_bytes / len(ops)
    return out


if __name__ == "__main__":
    sys.exit(main())
