"""SparkSession construction + session-level conf the engine relies on.

The engine pins a few *runtime-settable* SQL confs so results are
deterministic regardless of who built the session (driver harness, tests,
perfbench):

- ``spark.sql.session.timeZone=UTC`` — timestamp→string parity
  (reference formats local-time strings, main.py:137; we pin UTC, see
  SURVEY.md §7 risk #3).
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the driver's
  ``events.parquet`` stores TIMESTAMP(NANOS) which vanilla Spark refuses;
  we read nanos as long and convert (catalog.py).
- AQE on: runtime re-planning (skew joins, partition coalescing) is part
  of the 100 TB story.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Build-time (STATIC) confs — effective only when set on the builder
#: (get_spark); attempting them on a live session raises, which
#: apply_runtime_confs tolerates.
STATIC_CONFS: dict[str, str] = {
    # r11: a long-lived session that runs many distinct queries (162
    # in the measured workload) cycles ~1000 whole-stage-codegen units
    # through the DEFAULT 100-entry compile cache, so a query's code is
    # evicted before it runs again and is RE-COMPILED (measured: 4.6 s
    # first noop write vs 1.0 s steady on one wide projection; the
    # delta is pure janino). JVM-local JIT cache, scale-independent (a
    # cluster pays compiles per executor the same way). r12: clean
    # steal-stamped A/B of one full 162-query sf0.1 pass — 100 entries:
    # 177.4 s, 2000: 196.3 s, 20000: 160.1 s; against 20000 the
    # per-query median is +0.075 s (100) / +0.14 s (2000) with the gaps
    # concentrated in the plan-heaviest queries, i.e. the pass cycles
    # more units than 2000 holds. 20000 holds everything.
    "spark.sql.codegen.cache.maxEntries": "20000",
}

#: Runtime-settable confs applied to ANY session handed to the engine.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently pin the confs above on an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A static conf on some builds — non-fatal; readers have
            # fallbacks (catalog.load_table handles events specially).
            pass
    return spark


def scratch_dir(name: str) -> str:
    """Stable scratch path keyed by query name.

    Operators that materialize files as part of their semantics
    (partitioned sinks, schema-evolution fixtures) write here in
    ``overwrite`` mode, so repeated correctness/bench runs REUSE one
    directory per query instead of leaking a fresh ``mkdtemp`` each
    invocation (ADVICE r3). The root is per-PROCESS (pid suffix):
    in-session reruns reuse, while concurrent sessions (a pytest run
    beside a driver_sim gate) cannot clobber each other's streaming
    checkpoints. Safe to delete wholesale between sessions.
    """
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(), "deloton_scratch", f"pid-{os.getpid()}"
    )
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, name)


def get_spark(
    app_name: str = "deloton-solo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a session tuned for the local harness.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``). ``spark.sql.shuffle.partitions`` defaults to the CPU
    count — at real cluster scale you would size this to data volume
    (~128 MB per shuffle partition), not CPUs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in STATIC_CONFS.items():
        builder = builder.config(k, v)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
