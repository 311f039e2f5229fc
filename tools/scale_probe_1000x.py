#!/usr/bin/env python
"""1000× scale probe (VERDICT r10 task 5): one decade past the ×100
probe for the three riskiest operators.

×100 of sf0.1 is ~5·10⁶ documents / 2·10⁵ vectors; 100 TB is further
still. This probe synthesizes a 1000-copy corpus (same recipes as
tools/scale_probe_100x.py — disjoint-vocabulary suffixed documents,
genuine-perturbation embeddings — generalized from a Python
per-copy union loop to one crossJoin with a copies frame, since a
1000-branch unionAll is planner-hostile) and runs each target op in
a FRESH UI-enabled session so per-stage shuffle/spill bytes come out
of the REST status API alongside the wall time. This is the first probe
scale where the NVMe-bandwidth residual should dominate measurably;
the things to verify are (a) candidates stay LINEAR in corpus size
and (b) spill stays 0 at the default heap.

Targets (``--only`` to narrow):
- prefix_filter_jaccard_pairs — the PPJoin candidate stage (plus its
  measured index/posting/candidate counts for the linearity check)
- substring_dedup_rewrite — the persisted gram-index consumer
- knn_graph_cells — the auto-k embedding family (k = n/64 = 31,250
  cells at ×1000; the one-time codebook+assignment artifact build is
  paid in the warm leg, Arrow-kernel path)

Usage:
  python tools/scale_probe_1000x.py [--sf-dir ...] [--only a,b]
      [--reuse-dir DIR] [--skip-build]

Prints one JSON line; exit 0 = every probed op completes with no plan
hazards and zero disk spill at 1000×.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import urllib.request
from datetime import datetime, timezone
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

COPIES = 1000
DOC_STRIDE = 10_000_000
EMB_STRIDE = 10_000_019
EMB_EPS = 0.04
UI_PORT = 4048

QUERIES = [
    "prefix_filter_jaccard_pairs",
    "substring_dedup_rewrite",
    "knn_graph_cells",
]


def _ui_session(app_name: str):
    """Fresh UI-enabled session with the engine's runtime confs —
    per-op isolation, r11 probe policy."""
    import os

    from pyspark.sql import SparkSession

    from deloton_solo_spark.session import (
        RUNTIME_CONFS,
        apply_runtime_confs,
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]" if cpus else "local[*]")
        .config("spark.sql.shuffle.partitions", cpus or "32")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g")
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())


def build_scaled_dir(spark, sf_dir: str, out: str) -> None:
    import shutil

    import pyspark.sql.functions as F

    from deloton_solo_spark.catalog import load_table

    outp = Path(out)
    outp.mkdir(parents=True, exist_ok=True)
    copies = spark.range(COPIES).select(F.col("id").cast("int").alias("k"))

    docs = load_table(spark, sf_dir, "documents")
    # 3-digit per-copy token suffix → the 1000 vocabularies are
    # pairwise disjoint (the ×100 disjointness argument, one digit
    # wider); copy 0 keeps the original text and source names.
    suffixed = F.regexp_replace(
        F.col("text"),
        r"(\S+)",
        F.concat(
            F.lit("$1q"), F.lpad(F.col("k").cast("string"), 3, "0")
        ),
    )
    (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("k").cast("bigint") * DOC_STRIDE).alias(
                "doc_id"
            ),
            F.when(F.col("k") == 0, F.col("text"))
            .otherwise(suffixed)
            .alias("text"),
            "lang",
            F.when(F.col("k") == 0, F.col("source"))
            .otherwise(F.concat(F.col("source"), F.lit("_c"), F.col("k")))
            .alias("source"),
            "n_chars",
        )
        .repartition(128)
        .write.mode("overwrite")
        .parquet(str(outp / "documents.parquet"))
    )

    emb = load_table(spark, sf_dir, "embeddings")

    def pert(x, i):
        u = (
            F.pmod(
                F.xxhash64(F.col("vec_id"), F.col("k"), i), F.lit(1000)
            ).cast("double")
            / 1000.0
            - 0.4995
        )
        return F.when(F.col("k") == 0, x).otherwise(
            (x + u * F.lit(EMB_EPS)).cast("float")
        )

    (
        emb.crossJoin(copies)
        .select(
            (
                F.col("vec_id") + F.col("k").cast("bigint") * EMB_STRIDE
            ).alias("vec_id"),
            F.transform("embedding", pert).alias("embedding"),
            "label",
            "k",
        )
        .drop("k")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(str(outp / "embeddings.parquet"))
    )

    for t in "region nation customer supplier part events".split():
        dst = outp / f"{t}.parquet"
        if not dst.exists():
            shutil.copy(f"{sf_dir}/{t}.parquet", dst)


def _timed_stages(spark, t_mark: float) -> list[dict]:
    app = spark.sparkContext.applicationId
    url = f"http://localhost:{UI_PORT}/api/v1/applications/{app}/stages"
    data = json.load(urllib.request.urlopen(url))

    def _epoch(st):
        ts = st.get("submissionTime")
        if not ts:
            return 0.0
        return (
            datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f")
            .replace(tzinfo=timezone.utc)
            .timestamp()
        )

    return [
        st
        for st in data
        if st["status"] == "COMPLETE" and _epoch(st) >= t_mark - 1
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--reuse-dir",
        default=None,
        help="skip synthesis, reuse a previously built 1000x dir",
    )
    args = ap.parse_args()

    from deloton_solo_spark.registry import all_queries
    from deloton_solo_spark.session import scratch_dir

    from tools.scale_smoke import plan_hazards

    if args.reuse_dir:
        scaled = args.reuse_dir
    else:
        spark = _ui_session("scale-probe-1000x-build")
        scaled = scratch_dir(f"scale_probe_x{COPIES}")
        print(f"building {COPIES}x corpus at {scaled} ...", file=sys.stderr)
        t0 = time.time()
        build_scaled_dir(spark, args.sf_dir, scaled)
        print(f"built in {time.time() - t0:.0f}s", file=sys.stderr)
        spark.stop()

    queries = QUERIES
    if args.only:
        pats = [p.strip() for p in args.only.split(",") if p.strip()]
        queries = [n for n in QUERIES if any(p in n for p in pats)]

    specs = all_queries()
    results: dict[str, dict] = {}
    ok = True
    for name in queries:
        spark = _ui_session("scale-probe-1000x")
        fn = specs[name].fn
        # warm leg: codegen + the one-time persisted artifacts
        # (gram index / codebook+assignment) — at deploy these build
        # at ingest, so the timed leg measures the steady-state op
        t0 = time.time()
        fn(spark, scaled).write.format("noop").mode("overwrite").save()
        warm = time.time() - t0
        t_mark = time.time()
        t0 = time.time()
        fn(spark, scaled).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        stages = _timed_stages(spark, t_mark)
        total = {
            k: sum(st[k] for st in stages)
            for k in (
                "shuffleWriteBytes",
                "shuffleReadBytes",
                "memoryBytesSpilled",
                "diskBytesSpilled",
            )
        }
        spilled = sorted(
            (
                {
                    "stageId": st["stageId"],
                    "numTasks": st["numTasks"],
                    "memoryBytesSpilled": st["memoryBytesSpilled"],
                    "diskBytesSpilled": st["diskBytesSpilled"],
                    "name": st["name"][:80],
                }
                for st in stages
                if st["memoryBytesSpilled"] + st["diskBytesSpilled"] > 0
            ),
            key=lambda s: -(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            ),
        )
        hazards = plan_hazards(spark, name, scaled)
        res = {
            "t_warm_sec": round(warm, 2),
            "t_1000x_sec": round(wall, 2),
            "hazards": hazards,
            "stages_total": total,
            "spilled_stages": spilled[:8],
        }
        if name == "prefix_filter_jaccard_pairs":
            from deloton_solo_spark.operators.dedup import _ppjoin_stages

            st = _ppjoin_stages(spark, scaled)
            res["stage_counts_1000x"] = {
                "index_docs": st["index"].count(),
                "postings": st["postings"].count(),
                "prefix_postings": st["prefix"].count(),
                "candidates": st["candidates"].count(),
            }
        passed = not hazards and total["diskBytesSpilled"] == 0
        ok = ok and passed
        res["pass"] = passed
        results[name] = res
        print(
            f"{name}: warm {warm:.1f}s  timed {wall:.1f}s  "
            f"spill {total['diskBytesSpilled']}  "
            f"{'OK' if passed else 'FAIL ' + ','.join(hazards)}",
            file=sys.stderr,
        )
        spark.stop()
    print(json.dumps({"copies": COPIES, "queries": results, "pass": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
