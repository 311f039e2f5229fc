#!/usr/bin/env python
"""Full driver simulation — the exact correctness gate the round driver
runs, executable locally in one command:

    python tools/driver_sim.py [--sf-dir /root/testdata/sf0.01]

A VANILLA SparkSession (no engine confs — the engine self-pins) runs
``entry`` plus every ``queries()`` entry; each oracle-backed query is
compared against its DuckDB twin: row count, column set, and exact
cell values (column-name-sorted, row-sorted). Float-tolerance is a
reported FALLBACK, not a pass — the goal is zero of them.

Exit code 0 = every query exact; 1 otherwise.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--out-json",
        default=None,
        help="write the per-query result matrix to this path; it must "
        "lie outside the repository (matrices are run output, not "
        "committed files)",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names (or substrings) to gate — "
        "fast iteration on a few operators; the full run stays the "
        "default and --out-json needs a full run",
    )
    args = ap.parse_args()
    if args.out_json and Path(args.out_json).resolve().is_relative_to(ROOT):
        ap.error(f"--out-json {args.out_json} is inside the repository")

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    # Schema-drift pre-flight: fail once, loudly, naming the drifted
    # column — not as N scattered AnalysisExceptions (round-2 lesson).
    from deloton_solo_spark.catalog import assert_schemas

    assert_schemas(spark, args.sf_dir)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    n_entry = len(E.entry(spark).collect())
    print(f"entry: {n_entry} rows")
    assert n_entry > 0

    qs, oracles = E.queries(), E.oracle_sql()
    if args.only:
        pats = [p.strip() for p in args.only.split(",") if p.strip()]
        qs = {
            n: fn for n, fn in qs.items() if any(p in n for p in pats)
        }
        if not qs:
            print(f"--only {args.only!r} matched no queries")
            return 1
    fails: list[tuple[str, str]] = []
    fallbacks: list[str] = []
    matrix: dict[str, dict] = {}
    for name in sorted(qs):
        try:
            sp = qs[name](spark, args.sf_dir).toPandas()
            matrix[name] = {"spark_rows": len(sp), "status": "exact"}
            if name not in oracles:
                print(f"{name}: rows-only ({len(sp)})")
                matrix[name]["status"] = "rows_only"
                continue
            du = con.execute(oracles[name]).df()
            cols = sorted(sp.columns)
            if sorted(du.columns) != cols:
                fails.append((name, f"columns {cols} != {sorted(du.columns)}"))
                matrix[name]["status"] = "schema_mismatch"
                continue
            sp = sp[cols].sort_values(cols).reset_index(drop=True)
            du = du[cols].sort_values(cols).reset_index(drop=True)
            du = du.astype(dict(zip(cols, [sp[c].dtype for c in cols])))
            if sp.equals(du):
                continue
            import numpy as np
            import pandas.api.types as pt

            ok = len(sp) == len(du)
            if ok:
                for c in cols:
                    if pt.is_float_dtype(sp[c]):
                        if not np.allclose(
                            sp[c].fillna(-1e300),
                            du[c].fillna(-1e300),
                            rtol=1e-9,
                        ):
                            ok = False
                            break
                    elif not sp[c].equals(du[c]):
                        ok = False
                        break
            if ok:
                fallbacks.append(name)
                matrix[name]["status"] = "float_fallback"
                print(f"{name}: FLOAT-TOLERANCE FALLBACK ({len(sp)} rows)")
            else:
                fails.append((name, f"values differ ({len(sp)} vs {len(du)})"))
                matrix[name]["status"] = "mismatch"
                print(f"{name}: VALUE MISMATCH")
        except Exception as exc:  # noqa: BLE001 — report and continue
            fails.append((name, str(exc)[:120]))
            matrix[name] = {"status": "error", "err": str(exc)[:200]}
            print(f"{name}: ERROR {str(exc)[:120]}")
    print(
        f"\n{len(qs)} queries | {len(fails)} failures | "
        f"{len(fallbacks)} float-tolerance fallbacks"
    )
    for f in fails:
        print("FAIL:", *f)
    if args.out_json:
        import json

        # Matrix-integrity gate (round-7 verdict item 1): the written
        # matrix must cover EVERY registered query — a partial run
        # (--only, or a registry that grew after the run started) must
        # refuse to masquerade as the full matrix.
        from deloton_solo_spark.registry import all_queries

        n_reg = len(all_queries())
        if len(qs) != n_reg:
            print(
                f"REFUSING to write {args.out_json}: matrix covers "
                f"{len(qs)} queries but the registry has {n_reg} — "
                "run without --only on a registry-synced checkout"
            )
            spark.stop()
            return 1

        summary = {
            "sf_dir": args.sf_dir,
            "n_queries": len(qs),
            "n_failures": len(fails),
            "n_float_fallbacks": len(fallbacks),
            "queries": matrix,
        }
        Path(args.out_json).write_text(json.dumps(summary, indent=1))
        print(f"wrote {args.out_json}")
    spark.stop()
    return 1 if fails or fallbacks else 0


if __name__ == "__main__":
    raise SystemExit(main())
