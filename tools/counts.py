#!/usr/bin/env python
"""Registry-derived counts — the single source for every number the
prose artifacts quote (VERDICT r7 task 5: stop hand-editing counts).

    python tools/counts.py            # print the counts as JSON
    python tools/counts.py --check    # verify the committed docs match

The checked claims:
- SURVEY.md §9 header:  "<N> registered queries ... <M> with exact"
- README.md:            "<N> registered queries, <M> with exact DuckDB"

Exit 0 = docs match the registry; 1 = drift (the failing claim is
printed). tests/test_counts_in_sync.py runs --check in the suite, so
a registry change that forgets the docs fails fast.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def registry_counts() -> dict:
    from deloton_solo_spark.registry import all_queries

    qs = all_queries()
    oracle_backed = sum(1 for s in qs.values() if s.oracle is not None)
    return {
        "registered": len(qs),
        "oracle_exact": oracle_backed,
        "rows_only": len(qs) - oracle_backed,
        "rows_only_names": sorted(
            n for n, s in qs.items() if s.oracle is None
        ),
    }


def check(counts: dict, root: Path = ROOT) -> list[str]:
    errors: list[str] = []

    survey = (root / "SURVEY.md").read_text()
    m = re.search(
        r"^(\d+) registered queries.{0,120}?(\d+) with exact",
        survey,
        re.M | re.S,
    )
    if not m:
        errors.append("SURVEY.md §9 header pattern not found")
    else:
        if int(m.group(1)) != counts["registered"]:
            errors.append(
                f"SURVEY.md §9 says {m.group(1)} registered, registry "
                f"has {counts['registered']}"
            )
        if int(m.group(2)) != counts["oracle_exact"]:
            errors.append(
                f"SURVEY.md §9 says {m.group(2)} oracle-exact, registry "
                f"has {counts['oracle_exact']}"
            )

    readme = (root / "README.md").read_text()
    m = re.search(
        r"(\d+) registered queries, (\d+) with exact DuckDB", readme
    )
    if not m:
        errors.append("README.md oracle-checked claim not found")
    else:
        if int(m.group(1)) != counts["registered"] or int(
            m.group(2)
        ) != counts["oracle_exact"]:
            errors.append(
                f"README.md says {m.group(1)}/{m.group(2)}, registry has "
                f"{counts['registered']}/{counts['oracle_exact']}"
            )
    return errors


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    counts = registry_counts()
    print(json.dumps(counts, indent=1))
    if not args.check:
        return 0
    errors = check(counts)
    for e in errors:
        print("DRIFT:", e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
