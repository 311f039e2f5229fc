"""Every range-partitioned scan (a distributed rank, running sum or
running max) goes through ``functions/windows.range_carry``: no other
engine module reads ``spark_partition_id``, and ``RANK_PARTS`` is the
one range fan-out. Spark-free: it scans the engine's source text."""

from __future__ import annotations

import re
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "deloton_solo_spark"
WINDOWS = ENGINE / "functions" / "windows.py"

FAN_OUT = re.compile(r"^\s*(\w+_PARTS)\s*=\s*8\b", re.M)


def test_range_scans_are_stated_once():
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        text = path.read_text()
        sites = []
        if path != WINDOWS:
            sites += [
                (m, "spark_partition_id")
                for m in re.finditer(r"spark_partition_id\(", text)
            ]
        sites += [
            (m, m.group(1))
            for m in FAN_OUT.finditer(text)
            if (path, m.group(1)) != (WINDOWS, "RANK_PARTS")
        ]
        for m, what in sites:
            line = text.count("\n", 0, m.start()) + 1
            found.append(f"{path.relative_to(ENGINE)}:{line} ({what})")
    assert not found, (
        "range scan outside functions/windows.range_carry:\n"
        + "\n".join(found)
    )
