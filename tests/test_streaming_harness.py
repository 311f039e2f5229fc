"""The streaming replay harness is stated once, in
``deloton_solo_spark/streaming/pipeline.py``: no other engine module
starts a streaming query, sets its trigger or checkpoint, or clears its
own scratch directories. Spark-free: it scans the engine's source
text."""

from __future__ import annotations

import re
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "deloton_solo_spark"
HARNESS = ENGINE / "streaming" / "pipeline.py"

HARNESS_FORMS = (
    r"\bwriteStream\b",
    r"\bawaitTermination\b",
    r"\bcheckpointLocation\b",
    r"\btrigger\(",
    r"\b_scratch\(",
)

#: the replay mechanics streaming_ops.py must leave to the harness
STREAMING_OPS_FORMS = (
    r"\breadStream\b",
    r"INTERVAL \{days\} DAYS",
    r"\.agg\(\s*F\.max\([^)]*\)\s*\)\s*\.collect\(\)",
    r"\bapplyInPandasWithState\(",
)


def _sites(path: Path, patterns) -> list[str]:
    text = path.read_text()
    return [
        f"{path.relative_to(ENGINE)}:{text.count(chr(10), 0, m.start()) + 1}"
        f" {m.group(0)!r}"
        for pattern in patterns
        for m in re.finditer(pattern, text)
    ]


def test_streaming_harness_is_stated_once():
    # the harness itself starts, triggers and checkpoints the queries
    # (its scratch helper is ``Replay.path``), so the scan below cannot
    # pass because the forms were renamed away
    assert all(_sites(HARNESS, [p]) for p in HARNESS_FORMS[:4])
    found = [
        site
        for path in sorted(ENGINE.rglob("*.py"))
        if path != HARNESS
        for site in _sites(path, HARNESS_FORMS)
    ]
    ops = ENGINE / "operators" / "streaming_ops.py"
    found += _sites(ops, STREAMING_OPS_FORMS)
    assert not found, "streaming harness outside streaming/pipeline.py:\n" + "\n".join(
        found
    )
