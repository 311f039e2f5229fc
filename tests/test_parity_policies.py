"""Each oracle-parity policy (exact rounding, the whitespace tokenizer,
the md5-prefix content hash) is stated once, in
``deloton_solo_spark/functions/parity.py``; no operator spells one out
inline. Spark-free: it scans the engine's source text."""

from __future__ import annotations

import re
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "deloton_solo_spark"
PARITY = ENGINE / "functions" / "parity.py"

INLINE_FORMS = {
    "exact_round": r'"decimal\(28,10\)"',
    "tokens": r'F\.lit\(\s*r"\\S\+"\s*\)',
    "md5_int": r"F\.conv\(\s*F\.substring\(\s*F\.md5\(",
}


def test_parity_policies_are_stated_once():
    parity = PARITY.read_text()
    for pattern in INLINE_FORMS.values():
        assert len(re.findall(pattern, parity)) == 1, pattern
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        if path == PARITY:
            continue
        text = path.read_text()
        for helper, pattern in INLINE_FORMS.items():
            for m in re.finditer(pattern, text):
                line = text.count("\n", 0, m.start()) + 1
                found.append(f"{path.relative_to(ENGINE)}:{line} (use {helper})")
    assert not found, "inline parity policy:\n" + "\n".join(found)
