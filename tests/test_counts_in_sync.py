"""Prose-count drift gate (VERDICT r7 task 5): the numbers quoted in
SURVEY.md §9 and README.md must equal what tools/counts.py derives
from the registry — no hand-edited counts."""

from __future__ import annotations


def test_doc_counts_match_registry():
    from tools.counts import check, registry_counts

    errors = check(registry_counts())
    assert not errors, errors
