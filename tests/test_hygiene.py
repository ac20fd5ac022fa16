"""Source hygiene. A comment states a rule and its reason; how the rule
came about belongs in git history. Every module of the package must be
clear of such history notes, except those in ``NOT_YET_CLEARED``."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "kstreamjs_spark"
# Searched over the whole text, so a note wrapped across lines (with or
# without a comment marker at the break) still matches.
_GAP = r"[-\s#]*"
HISTORY_NOTE = re.compile(
    rf"(?i:\bround{_GAP}\d+|\br\d+{_GAP}verdict|review{_GAP}(?:finding|fix)\b)"
    r"|verdict #|\bADVICE\b"
)
NOT_YET_CLEARED = {"queries/llm.py"}
MODULES = sorted(
    rel
    for rel in (p.relative_to(PACKAGE).as_posix() for p in PACKAGE.rglob("*.py"))
    if rel not in NOT_YET_CLEARED
)


def history_notes(text: str) -> list[tuple[int, str]]:
    """(line, matched text) of each history note in ``text``."""
    return [
        (text.count("\n", 0, m.start()) + 1, " ".join(m.group(0).split()))
        for m in HISTORY_NOTE.finditer(text)
    ]


@pytest.mark.parametrize(
    "note",
    [
        "(round 12)",
        "(round-15 review finding)",
        "the round\n    15 fix",
        "# round\n    # 16 ADVICE",
        "the r14 verdict",
        "review fix",
        "verdict #3",
    ],
)
def test_pattern_catches(note):
    assert history_notes(note)


@pytest.mark.parametrize(
    "text",
    ["per-rule verdict columns", "round(x, 2)", "r0 AS (SELECT", "this round's job"],
)
def test_pattern_spares(text):
    assert not history_notes(text)


@pytest.mark.parametrize("rel", MODULES)
def test_no_history_notes(rel):
    hits = [f"{rel}:{n}: {s}" for n, s in history_notes((PACKAGE / rel).read_text())]
    assert not hits, "\n".join(hits)
