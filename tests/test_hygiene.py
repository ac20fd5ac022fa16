"""Source hygiene. A comment states a rule and its reason; how the rule
came about belongs in git history. Every module of the package, of
``scripts/`` and of ``tests/`` must be clear of such history notes."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "kstreamjs_spark"
# Searched over the whole text, so a note wrapped across lines (with or
# without a comment marker at the break) still matches.
_GAP = r"[-\s#]*"
HISTORY_NOTE = re.compile(
    rf"(?i:\bround{_GAP}\d+|\br\d+{_GAP}verdict|review{_GAP}(?:finding|fix)\b)"
    r"|verdict #|\bADVICE\b"
)
CATCHES = [
    "(round 12)",
    "(round-15 review finding)",
    "the round\n    15 fix",
    "# round\n    # 16 ADVICE",
    "the r14 verdict",
    "review fix",
    "verdict #3",
]
# Package modules are named relative to the package; scripts and tests
# relative to the repo root.
SOURCES = {
    **{p.relative_to(PACKAGE).as_posix(): p for p in PACKAGE.rglob("*.py")},
    **{
        p.relative_to(ROOT).as_posix(): p
        for d in ("scripts", "tests")
        for p in (ROOT / d).glob("*.py")
    },
}


def history_notes(text: str) -> list[tuple[int, str]]:
    """(line, matched text) of each history note in ``text``."""
    return [
        (text.count("\n", 0, m.start()) + 1, " ".join(m.group(0).split()))
        for m in HISTORY_NOTE.finditer(text)
    ]


# This module's pattern and examples are notes by design; they are
# exempt here and nowhere else.
OWN_EXAMPLES = {
    s for t in (*CATCHES, HISTORY_NOTE.pattern) for _, s in history_notes(t)
}


@pytest.mark.parametrize("note", CATCHES)
def test_pattern_catches(note):
    assert history_notes(note)


@pytest.mark.parametrize(
    "text",
    ["per-rule verdict columns", "round(x, 2)", "r0 AS (SELECT", "this round's job"],
)
def test_pattern_spares(text):
    assert not history_notes(text)


@pytest.mark.parametrize("rel", sorted(SOURCES))
def test_no_history_notes(rel):
    path = SOURCES[rel]
    exempt = OWN_EXAMPLES if path == Path(__file__).resolve() else set()
    hits = [
        f"{rel}:{n}: {s}"
        for n, s in history_notes(path.read_text())
        if s not in exempt
    ]
    assert not hits, "\n".join(hits)
