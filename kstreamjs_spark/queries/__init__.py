"""Declared query inventory (SURVEY.md §2B) with DuckDB oracles.

Every capability the engine claims is a named ``QuerySpec``: a Spark
callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the
equivalent ANSI SQL the driver runs through DuckDB on the same parquet.
Column names are aliased identically on both sides — the driver's compare
sorts columns by name before hashing values.

Determinism rules used throughout (SURVEY.md §7 "hard parts"):
- row-level arithmetic on doubles is left unrounded (IEEE ops are bitwise
  identical across engines);
- aggregated doubles (SUM/AVG over many rows: summation order differs
  between engines) are rounded to a precision far above the fp error bound;
- integer-producing scalar functions are cast to BIGINT on the Spark side to
  match DuckDB's default integer width;
- every LIMIT query carries a total order (unique tiebreak column).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    # DuckDB SQL over the registered views, or None; a function until
    # all_queries() calls it (see query())
    oracle: str | Callable[[], str] | None
    tags: tuple[str, ...] = ()  # "slow": oracle test only in full profile
    bench: bool = False  # part of the headline bench set
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | Callable[[], str] | None = None,
          tags: tuple[str, ...] = (), bench: bool = False):
    """Decorator registering a query implementation. ``oracle`` may be a
    zero-argument function, for SQL built from other queries' oracles or
    from constants defined later: ``all_queries()`` calls it once, after
    every query module has been imported."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, bench=bench,
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


# The driver's correctness gate checks the FIRST 50 entries of queries() in
# iteration order. With more than 50 queries, which ones sit inside that
# window rotates so every query eventually earns a driver-green row. The
# window is DERIVED, not hand-typed (a hand-kept list once promised a
# query that did not exist):
#   1. priority names (_WINDOW_PRIORITY), validated against the registry —
#      a typo raises;
#   2. everything else by how stale its last driver CORRECTNESS row is
#      (read from the CORRECTNESS_r*.json artifacts): never-checked
#      queries first, then oldest first. New queries are never hand-listed
#      or hand-counted; the sort places them.
# Everything NOT in the window still runs under scripts/selfcheck.py (same
# compare, local DuckDB) — the rotation changes which subset gets the
# driver's independent confirmation, not what is tested.
_WINDOW_SIZE = 50

# Pin a query only when its oracle TEXT changed, or its behavior changed
# under an unchanged oracle, after its latest driver row. Empty the list
# once the driver's CORRECTNESS rows come back green for the pins.
_WINDOW_PRIORITY: list[str] = [
    # bucket-collision pairs now come from a stream-stream self-join of
    # the banded stream on (band, bsig)
    "q205_stream_minhash_candidates",
    "q205b_stream_minhash_verify",
    "q214b_stream_embedding_neardup",
    # oracle text changed: argmax score in DECIMAL/HUGEINT arithmetic
    "q216c_wordpiece_likelihood_train",
    # every commit to the bucketed manifest table (the streaming writer's
    # included) goes through snapshot -> prepare -> publish, and
    # retention is derived from the manifests: the commit protocol under
    # the same oracles
    "q213_stream_scd1_upsert",
    "q213b_scd1_changelog",
    "q213c_scd1_time_travel",
    "q213d_scd1_schema_evolution",
    "q220_scd1_delete_vectors",
    "q225_scd1_bucket_evolution",
    "q219b_stream_knn_graph_insert",
    "q229b_stream_ann_serve_persisted",
]


def _correctness_history() -> dict[str, int]:
    """Latest round each query earned a driver CORRECTNESS row, read from
    the CORRECTNESS_r*.json artifacts the driver leaves at the repo root."""
    import json
    import re
    from pathlib import Path

    hist: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            names = json.loads(p.read_text())
        except (OSError, ValueError):  # pragma: no cover
            continue
        for name in names:
            hist[name] = max(hist.get(name, 0), rnd)
    return hist


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules once, on first use.
    from . import relational  # noqa: F401
    from . import llm  # noqa: F401
    from . import streaming_q  # noqa: F401
    from . import pipeline  # noqa: F401
    from . import corpus  # noqa: F401
    from . import curation  # noqa: F401

    for name, spec in REGISTRY.items():
        if callable(spec.oracle):
            REGISTRY[name] = replace(spec, oracle=spec.oracle())
    missing = [n for n in _WINDOW_PRIORITY if n not in REGISTRY]
    if missing:
        raise KeyError(
            f"window priority names not in registry (typo or unimplemented "
            f"promise): {missing}"
        )
    hist = _correctness_history()
    prio = list(dict.fromkeys(_WINDOW_PRIORITY))
    # Never-checked queries first (hist 0), then oldest driver row first;
    # name tiebreak keeps the order deterministic.
    rest = sorted(
        (n for n in REGISTRY if n not in set(prio)),
        key=lambda n: (hist.get(n, 0), n),
    )
    # The first _WINDOW_SIZE entries of this dict are the driver's window;
    # the rest still run under selfcheck.
    return {n: REGISTRY[n] for n in (*prio, *rest)}
