"""Per-layer profile of registered queries.

Usage: python3 scripts/profile_query.py QUERY [QUERY ...]

Runs on a `get_spark` session over $SPARK_GRAFT_SF_DIR with
$SPARK_GRAFT_CPUS cores (see `kstreamjs_spark.session`). Each query is
warmed once, then built under job group `build:<name>#<i>` and collected
under `collect:<name>#<i>`, so a query named twice is measured twice.
A streaming query's micro-batches run under its run id as job group, so
the run ids of the streaming queries started in a span count with it.
After the session stops, prints one JSON line per argument:

- `session_start_s`: wall time of `get_spark`, the same on every row.
- `wall_s`, `build_s`, `collect_s`: driver wall time of the timed run.
  Iterative queries that checkpoint eagerly run most of their jobs while
  the frame is being built, so `build_jobs` says how much of the work
  `build_s` holds.
- `reused_exchanges`, `parquet_scans`: counts in the post-execution plan.
- `stream_batches`: micro-batches the query's streaming queries ran.
- every field of `perfbench/layers.py:spark_layers` (jobs, stages, tasks,
  task run and CPU time, driver gap, shuffle bytes, GC, ...), read from
  Spark's event log.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kstreamjs_spark.plans import explain_str  # noqa: E402
from kstreamjs_spark.queries import all_queries  # noqa: E402
from kstreamjs_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402
from perfbench.layers import read_event_log, spark_layers  # noqa: E402

# A local property the stream execution thread inherits from the driver
# thread that starts it; setJobGroup(run id) there replaces the group.
SPAN = "profile_query.span"


def span_groups(events: list[dict], spans: set[str]) -> set[str]:
    """``spans`` and the job groups of every job that inherited one of
    them: the run ids of the streaming queries started in those spans."""
    return spans | {
        props["spark.jobGroup.id"]
        for ev in events
        if ev["Event"] == "SparkListenerJobStart"
        and (props := ev.get("Properties") or {}).get(SPAN) in spans
    }


def stream_batches(events: list[dict], groups: set[str]) -> int:
    """Progress reports (one per micro-batch) of the streaming queries
    whose run id is in ``groups``."""
    return sum(
        ev["Event"].endswith("$QueryProgressEvent")
        and ev["progress"]["runId"] in groups
        for ev in events
    )


def main(names: list[str]) -> int:
    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if not names or unknown:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        if unknown:
            print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    log_dir = tempfile.mkdtemp(prefix="profile_query_events_")
    try:
        t_start = time.perf_counter()
        spark = get_spark(
            "profile-query",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                # This Python cannot read Spark's default zstd log, and
                # the rolling log is a directory read_event_log skips.
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )
        session_start_s = time.perf_counter() - t_start
        sc = spark.sparkContext
        cpus = sc.defaultParallelism
        runs, warmed = [], set()

        def enter(group: str, name: str) -> None:
            sc.setJobGroup(group, name)
            sc.setLocalProperty(SPAN, group)

        for i, name in enumerate(names):
            spec, tag = qs[name], f"{name}#{i}"
            if name not in warmed:
                enter(f"warm:{tag}", name)
                spec.fn(spark, DEFAULT_SF_DIR).collect()
                warmed.add(name)
            t0 = time.perf_counter()
            enter(f"build:{tag}", name)
            df = spec.fn(spark, DEFAULT_SF_DIR)
            t1 = time.perf_counter()
            enter(f"collect:{tag}", name)
            df.collect()
            t2 = time.perf_counter()
            enter(f"plan:{tag}", name)
            plan = explain_str(df)
            runs.append((name, tag, t0, t1, t2, plan))
        spark.stop()
        events = read_event_log(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    for name, tag, t0, t1, t2, plan in runs:
        build, collect = f"build:{tag}", f"collect:{tag}"
        groups = span_groups(events, {build, collect})
        row = {
            "query": name,
            "sf_dir": DEFAULT_SF_DIR,
            "cpus": cpus,
            "session_start_s": session_start_s,
            "wall_s": t2 - t0,
            "build_s": t1 - t0,
            "collect_s": t2 - t1,
            "build_jobs": spark_layers(
                events, span_groups(events, {build}), cpus, 0
            )["spark.jobs"],
            "reused_exchanges": plan.count("ReusedExchange"),
            "parquet_scans": plan.count("Scan parquet"),
            "stream_batches": stream_batches(events, groups),
        }
        row |= spark_layers(events, groups, cpus, t2 - t0)
        row = {k: round(v, 3) if isinstance(v, float) else v for k, v in row.items()}
        print(json.dumps(row), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
