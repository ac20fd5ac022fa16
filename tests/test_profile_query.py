"""scripts/profile_query.py end to end: a subprocess over the shipped
sf0.01 copy in perfbench/data, so no parquet fixtures are needed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.layers import spark_layers

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = [
    "q01_scan_count", "q56_dup_clusters", "q56_dup_clusters",
    "q141_stream_daily_revenue",
]


@pytest.fixture(scope="module")
def rows():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_GRAFT_SF_DIR"] = os.path.join(REPO, "perfbench", "data", "sf0.01")
    res = subprocess.run(
        [sys.executable, "scripts/profile_query.py", *QUERIES],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return [json.loads(line) for line in res.stdout.splitlines()]


def test_profile_query_reports_every_layer(rows):
    assert [r["query"] for r in rows] == QUERIES

    layer_keys = set(spark_layers([], set(), 1, 0.0))
    for r in rows:
        assert layer_keys <= set(r), layer_keys - set(r)
        assert r["spark.failed_tasks"] == 0
        # with SPARK_GRAFT_CPUS unset, the session uses every CPU it may
        assert r["cpus"] == len(os.sched_getaffinity(0))
        assert r["session_start_s"] == rows[0]["session_start_s"] > 0
        # the session's Hadoop conf ships without property sources: about
        # 70 KB, where its copy with sources takes about 113 KB
        assert 0 < r["hadoop_conf_bytes"] < 90_000

    q56a, q56b = rows[1], rows[2]
    # q56's iterative loop checkpoints eagerly: jobs run while building
    assert 1 <= q56a["build_jobs"] <= q56a["spark.jobs"]
    for key in ("spark.jobs", "spark.stages", "spark.tasks"):
        assert q56a[key] == q56b[key], key


def test_profile_query_counts_micro_batch_jobs(rows):
    """Micro-batches run under their streaming query's run id, not the
    span's job group; they still count with the query that started
    them: at least one job per micro-batch, plus the sink's collect."""
    q141 = rows[3]
    assert q141["stream_batches"] >= 1
    assert q141["spark.jobs"] >= q141["stream_batches"] + 1
    assert q141["spark.task_cpu_s"] > 0
