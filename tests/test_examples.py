"""Smoke coverage for examples/: a user's first touchpoint must not
silently rot. quickstart runs as a REAL subprocess
(`python examples/quickstart.py` — the exact command the README shows);
the others run in-process against the shared test session (same
code path through main(), one JVM instead of five) and must return 0
and print non-empty output."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_quickstart_runs_as_subprocess(sf_smoke):
    """The literal command a new user types, end to end."""
    res = subprocess.run(
        [sys.executable, "examples/quickstart.py", sf_smoke],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    # the tumbling-window agg table must actually print rows
    assert "window_start" in res.stdout
    assert "revenue" in res.stdout


@pytest.mark.parametrize(
    "mod_name",
    [
        "ann_serving",
        pytest.param("curation_pipeline", marks=pytest.mark.slow),
        pytest.param("graph_ann_pipeline", marks=pytest.mark.slow),
        pytest.param("lakehouse_maintenance", marks=pytest.mark.slow),
        pytest.param("multimodal_retrieval", marks=pytest.mark.slow),
        "warehouse_analytics",
    ],
)
def test_example_main_runs(spark, sf_smoke, mod_name, capsys, monkeypatch):
    """Each example's main() completes against sf0.001 and prints
    something (get_spark -> getOrCreate reuses the test session, so
    these share one JVM; the subprocess test above covers the real
    cold-start path once). The examples end with spark.stop() — a
    correct teardown for their own process but fatal to the shared
    session-scoped fixture every later test file relies on — so stop
    is no-opped for the in-process run (the subprocess test exercises
    the real stop path)."""
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    sys.path.insert(0, os.path.join(REPO, "examples"))
    try:
        mod = importlib.import_module(mod_name)
        assert mod.main(sf_smoke) == 0
    finally:
        sys.path.pop(0)
    out = capsys.readouterr().out
    assert out.strip(), f"{mod_name} printed nothing"
