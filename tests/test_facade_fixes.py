"""Regression tests for facade semantics: window-origin
alignment on the collect path, positional+named map composition,
session-global statistics listener scoping, and microsecond-preserving
JSONL file helpers."""

from __future__ import annotations

from datetime import datetime
from types import SimpleNamespace

import pandas as pd
import pyspark.sql.functions as F

from kstreamjs_spark.stream import Stream


def _events(spark):
    rows = [
        (1, datetime(2024, 1, 1, 0, 40), 10.0),
        (2, datetime(2024, 1, 1, 1, 10), 20.0),
        (3, datetime(2024, 1, 1, 1, 40), 30.0),
    ]
    return spark.createDataFrame(rows, ["event_id", "ts", "value"])


def test_window_collect_honors_from_ms_alignment(spark):
    """from_ms must shift the window ORIGIN on the collect path exactly as
    on the aggs path — before the fix collect windows silently snapped
    back to epoch alignment."""
    from_ms = 30 * 60 * 1000  # :30 origin

    def collect(pdf: pd.DataFrame) -> dict:
        return {"cnt": int(len(pdf))}

    def starts(stream):
        return sorted(
            r["window_start"].minute
            for r in stream.df.select("window_start").distinct().collect()
        )

    s = Stream.from_dataframe(_events(spark))
    via_collect = s.window(
        interval_ms=3_600_000, from_ms=from_ms, collect=collect,
        out_schema="cnt long",
    )
    assert starts(via_collect) == [30, 30]  # 00:30 and 01:30 windows
    via_aggs = s.window(
        interval_ms=3_600_000, from_ms=from_ms,
        aggs={"cnt": F.count(F.lit(1))},
    )
    assert sorted(
        r["window_start"].minute for r in via_aggs.df.collect()
    ) == [30, 30]


def test_map_applies_both_positional_and_named(spark):
    """map('a', 'b', c=expr) must keep the projection AND add the named
    column — before the fix the named expressions were silently dropped
    whenever a positional column was present."""
    s = Stream.from_dataframe(_events(spark))
    out = s.map("event_id", "value", doubled=F.col("value") * 2)
    assert out.df.columns == ["event_id", "value", "doubled"]
    assert {r["doubled"] for r in out.df.collect()} == {20.0, 40.0, 60.0}


def test_statistics_listener_scopes_to_watched_queries():
    """A watched listener must ignore progress from other queries on the
    same session (listeners are session-global in Spark); an unscoped
    listener keeps the watch-everything behavior."""
    from kstreamjs_spark.streaming.stats import StatisticsListener

    def progress(qid, rows):
        return SimpleNamespace(
            progress=SimpleNamespace(
                id=qid,
                numInputRows=rows,
                sink=SimpleNamespace(numOutputRows=rows),
                eventTime={},
            )
        )

    scoped = StatisticsListener()
    scoped.watch("mine")
    scoped.onQueryProgress(progress("mine", 7))
    scoped.onQueryProgress(progress("other", 1000))
    stats = scoped.flush()
    assert (stats.recv_total, stats.send_total) == (7, 7)

    unscoped = StatisticsListener()
    unscoped.onQueryProgress(progress("a", 3))
    unscoped.onQueryProgress(progress("b", 4))
    assert unscoped.flush().recv_total == 7


def test_write_read_jsonl_preserves_microseconds(spark, tmp_path):
    """The file-level JSONL helpers must round-trip microsecond event
    times (Spark's default JSON timestampFormat truncates to millis)."""
    from kstreamjs_spark.sources.files import read_jsonl, write_jsonl

    ts = datetime(2024, 1, 1, 0, 0, 0, 123456)
    df = spark.createDataFrame([(1, ts)], ["event_id", "ts"])
    path = str(tmp_path / "jsonl")
    write_jsonl(df, path, shards=1, compression=None)
    back = read_jsonl(spark, path, "event_id long, ts timestamp")
    assert back.collect()[0]["ts"] == ts
