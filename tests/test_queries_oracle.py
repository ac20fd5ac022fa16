"""t2-style correctness: every registered query vs its DuckDB oracle at
sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from kstreamjs_spark.queries import all_queries
from kstreamjs_spark.testing import compare_query, duck_connection

SPECS = all_queries()


@pytest.fixture(scope="module")
def duck(sf_smoke):
    con = duck_connection(sf_smoke)
    yield con
    con.close()


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.slow) if "slow" in SPECS[n].tags else n
    for n in sorted(SPECS)
])
def test_query_matches_oracle(spark, sf_smoke, duck, name):
    problems = compare_query(spark, duck, SPECS[name], sf_smoke)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_q31_oracle_agrees_with_session_window_at_gap_boundary(spark):
    """The registry's q31 oracle text vs F.session_window on rows whose
    per-user deltas sit AT the 30-minute boundary (1799/1800/1801 s) —
    the case the test corpus never produces (zero exact-1800 deltas at
    sf0.01 and sf0.1, checked). session_window merges the exactly-at-gap
    event; an oracle saying >= instead of > diverges only here."""
    import duckdb
    import pandas as pd
    import pyspark.sql.functions as F

    rows = []
    eid = 0
    for u, deltas in enumerate([
        [1799],                 # merge
        [1800],                 # merge — THE boundary case
        [1801],                 # split
        [1800, 1800, 1801],     # chain of merges then a split
        [0, 1800, 3600],        # tie, boundary, far
    ]):
        t = 1_700_000_000
        rows.append((u, t, 0.25, eid)); eid += 1
        for d in deltas:
            t += d
            rows.append((u, t, 0.25, eid)); eid += 1
    sdf = spark.createDataFrame(
        rows, "user_id long, epoch long, value double, event_id long"
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"),
             "value", "event_id")
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["cnt"],
         r["sum_value"])
        for r in (
            sdf.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                (F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
                 / 10000.0).alias("sum_value"),
            )
            .select("user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "cnt", "sum_value")
            .collect()
        )
    }
    con = duckdb.connect()
    pdf = pd.DataFrame(
        rows, columns=["user_id", "epoch", "value", "event_id"]
    )
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s")
    con.register("events", pdf[["user_id", "ts", "value", "event_id"]])
    want = {
        (r[0], r[1], r[2], r[3], float(r[4]))
        for r in con.sql(SPECS["q31_session_windows"].oracle).fetchall()
    }
    con.close()
    assert got == want


def test_window_oracles_agree_with_f_window_at_interval_boundaries(spark):
    """q29 (tumbling) and q30 (sliding) oracle arithmetic vs F.window on
    rows sitting EXACTLY on hour and half-hour boundaries — which the
    corpus never produces (zero epoch%1800==0 events at sf0.01, checked;
    the same data-masking that hid q31's >= bug). F.window's [start, end)
    half-open rule and the oracles' date_trunc/floor-div are equivalent
    by construction; this pins it against either side drifting."""
    import duckdb
    import pandas as pd
    import pyspark.sql.functions as F

    base = 1_700_000_000 - (1_700_000_000 % 3600)
    epochs = [
        base, base + 1, base + 1799, base + 1800, base + 1801,
        base + 3599, base + 3600, base + 3601, base + 5400, base + 7200,
    ]
    rows = [(e, 0.125) for e in epochs]
    sdf = spark.createDataFrame(rows, "epoch long, value double") \
        .select(F.timestamp_seconds("epoch").alias("ts"), "value")
    got_tumbling = {
        (r["hour"], r["sum_value"], r["cnt"])
        for r in (
            sdf.groupBy(F.window("ts", "1 hour"))
            .agg((F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
                  / 10000.0).alias("sum_value"),
                 F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").alias("hour"), "sum_value", "cnt")
            .collect()
        )
    }
    got_sliding = {
        (r["wstart_epoch"], r["sum_value"], r["cnt"])
        for r in (
            sdf.groupBy(F.window("ts", "1 hour", "30 minutes"))
            .agg((F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
                  / 10000.0).alias("sum_value"),
                 F.count(F.lit(1)).alias("cnt"))
            .select(F.unix_timestamp(F.col("window.start"))
                    .alias("wstart_epoch"), "sum_value", "cnt")
            .collect()
        )
    }
    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["epoch", "value"])
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s")
    con.register("events", pdf[["ts", "value"]])
    want_tumbling = {
        (r[0].to_pydatetime() if hasattr(r[0], "to_pydatetime") else r[0],
         float(r[1]), r[2])
        for r in con.sql(SPECS["q29_stream_tumbling"].oracle).fetchall()
    }
    want_sliding = {
        (r[0], float(r[1]), r[2])
        for r in con.sql(SPECS["q30_stream_sliding"].oracle).fetchall()
    }
    con.close()
    assert {(t[0], float(t[1]), t[2]) for t in got_tumbling} == want_tumbling
    assert {(t[0], float(t[1]), t[2]) for t in got_sliding} == want_sliding
