"""As-of join operator: golden semantics on constructed frames."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from kstreamjs_spark.operators.asof import asof_join


def ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


def frames(spark):
    left = spark.createDataFrame(
        [(1, "u", ts(10)), (2, "u", ts(20)), (3, "v", ts(10)), (4, "w", ts(5))],
        "id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [("u", ts(5), 100.0), ("u", ts(10), 200.0), ("u", ts(15), 300.0),
         ("v", ts(30), 400.0)],
        "k string, rt timestamp, px double",
    )
    return left, right


@pytest.mark.slow
def test_asof_basic(spark):
    left, right = frames(spark)
    out = {
        r["id"]: r["asof_px"]
        for r in asof_join(
            left, right, on=["k"], left_ts="t", right_ts="rt", right_cols=["px"]
        ).collect()
    }
    # id1: t=10 -> exact match at 10 (200); id2: t=20 -> latest is 15 (300)
    # id3: v at t=10 -> no right row <= 10 -> None; id4: w -> no rows -> None
    assert out == {1: 200.0, 2: 300.0, 3: None, 4: None}


def test_asof_strict_inequality(spark):
    left, right = frames(spark)
    out = {
        r["id"]: r["asof_px"]
        for r in asof_join(
            left, right, on=["k"], left_ts="t", right_ts="rt",
            right_cols=["px"], allow_exact_match=False,
        ).collect()
    }
    # exact-ts match at 10 now excluded for id1 -> falls back to t=5 (100)
    assert out == {1: 100.0, 2: 300.0, 3: None, 4: None}


def test_asof_carries_multiple_columns(spark):
    left, right = frames(spark)
    right2 = right.withColumn("src", F.concat(F.lit("s-"), F.col("px").cast("int")))
    row = (
        asof_join(
            left.filter(F.col("id") == 2), right2, on=["k"], left_ts="t",
            right_ts="rt", right_cols=["px", "src"],
        )
        .collect()[0]
    )
    assert (row["asof_px"], row["asof_src"]) == (300.0, "s-300")


def test_asof_forward(spark):
    """direction='forward': earliest right row at-or-after the left ts."""
    left, right = frames(spark)
    out = {
        r["id"]: r["asof_px"]
        for r in asof_join(
            left, right, on=["k"], left_ts="t", right_ts="rt",
            right_cols=["px"], direction="forward",
        ).collect()
    }
    # id1: t=10 -> exact match at 10 (200); id2: t=20 -> nothing after -> None
    # id3: v at t=10 -> next is rt=30 (400); id4: w -> no rows -> None
    assert out == {1: 200.0, 2: None, 3: 400.0, 4: None}


def test_asof_forward_strict_inequality(spark):
    left, right = frames(spark)
    out = {
        r["id"]: r["asof_px"]
        for r in asof_join(
            left, right, on=["k"], left_ts="t", right_ts="rt",
            right_cols=["px"], direction="forward", allow_exact_match=False,
        ).collect()
    }
    # id1: exact rt=10 excluded -> next is 15 (300)
    assert out == {1: 300.0, 2: None, 3: 400.0, 4: None}


def test_asof_nearest(spark):
    """direction='nearest': closer of the two sides; exact tie prefers
    backward (the pandas merge_asof convention)."""
    left = spark.createDataFrame(
        [(1, "u", ts(12)), (2, "u", ts(13)), (3, "u", ts(40))],
        "id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [("u", ts(10), 100.0), ("u", ts(14), 200.0)],
        "k string, rt timestamp, px double",
    )
    out = {
        r["id"]: r["asof_px"]
        for r in asof_join(
            left, right, on=["k"], left_ts="t", right_ts="rt",
            right_cols=["px"], direction="nearest",
        ).collect()
    }
    # id1: |12-10|=2 == |14-12|=2 -> tie -> backward (100)
    # id2: |13-10|=3 > |14-13|=1 -> forward (200)
    # id3: only backward exists (40 > 14) -> 200
    assert out == {1: 100.0, 2: 200.0, 3: 200.0}


def test_asof_nearest_timestamp_ntz(spark):
    """The parquet testdata carries TIMESTAMP_NTZ, not TIMESTAMP — the
    nearest-distance comparison must resolve on both flavors
    (unix_micros rejects NTZ with DATATYPE_MISMATCH; the
    interval-subtraction form accepts both)."""
    left = spark.createDataFrame(
        [(1, "u", ts(12)), (2, "u", ts(13))],
        "id long, k string, t timestamp_ntz",
    )
    right = spark.createDataFrame(
        [("u", ts(10), 100.0), ("u", ts(14), 200.0)],
        "k string, rt timestamp_ntz, px double",
    )
    out = {
        r["id"]: r["asof_px"]
        for r in asof_join(
            left, right, on=["k"], left_ts="t", right_ts="rt",
            right_cols=["px"], direction="nearest",
        ).collect()
    }
    # same goldens as the TIMESTAMP variant: tie -> backward; closer wins
    assert out == {1: 100.0, 2: 200.0}


def test_asof_nearest_strict_excludes_exact(spark):
    left = spark.createDataFrame(
        [(1, "u", ts(10))], "id long, k string, t timestamp"
    )
    right = spark.createDataFrame(
        [("u", ts(10), 100.0), ("u", ts(13), 200.0)],
        "k string, rt timestamp, px double",
    )
    row = asof_join(
        left, right, on=["k"], left_ts="t", right_ts="rt",
        right_cols=["px"], direction="nearest", allow_exact_match=False,
    ).collect()[0]
    # the exact-ts row must be invisible on BOTH sides -> next-nearest wins
    assert row["asof_px"] == 200.0


def test_asof_null_field_does_not_mix_rows(spark):
    """A NULL field in the matched right row must stay NULL — per-column
    last(ignorenulls) would backfill it from an OLDER right row, stitching
    together a row that never existed. The struct-packed implementation
    picks the whole latest row atomically."""
    left = spark.createDataFrame([(1, "u", ts(20))], "id long, k string, t timestamp")
    right = spark.createDataFrame(
        [("u", ts(5), 100.0, "old"), ("u", ts(15), 300.0, None)],
        "k string, rt timestamp, px double, src string",
    )
    row = asof_join(
        left, right, on=["k"], left_ts="t", right_ts="rt",
        right_cols=["px", "src"],
    ).collect()[0]
    # latest row is (300.0, NULL): src must NOT be backfilled to "old"
    assert (row["asof_px"], row["asof_src"]) == (300.0, None)


def test_range_join_left_rows_exact(spark):
    """Row-level left-join semantics: each valid pair appears exactly once
    and an unmatched left row yields exactly one NULL-extended row — no
    spurious NULL replicas for matched keys (build-side fan-out)."""
    from kstreamjs_spark.operators.rangejoin import bucketed_range_join

    sec = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u", sec(600)), (2, "v", sec(600))], "id long, k string, t timestamp"
    )
    right = spark.createDataFrame(
        [("u", sec(550)), ("u", sec(580))], "k string, rt timestamp"
    )
    rows = bucketed_range_join(
        left, right, on=["k"], left_ts="t", right_ts="rt", window_seconds=600
    ).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r["rt"])
    # id1: exactly its two matches, no extra NULL replica
    assert sorted(by_id[1]) == [sec(550), sec(580)]
    # id2: exactly one NULL-extended row
    assert by_id[2] == [None]


def test_range_join_golden(spark):
    """Edge semantics: click exactly at purchase ts counts; exactly
    window-width before does not; empty right side yields zero counts."""
    from kstreamjs_spark.operators.rangejoin import bucketed_range_join
    import pyspark.sql.functions as F

    sec = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u", sec(600)), (2, "v", sec(600))], "id long, k string, t timestamp"
    )
    right = spark.createDataFrame(
        [("u", sec(600)), ("u", sec(1)), ("u", sec(0)), ("w", sec(599))],
        "k string, rt timestamp",
    )
    out = {
        r["id"]: r["n"]
        for r in bucketed_range_join(
            left, right, on=["k"], left_ts="t", right_ts="rt", window_seconds=600
        )
        .groupBy("id")
        .agg(F.count("rt").alias("n"))
        .collect()
    }
    # id1: rt=600 (== t, counts), rt=1 (in range), rt=0 (== t-600, excluded)
    # id2: no 'v' rows at all -> still present with 0
    assert out == {1: 2, 2: 0}
