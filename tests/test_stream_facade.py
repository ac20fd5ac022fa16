"""Operator goldens mirroring the reference's own spec
(/root/reference/src/stream.spec.ts:59-209; fixture shapes in FIXTURES.md
A1-A5), run through the Stream facade in batch mode."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from kstreamjs_spark.stream import Stream


def ts_df(spark, rows, schema):
    """rows carry an integer `ts` in ms (the reference's metadata timestamp,
    /root/reference/src/context.ts:138)."""
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("ts", F.timestamp_millis(F.col("ts")))


# A1: map golden — stream.spec.ts:66-75 (map(a+1) of [{a:1}] -> [{a:2}])
def test_map(spark):
    df = ts_df(spark, [(0, 1)], "ts long, a long")
    out = Stream.from_dataframe(df).map(a2=(F.col("a") + 1)).collect()
    assert [r["a2"] for r in out] == [2]


# A1: filter golden — stream.spec.ts:87-96 (filter(a>2) of [1,2,3,1] -> [3])
def test_filter(spark):
    df = ts_df(spark, [(0, 1), (1, 2), (2, 3), (3, 1)], "ts long, a long")
    out = Stream.from_dataframe(df).filter(F.col("a") > 2).collect()
    assert [r["a"] for r in out] == [3]


# A2: explode golden — stream.spec.ts:109-115 (array value -> one row per
# element, parent metadata retained)
def test_explode(spark):
    df = ts_df(spark, [(5, [1, 2])], "ts long, items array<long>")
    out = Stream.from_dataframe(df).explode("items", alias="item").collect()
    assert [(r["item"]) for r in out] == [1, 2]
    # parent ts retained on every exploded row
    assert len({r["ts"] for r in out}) == 1


# A3: window golden — stream.spec.ts:116-152: values {a:1,5,2,4,3} at ts
# [0,7,1,3,2], interval 2ms, collect=sum -> window [0,2) sums 3, [2,4) sums 7
def test_window_builtin_agg(spark):
    df = ts_df(
        spark,
        [(0, 1), (7, 5), (1, 2), (3, 4), (2, 3)],
        "ts long, a long",
    )
    out = (
        Stream.from_dataframe(df)
        .window(interval_ms=2, aggs={"s": F.sum("a")})
        .collect()
    )
    sums = {r["window_start"].microsecond // 1000: r["s"] for r in out}
    assert sums[0] == 3  # a=1@0 + a=2@1
    assert sums[2] == 7  # a=3@2 + a=4@3
    assert sums[6] == 5  # a=5@7 (batch replay emits every window)


# A3 via collect= (the reference collect callback,
# src/stream.ts:133) — rows arrive event-time-sorted
def test_window_collect_callback(spark):
    df = ts_df(
        spark,
        [(0, 1), (7, 5), (1, 2), (3, 4), (2, 3)],
        "ts long, a long",
    )

    def collect(pdf: pd.DataFrame) -> dict:
        assert list(pdf["ts"]) == sorted(pdf["ts"])  # sorted within window
        return {"s": int(pdf["a"].sum())}

    out = (
        Stream.from_dataframe(df)
        .window(interval_ms=2, collect=collect, out_schema="s long")
        .collect()
    )
    sums = {r["window_start"].microsecond // 1000: r["s"] for r in out}
    assert sums[0] == 3 and sums[2] == 7


def test_window_collect_frame_has_input_columns_only(spark):
    """The ``collect`` frame holds the input's columns and nothing of
    the window aggregation, with naive ``datetime64[ns]`` timestamps
    (tests/test_streaming.py pins the same on streaming input)."""
    df = ts_df(spark, [(0, 1, "x"), (1, 2, "y")], "ts long, a long, k string")
    out = (
        Stream.from_dataframe(df)
        .window(
            interval_ms=2, keys=["k"],
            collect=lambda pdf: {"dtypes": [f"{c}:{t}" for c, t in pdf.dtypes.items()]},
            out_schema="dtypes array<string>",
        )
        .collect()
    )
    assert [r["dtypes"] for r in out] == [
        ["ts:datetime64[ns]", "a:int64", "k:object"]
    ] * 2


# window `from` semantics: rows before `from` dropped (late-data drop,
# src/stream.ts:157-177), windows aligned to `from`
def test_window_from_drops_early_rows(spark):
    df = ts_df(spark, [(0, 1), (2, 2), (3, 4)], "ts long, a long")
    out = (
        Stream.from_dataframe(df)
        .window(interval_ms=2, from_ms=2, aggs={"s": F.sum("a")})
        .collect()
    )
    assert {r["s"] for r in out} == {6}  # row@0 dropped; [2,4) sums 2+4


# A4: union golden — stream.spec.ts:153-175 (two sources, second mapped x10,
# compared order-insensitively — the reference's own test sorts too)
def test_union(spark):
    s1 = Stream.from_dataframe(ts_df(spark, [(0, 1), (1, 2)], "ts long, n long"))
    s2 = Stream.from_dataframe(
        ts_df(spark, [(0, 3), (1, 4)], "ts long, n long")
    ).map(n=(F.col("n") * 10))
    out = s1.union(s2).collect()
    assert sorted(r["n"] for r in out) == [1, 2, 30, 40]


# A5: mixed pipeline golden — stream.spec.ts:177-197:
# map(add z=1) -> window(interval 2, collect key names) -> explode -> map(+'a')
def test_mixed_pipeline(spark):
    df = ts_df(
        spark,
        [(0, "a"), (1, "b"), (2, "c"), (3, "d"), (4, "e")],
        "ts long, key string",
    )

    def keys_of(pdf: pd.DataFrame) -> dict:
        ks = []
        for k in pdf["key"]:
            ks.extend([k, "z"])  # each message's object keys: {key}, z
        return {"keys": ks}

    s = (
        Stream.from_dataframe(df)
        .map(z=F.lit(1))
        .window(interval_ms=2, collect=keys_of, out_schema="keys array<string>")
        .explode("keys", alias="k", keep=["window_start"])
        .map(k=F.concat(F.col("k"), F.lit("a")))
    )
    rows = s.collect()
    by_win = {}
    for r in rows:
        by_win.setdefault(r["window_start"].microsecond // 1000, []).append(r["k"])
    assert by_win[0] == ["aa", "za", "ba", "za"]
    assert by_win[2] == ["ca", "za", "da", "za"]


# blackhole (stream.spec.ts:153-175 uses it as the dead branch)
def test_blackhole_batch(spark):
    df = ts_df(spark, [(0, 1)], "ts long, a long")
    out = Stream.from_dataframe(df).blackhole()
    assert out.collect() == []


# commit is a documented no-op (checkpointing supersedes it)
def test_commit_passthrough(spark):
    df = ts_df(spark, [(0, 1)], "ts long, a long")
    s = Stream.from_dataframe(df)
    assert s.commit().collect() == s.collect()


# immutability: operators never mutate the receiver (the reference's filter
# mutates `this`, an inconsistency we deliberately do not reproduce —
# SURVEY.md §3.2)
def test_immutable_facade(spark):
    df = ts_df(spark, [(0, 1), (1, 5)], "ts long, a long")
    s = Stream.from_dataframe(df)
    s.filter(F.col("a") > 2)
    assert len(s.collect()) == 2  # original stream unchanged


def test_write_to_parquet_roundtrip(spark, tmp_path):
    df = ts_df(spark, [(0, 1), (1, 2)], "ts long, a long")
    s = Stream.from_dataframe(df)
    ret = s.write_to(str(tmp_path / "out"))
    assert isinstance(ret, Stream)  # pass-through, reference writeTo contract
    back = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r["a"] for r in back.collect()) == [1, 2]


def test_quickstart_example_runs(spark, sf_smoke):
    """examples/quickstart.py is the advertised on-ramp; it must keep
    running as the facade evolves. Executed in-process: get_spark's
    getOrCreate hands the example the suite's shared session, so its
    final spark.stop() is neutralized for the duration of the call
    (stopping the fixture session would kill every later test)."""
    import runpy
    from unittest import mock

    mod = runpy.run_path("examples/quickstart.py", run_name="lib")
    with mock.patch.object(type(spark), "stop", lambda self: None):
        assert mod["main"](sf_smoke) == 0


@pytest.mark.slow
def test_curation_pipeline_example_runs(spark, sf_smoke):
    """examples/curation_pipeline.py composes the curation operators
    end-to-end (dedup -> near-dup -> quality -> decontaminate -> sample
    -> pack); it must keep running as the operator APIs evolve. Same
    shared-session guard as the quickstart test."""
    import runpy
    from unittest import mock

    mod = runpy.run_path("examples/curation_pipeline.py", run_name="lib")
    with mock.patch.object(type(spark), "stop", lambda self: None):
        assert mod["main"](sf_smoke) == 0


def test_multimodal_retrieval_example_runs(spark, sf_smoke):
    """examples/multimodal_retrieval.py composes the multimodal operators
    (pHash dedup -> AFP dedup -> batched BM25 -> banded k-NN); it must
    keep running as those APIs evolve. Same shared-session guard as the
    quickstart test."""
    import runpy
    from unittest import mock

    mod = runpy.run_path("examples/multimodal_retrieval.py", run_name="lib")
    with mock.patch.object(type(spark), "stop", lambda self: None):
        assert mod["main"](sf_smoke) == 0


def test_jsonl_roundtrip(spark, sf_smoke, tmp_path):
    """write_to(fmt="json") -> from_jsonl reproduces the rows and restores
    the timestamp column's type (JSON serializes timestamps as strings —
    the reference's wire format, src/context.ts:122-143)."""
    import pyspark.sql.functions as F

    src = (
        Stream.from_parquet(spark, f"{sf_smoke}/events.parquet")
        .filter(F.col("event_id") < 100)
    )
    out = str(tmp_path / "ev.jsonl")
    ret = src.write_to(out, fmt="json")
    assert isinstance(ret, Stream)  # pass-through contract
    back = Stream.from_jsonl(spark, out)
    assert dict(back.df.dtypes)["ts"] == "timestamp"
    a = {tuple(r) for r in src.df.select("event_id", "ts", "value").collect()}
    b = {tuple(r) for r in back.df.select("event_id", "ts", "value").collect()}
    assert a == b


def test_warehouse_analytics_example_runs(spark, sf_smoke):
    """examples/warehouse_analytics.py composes the star-schema shapes
    (dim-chain revenue rollup -> fulfilment audit -> bulk buyers ->
    segment LTV percentiles); it must keep running as the operator APIs
    evolve. Same shared-session guard as the quickstart test."""
    import runpy
    from unittest import mock

    mod = runpy.run_path("examples/warehouse_analytics.py", run_name="lib")
    with mock.patch.object(type(spark), "stop", lambda self: None):
        assert mod["main"](sf_smoke) == 0
