"""Sampling determinism/nesting and skew-operator equivalence.

Oracle hash-matches for q52/q53/q54 run in test_queries_oracle; here we
test the operator-level properties the oracle cannot see."""

from __future__ import annotations

import pyspark.sql.functions as F

from kstreamjs_spark.operators import sampling, skew
from kstreamjs_spark.tables import load


def _ids(df):
    return {r[0] for r in df.select("doc_id").collect()}


def test_sample_fraction_and_determinism(spark, sf_smoke):
    (docs,) = load(spark, sf_smoke, "documents")
    n = docs.count()
    s1 = _ids(sampling.sample_hash(docs, "doc_id", 0.2, seed=3))
    s2 = _ids(sampling.sample_hash(docs, "doc_id", 0.2, seed=3))
    assert s1 == s2  # rerun-stable (no rand())
    # LCG-uniform to within a loose tolerance on a tiny corpus
    assert 0.05 * n <= len(s1) <= 0.45 * n
    # different seed ⇒ a different (overlapping but not equal) sample
    s3 = _ids(sampling.sample_hash(docs, "doc_id", 0.2, seed=4))
    assert s3 != s1


def test_sample_nesting(spark, sf_smoke):
    """sample(5%) ⊆ sample(10%) ⊆ sample(50%) under one seed — the property
    that lets a pipeline tune sample size without resampling."""
    (docs,) = load(spark, sf_smoke, "documents")
    small = _ids(sampling.sample_hash(docs, "doc_id", 0.05, seed=7))
    mid = _ids(sampling.sample_hash(docs, "doc_id", 0.10, seed=7))
    big = _ids(sampling.sample_hash(docs, "doc_id", 0.50, seed=7))
    assert small <= mid <= big


def test_sample_predicate_pushed_to_scan(spark, sf_smoke):
    """The hash predicate reaches the parquet scan as a data filter (shown
    in the scan's PushedFilters would need a simple comparison; at minimum
    the plan contains no shuffle and a single scan)."""
    (docs,) = load(spark, sf_smoke, "documents")
    plan = (
        sampling.sample_hash(docs, "doc_id", 0.1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure scan+filter, no shuffle


def test_stratified_fractions(spark, sf_smoke):
    (docs,) = load(spark, sf_smoke, "documents")
    mix = {"en": 0.0, "fr": 1.0}
    kept = sampling.stratified_sample(docs, "lang", mix, "doc_id")
    langs = {r[0] for r in kept.select("lang").distinct().collect()}
    assert "en" not in langs  # fraction 0 strata drop entirely
    n_fr = docs.filter(F.col("lang") == "fr").count()
    assert kept.filter(F.col("lang") == "fr").count() == n_fr  # fraction 1 keeps all
    assert kept.filter(~F.col("lang").isin("en", "fr")).count() == 0  # default 0


def test_salted_agg_equals_plain(spark, sf_smoke):
    (events,) = load(spark, sf_smoke, "events")
    q = events.select(
        "user_id", F.floor(F.col("value") * 10000 + 0.5).cast("long").alias("qv")
    )
    plain = {
        (r["user_id"]): (r["s"], r["c"])
        for r in q.groupBy("user_id")
        .agg(F.sum("qv").alias("s"), F.count("qv").alias("c"))
        .collect()
    }
    salted = {
        (r["user_id"]): (r["s"], r["c"])
        for r in skew.salted_agg(
            q, ["user_id"], [("sum", "qv", "s"), ("count", "qv", "c")], parts=8
        ).collect()
    }
    assert salted == plain


def test_salted_agg_two_phase_plan(spark, sf_smoke):
    """The rewrite must show two aggregate rounds: (keys+salt) then (keys) —
    i.e. the hot-key reduce genuinely splits before the final merge."""
    (events,) = load(spark, sf_smoke, "events")
    plan = (
        skew.salted_agg(events, ["user_id"], [("count", "event_id", "c")], parts=8)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # two logical aggregate rounds survive optimization (each also gets a
    # physical partial/final split, so the hot key spreads 8 ways)
    assert plan.count("Aggregate") == 2


def test_replicated_skew_join_equals_plain(spark, sf_smoke):
    (events,) = load(spark, sf_smoke, "events")
    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 10.0), ("view", 0.1)],
        ["event_type", "weight"],
    )
    plain = (
        events.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("weight").alias("w"))
    )
    salted = (
        skew.replicated_skew_join(events, dim, ["event_type"], parts=4)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("weight").alias("w"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_replicated_skew_join_left_and_guard(spark):
    """Left join preserves unmatched big rows exactly once; right/full are
    rejected (each unmatched small row would appear once per replica)."""
    import pytest

    big = spark.createDataFrame(
        [("a", 1), ("a", 2), ("zzz", 3)], ["k", "v"]
    )
    small = spark.createDataFrame([("a", 10.0)], ["k", "w"])
    out = skew.replicated_skew_join(big, small, ["k"], parts=4, how="left")
    rows = sorted(map(tuple, out.collect()))
    assert rows == [("a", 1, 10.0), ("a", 2, 10.0), ("zzz", 3, None)]
    with pytest.raises(ValueError):
        skew.replicated_skew_join(big, small, ["k"], how="full")


def test_sample_handles_negative_keys(spark):
    """pmod keeps the bucket non-negative for negative keys — a plain %
    would pass EVERY negative key at any fraction, in Spark and DuckDB
    alike (both % follow the dividend sign), invisible to the oracle."""
    df = spark.createDataFrame([(i,) for i in range(-500, 0)], ["doc_id"])
    kept0 = sampling.sample_hash(df, "doc_id", 0.0).count()
    kept20 = sampling.sample_hash(df, "doc_id", 0.2).count()
    assert kept0 == 0
    assert 0 < kept20 < 250  # ~20%, not 100%
    # Spark and the SQL builder agree on negative keys too
    df.createOrReplaceTempView("negkeys")
    sql_kept = spark.sql(
        f"SELECT COUNT(*) c FROM negkeys WHERE {sampling.sample_hash_sql('doc_id', 0.2)}"
    ).collect()[0]["c"]
    assert sql_kept == kept20


def test_sequence_pack_matches_serial_reference(spark):
    """Distributed prefix-sum packing == the serial greedy reference, on a
    frame forced through multiple range partitions."""
    import pandas as pd

    from kstreamjs_spark.operators.packing import sequence_pack

    rows = [(i, 10 + (i * 7) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    out = {
        r["doc_id"]: r["pack_id"]
        for r in sequence_pack(df, "n_tok", 100, ["doc_id"], parts=8).collect()
    }
    # serial reference: exclusive running sum // budget in doc_id order
    pdf = pd.DataFrame(rows, columns=["doc_id", "n_tok"])
    cum = pdf["n_tok"].cumsum()
    expect = ((cum - pdf["n_tok"]) // 100).astype(int)
    assert out == dict(zip(pdf["doc_id"], expect))
    # greedy invariant: pack ids are contiguous from 0 in visit order
    seq = [out[i] for i in range(200)]
    assert seq[0] == 0
    assert all(b - a in (0, 1) for a, b in zip(seq, seq[1:]))


def test_sequence_pack_single_exchange(spark, monkeypatch):
    """The packing plan must contain exactly ONE data exchange (the range
    partitioning) — a window-over-partition-id formulation would add a
    second full hashpartitioning shuffle just to restate a distribution
    the data already has. The operator localCheckpoints (truncating
    lineage), so the OPERATOR'S OWN plan is captured at the checkpoint
    boundary via a spy — asserting a hand-rebuilt lookalike frame would
    not catch a regression inside sequence_pack."""
    from kstreamjs_spark.operators.packing import sequence_pack

    df = spark.range(0, 1000).selectExpr(
        "id AS doc_id", "10 + id % 30 AS n_tok"
    )
    # Patch the CONCRETE DataFrame class (Spark 4: pyspark.sql.classic),
    # not the abstract base — the base's method is overridden.
    cls = type(df)
    captured = {}
    orig = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        captured["plan"] = (
            self._jdf.queryExecution().executedPlan().toString()
        )
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    out = sequence_pack(df, "n_tok", 256, ["doc_id"], parts=8)
    plan = captured["plan"]
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert "Exchange hashpartitioning" not in plan, plan
    # and the full operator output stays correct end-to-end
    assert out.where("pack_id < 0").count() == 0
    n_packs = out.selectExpr("max(pack_id) AS m").collect()[0]["m"]
    total = 1000 * 10 + sum(i % 30 for i in range(1000))
    assert n_packs == (total - (10 + 999 % 30)) // 256


def test_sequence_pack_empty_and_oversize(spark):
    """Edge semantics: an empty frame packs to an empty frame (the zero-arg
    map literal must not reach analysis), and a document larger than the
    budget occupies its span so the next document starts a later pack."""
    from kstreamjs_spark.operators.packing import sequence_pack

    empty = spark.createDataFrame([], "doc_id long, n_tok long")
    assert sequence_pack(empty, "n_tok", 100, ["doc_id"], parts=4).count() == 0
    big = spark.createDataFrame([(1, 500), (2, 10)], "doc_id long, n_tok long")
    out = sorted(
        (r["doc_id"], r["pack_id"])
        for r in sequence_pack(big, "n_tok", 100, ["doc_id"], parts=2).collect()
    )
    assert out == [(1, 0), (2, 5)]


def test_salt_excludes_map_columns(spark):
    """xxhash64 rejects MapType with an opaque AnalysisException far from
    the call site; the salt must skip map columns automatically and still
    produce exact results."""
    df = spark.createDataFrame(
        [("a", 1, {"x": 1}), ("a", 2, {"y": 2}), ("b", 3, {"z": 3})],
        "k string, v long, m map<string,int>",
    )
    out = {
        r["k"]: r["s"]
        for r in skew.salted_agg(df, ["k"], [("sum", "v", "s")], parts=4).collect()
    }
    assert out == {"a": 3, "b": 3}


def test_salt_cols_validation(spark):
    import pytest

    df = spark.createDataFrame(
        [("a", 1, {"x": 1})], "k string, v long, m map<string,int>"
    )
    with pytest.raises(ValueError, match="not in DataFrame"):
        skew.salted_agg(df, ["k"], [("sum", "v", "s")], salt_cols=["nope"])
    with pytest.raises(ValueError, match="unhashable"):
        skew.salted_agg(df, ["k"], [("sum", "v", "s")], salt_cols=["m"])
    only_map = spark.createDataFrame([({"x": 1},)], "m map<string,int>")
    with pytest.raises(ValueError, match="no hashable columns"):
        skew._salt_hash(only_map, 4, None)


def test_replicated_skew_join_salt_cols(spark):
    """A caller-named identity column splits verbatim-duplicate big rows
    that whole-row content hashing cannot (the documented limitation)."""
    big = spark.createDataFrame(
        [("a", i) for i in range(8)] + [("b", 0)], ["k", "rid"]
    )
    small = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["k", "w"])
    out = skew.replicated_skew_join(big, small, ["k"], parts=4,
                                    salt_cols=["rid"])
    assert out.count() == 9
    buckets = (
        big.select(skew._salt_hash(big, 4, ["rid"]).alias("s"))
        .distinct().count()
    )
    assert buckets > 1  # the identity column genuinely spreads the hot key


def test_sample_hash_matches_duckdb_on_adversarial_keys(spark):
    """The Spark predicate and its SQL builder must keep EXACTLY the same
    rows when DuckDB evaluates the SQL — across negative keys, zero, and
    keys near the documented |key+seed| < int64 domain edge scaled back
    to safe range. The oracle gate only exercises the testdata id range;
    this pins the whole contract."""
    import random

    import duckdb

    rng = random.Random(99)
    keys = (
        [0, -1, 1, 2**31, -(2**31), 2**40, -(2**40)]
        + [rng.randint(-(2**40), 2**40) for _ in range(2000)]
    )
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    for frac, seed in [(0.2, 0), (0.5, 7), (0.01, 123)]:
        spark_kept = {
            r[0]
            for r in sampling.sample_hash(df, "doc_id", frac, seed).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT * FROM (VALUES "
            + ",".join(f"({k})" for k in keys)
            + ") AS v(doc_id)"
        )
        duck_kept = {
            r[0]
            for r in con.execute(
                "SELECT doc_id FROM t WHERE "
                + sampling.sample_hash_sql("doc_id", frac, seed)
            ).fetchall()
        }
        assert spark_kept == duck_kept, (frac, seed)


def test_hash_bucket_full_int64_domain(spark):
    """The documented |key+seed| domain constraint is enforced by
    construction (pmod residue before the LCG), so the WHOLE int64
    range — including raw xxhash64-style keys AT the edges, where a
    plain (key+seed) wraps in Spark but traps in DuckDB — hashes
    identically in both engines. Also pins value-stability for
    in-domain keys."""
    import random

    import duckdb

    edge = 2**63
    # The stability-check keys (bottom of the test) are part of the
    # DataFrame so the final loop indexes real Spark output — a .get()
    # with a self-satisfying default would pass vacuously for any key
    # not in this list.
    stability_keys = [0, -1, 1, 2**40, -(2**40), 123456789]
    keys = [
        edge - 1, -edge, -edge + 1, edge - 2**30, -edge + 2**30,
        edge - 2**32,
    ] + stability_keys + [
        random.Random(5).randint(-edge, edge - 1) for _ in range(500)
    ]
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", sampling.hash_bucket("doc_id", seed=42).alias("b")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"(CAST({k} AS BIGINT))" for k in keys)
        + ") AS v(doc_id)"
    )
    duck = dict(con.execute(
        "SELECT doc_id, " + sampling.hash_bucket_sql("doc_id", seed=42)
        + " FROM t"
    ).fetchall())
    assert got == duck
    # value-stability vs the pre-guard arithmetic (pure-Python reference
    # of the OLD sign-following form) on keys that form accepted
    A, C, M = 1103515245, 12345, 4294967296
    def old_form(k, s):
        x = k + s  # in-domain by choice of key below
        sf = x - int(x / M) * M  # sign-following %
        return (sf * A + C) % M  # python % == pmod
    for k in stability_keys:
        assert got[k] == old_form(k, 42)
