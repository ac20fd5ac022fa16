"""`keyed_fold`, the keyed streaming fold, and the per-key steps the
streaming sketch and sampling queries fold through it (q180b, q181b,
q192b, q224), each on a crafted multi-trigger replay."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from kstreamjs_spark.operators.sketch import (
    _kll_estimate,
    _kll_update,
    _kmv_update,
    _mg_update,
    kmv_distinct,
    kmv_estimate,
)
from kstreamjs_spark.streaming import replay
from kstreamjs_spark.streaming.replay import keyed_fold

from .conftest import stage_stream


@pytest.fixture
def snapshots(monkeypatch):
    """``name ->`` the per-trigger snapshots ``keyed_fold(..., name)``
    emitted: the memory-sink frame its ``run_to_memory`` returned."""
    seen = {}
    real = replay.run_to_memory

    def capture(sdf, name, *args, **kwargs):
        seen[name] = real(sdf, name, *args, **kwargs)
        return seen[name]

    monkeypatch.setattr(replay, "run_to_memory", capture)
    return seen


def test_keyed_fold_folds_every_trigger_per_key(spark, tmp_path, snapshots):
    """3 files replayed as 3 triggers, folded by a string key and by a
    bigint key: each key's final state equals a plain Python fold of its
    rows, ``n`` is its row count, and the key emitted one snapshot per
    trigger that had its rows."""
    rows = [
        (rid, "a" if rid % 2 else ("b" if rid < 20 else "c"), rid // 7,
         (rid * 37) % 11)
        for rid in range(30)
    ]
    df = spark.createDataFrame(
        rows, "rid long, skey string, lkey long, v long"
    )
    src = str(tmp_path / "src")
    read = stage_stream(df, src, "rid", parts=3)
    trigger_of = {
        rid: t
        for t, name in enumerate(
            sorted(f for f in os.listdir(src) if f.startswith("part-"))
        )
        for rid in pq.read_table(os.path.join(src, name))["rid"].to_pylist()
    }

    def step(acc, pdf):
        return sorted(acc + pdf["v"].tolist())

    for key, key_type, col in (("skey", "string", 1), ("lkey", "bigint", 2)):
        name = f"kf_{key}"
        finals = keyed_fold(read(), key, [], step, name)
        assert finals.dtypes == [(key, key_type), ("state", "string"),
                                 ("n", "bigint")]
        want: dict = {}
        for r in rows:
            want.setdefault(r[col], []).append(r)
        got = {r[key]: (json.loads(r["state"]), r["n"])
               for r in finals.collect()}
        assert got == {
            k: (sorted(r[3] for r in rs), len(rs)) for k, rs in want.items()
        }
        emits: dict = {}
        for r in snapshots[name].collect():
            emits[r[key]] = emits.get(r[key], 0) + 1
        assert emits == {
            k: len({trigger_of[r[0]] for r in rs}) for k, rs in want.items()
        }
        assert {1, 2} <= set(emits.values())  # single and multi-trigger


def test_stream_kll_sketch_folds_state_and_respects_bound(spark, tmp_path, snapshots):
    """q181b's contracts on a crafted multi-trigger replay: the keyed
    KLL state FOLDS across micro-batches (n == exact row count — state
    is updated, never rebuilt per batch), the merged bound holds vs
    numpy-exact ranks, and it stays non-vacuous."""
    rng = np.random.RandomState(19)
    n = 30_000
    vals = rng.pareto(1.3, n) * 100
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "rid long, x double"
    )
    k = 128
    sdf = stage_stream(df, str(tmp_path / "src"), "rid")().select(
        F.pmod(F.xxhash64("rid"), F.lit(4)).alias("bucket"), "x"
    )

    def step(acc, pdf):
        levels, toggles, err, _ = _kll_update(*acc, 0, pdf["x"], k)
        return [levels, toggles, err]

    finals = keyed_fold(
        sdf, "bucket", [[[]], [0], 0], step, "kf_kll"
    ).collect()
    # each bucket emitted once per trigger it saw rows in: state FOLDED
    assert snapshots["kf_kll"].count() > len(finals)
    states = [json.loads(r["state"]) for r in finals]
    items = sorted(
        (float(v), 1 << h)
        for levels, _, _ in states
        for h, buf in enumerate(levels)
        for v in buf
    )
    n_total = sum(r["n"] for r in finals)
    assert n_total == n  # exactly-once folding across all triggers
    err_total = sum(err for _, _, err in states)
    xs = np.sort(vals)
    for q, est, n_out, bound in _kll_estimate(
        items, err_total, n_total, (0.1, 0.5, 0.9, 0.99)
    ):
        lo = int(np.searchsorted(xs, est, side="left"))
        hi = int(np.searchsorted(xs, est, side="right"))
        target = max(1, int(np.ceil(q * n)))
        dev = max(lo - target, target - hi, 0)
        assert dev <= bound, (q, dev, bound)
        assert bound <= n // 8


def test_stream_misra_gries_folds_state_and_respects_bound(spark, tmp_path, snapshots):
    """q180b's contracts on a multi-trigger replay over a skewed vocab:
    token-bucketed MG state folds across micro-batches (total n ==
    exact token count), never over-counts, under-counts within the
    PER-BUCKET bound N_b/(k+1), and every globally-heavy token
    survives in its bucket's counter set."""
    k, buckets = 16, 4
    # skewed corpus: 3 heavy tokens + long tail, 6 files
    rows = []
    rid = 0
    for i in range(1200):
        toks = ["alpha"] if i % 2 else ["beta"]
        if i % 3 == 0:
            toks.append("gamma")
        toks.append(f"tail{i % 97}")
        for t in toks:
            rows.append((rid, t))
            rid += 1
    df = spark.createDataFrame(rows, "rid long, token string")
    sdf = stage_stream(df, str(tmp_path / "src"), "rid")().select(
        F.pmod(F.xxhash64("token"), F.lit(buckets)).alias("bucket"),
        "token",
    )
    finals = keyed_fold(
        sdf, "bucket", {},
        lambda counters, pdf: _mg_update(counters, pdf["token"], k),
        "kf_mg",
    ).collect()
    # state folded across triggers
    assert snapshots["kf_mg"].count() > len(finals)
    exact: dict = {}
    for _, t in rows:
        exact[t] = exact.get(t, 0) + 1
    n_total = sum(r["n"] for r in finals)
    assert n_total == len(rows)  # exactly-once
    # per-bucket bounds + heavy completeness
    got: dict = {}
    bucket_n = {r["bucket"]: r["n"] for r in finals}
    bucket_of = {
        r["token"]: r["b"]
        for r in spark.createDataFrame([(t,) for t in exact], "token string")
        .select("token", F.pmod(F.xxhash64("token"), F.lit(buckets))
                .alias("b"))
        .collect()
    }
    for r in finals:
        for tok, est in json.loads(r["state"]).items():
            got[tok] = est
            assert est <= exact[tok], (tok, est, exact[tok])  # never over
            assert exact[tok] - est <= bucket_n[r["bucket"]] // (k + 1) + 1
    heavy = [
        t for t, c in exact.items()
        if c > bucket_n[bucket_of[t]] // (k + 1)
    ]
    missing = [t for t in heavy if t not in got]
    assert not missing, missing
    for t in ("alpha", "beta", "gamma"):
        assert t in got


def test_stream_kmv_folds_state_and_equals_batch(spark, tmp_path):
    """q192b's contract: the keyed k-min state folds across
    micro-batches and — because the k-min fold is a pure function of
    the input SET — the streamed estimate EQUALS the batch
    kmv_distinct on the same data exactly (a hard equality, unlike the
    MG/KLL bound pins), including under a duplicate-heavy split
    replay."""
    k, buckets = 256, 4
    # 5000 distinct keys, each row value repeated in later files too
    df = spark.createDataFrame(
        [(i % 5000,) for i in range(12_000)], "v long"
    ).withColumn("rid", F.monotonically_increasing_id())
    sdf = (
        stage_stream(df, str(tmp_path / "kmv_src"), "rid")()
        .select(F.xxhash64("v").alias("h"))
        .select(F.pmod("h", F.lit(buckets)).alias("bucket"), "h")
    )
    finals = keyed_fold(
        sdf, "bucket", [],
        lambda cur, pdf: _kmv_update(cur, pdf["h"], k).tolist(),
        "kf_kmv",
    ).collect()
    # state folded: total rows seen across buckets == stream length
    assert sum(r["n"] for r in finals) == 12_000
    merged = sorted({h for r in finals for h in json.loads(r["state"])})[:k]
    got = kmv_estimate(merged, k)
    expected = kmv_distinct(df.select("v"), "v", k=k)
    assert got == expected
    # and the estimator regime really engaged (5000 distinct >> k)
    assert got[1] == k and abs(got[0] - 5000) / 5000 < 5.0 / (k - 2) ** 0.5


def test_stream_bottomk_sample_schedule_invariant(spark, tmp_path):
    """q224's order-invariance claim, pinned: the SAME documents split
    into 2 triggers (and into 2 triggers in reversed halves) produce
    the IDENTICAL per-lang bottom-k as the batch window rank — the
    kept set is a pure function of the ids seen, not of arrival order
    (hash-priority bottom-k, not Vitter reservoir)."""
    from pyspark.sql import Window

    from kstreamjs_spark.operators.sampling import hash_bucket
    from kstreamjs_spark.queries.streaming_q import (
        _Q224_K,
        _Q224_SEED,
        _bottomk_update,
    )

    docs = [
        (i, f"t{i}", ["en", "de"][i % 2], "s", 0) for i in range(40)
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    )
    want = sorted(
        (r["lang"], r["doc_id"], r["priority"], r["rn"])
        for r in df.select(
            "lang", "doc_id",
            hash_bucket("doc_id", seed=_Q224_SEED).alias("priority"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy("priority", "doc_id")
            ).cast("long"),
        )
        .filter(F.col("rn") <= _Q224_K)
        .collect()
    )

    def run_schedule(first_half):
        src = str(tmp_path / f"q224src_{first_half}")
        os.makedirs(src, exist_ok=True)
        lo = df.filter(F.col("doc_id") < 20)
        hi = df.filter(F.col("doc_id") >= 20)
        a, b = (lo, hi) if first_half else (hi, lo)
        a.coalesce(1).write.parquet(f"{src}/f0.parquet")
        b.coalesce(1).write.parquet(f"{src}/f1.parquet")
        sdf = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
            .select(
                "lang", "doc_id",
                hash_bucket("doc_id", seed=_Q224_SEED).alias("priority"),
            )
        )
        finals = keyed_fold(sdf, "lang", [], _bottomk_update, "q224t")
        return sorted(
            (r["lang"], int(d), int(p), rn + 1)
            for r in finals.collect()
            for rn, (p, d) in enumerate(json.loads(r["state"]))
        )

    assert run_schedule(True) == want
    assert run_schedule(False) == want
