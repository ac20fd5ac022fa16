"""Structured Streaming semantics: batch<->stream equivalence, watermark
late-data drop (reference drop-late path, /root/reference/src/stream.ts:157-177),
and the Statistics listener (reference flushStatistics,
src/context.ts:218-222)."""

from __future__ import annotations

import os
import threading
import time

import pyspark.sql.functions as F
import pytest
from pyspark.sql.streaming import StreamingQueryListener

from kstreamjs_spark.stream import Stream
from kstreamjs_spark.streaming.replay import run_to_memory, stream_table
from kstreamjs_spark.streaming.stats import StatisticsListener

from .conftest import (
    NEARDUP_DOCS,
    WINDOW_FORMS,
    count_sum,
    stage_stream,
    stage_triggers,
)


def test_stream_replay_equals_batch(spark, sf_smoke):
    """Hourly sums over the events replay == batch answer (Q29 shape)."""
    sdf = stream_table(spark, sf_smoke, "events")
    agg = (
        sdf.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("h"), "cnt")
    )
    streamed = {
        (r["h"], r["cnt"]) for r in run_to_memory(agg, "t_eq", "complete").collect()
    }
    from kstreamjs_spark.tables import load

    (batch,) = load(spark, sf_smoke, "events")
    expected = {
        (r["h"], r["cnt"])
        for r in batch.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert streamed == expected


def _ts_rows(spark, rows, schema="ts long, v long"):
    """A frame of ``rows`` with the leading ``ts`` in epoch ms cast to a
    timestamp."""
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("ts", F.timestamp_millis(F.col("ts")))


def _write_file(spark, rows, path):
    _ts_rows(spark, rows).coalesce(1).write.mode("overwrite").parquet(path)


@pytest.mark.slow
def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving after the watermark passed its window is dropped —
    the reference's drop-late policy (src/stream.ts:157-177), implemented
    by withWatermark. Two AvailableNow runs share a checkpoint: run 1
    advances the watermark to ~190s and finalizes window [0,60s); run 2
    delivers a ts=5s straggler, which the restored watermark rejects."""
    d = str(tmp_path / "stream_in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    os.makedirs(d, exist_ok=True)

    def run_once():
        schema = spark.read.parquet(f"{d}/f1.parquet").schema
        sdf = spark.readStream.schema(schema).parquet(d + "/*")
        agg = (
            sdf.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "1 minute"))
            .agg(F.sum("v").alias("s"))
            .select(F.col("window.start").alias("w"), "s")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    # run 1: window [0,60s) gets 2 rows; ts=200s -> watermark 190s,
    # so [0,60s) is finalized and emitted with s=2
    _write_file(spark, [(0, 1), (1000, 1), (200_000, 1)], f"{d}/f1.parquet")
    run_once()
    # run 2: ts=5s is below the checkpointed watermark -> dropped
    _write_file(spark, [(5_000, 1), (400_000, 1)], f"{d}/f2.parquet")
    q2 = run_once()

    dropped = sum(
        int(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0))
        for p in q2.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1
    emitted = {
        (r["w"].minute, r["s"]) for r in spark.read.parquet(out_dir).collect()
    }
    assert (0, 2) in emitted  # late straggler never mutated the window
    assert (0, 3) not in emitted


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark window
    are suppressed (Q32 extension — reference has no dedup at all)."""
    d = str(tmp_path / "dedup_in")
    os.makedirs(d, exist_ok=True)
    _write_file(spark, [(0, 7), (1000, 7), (2000, 8)], f"{d}/f1.parquet")
    schema = spark.read.parquet(f"{d}/f1.parquet").schema
    sdf = spark.readStream.schema(schema).parquet(d + "/*")
    dedup = sdf.withWatermark("ts", "1 minute").dropDuplicatesWithinWatermark(["v"])
    out = sorted(r["v"] for r in run_to_memory(dedup, "t_ddw").collect())
    assert out == [7, 8]


def test_run_to_memory_leaves_no_view(spark, tmp_path):
    """Each call's memory-sink view is dropped, and the frame it returned
    still reads the sink's rows."""
    read = stage_stream(
        spark.range(30).selectExpr("id", "id % 3 AS k"), str(tmp_path / "src"), "id", parts=3
    )
    frames = [run_to_memory(read().where(f"k = {k}"), "t_noview") for k in range(3)]
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("t_noview")] == []
    for k, df in enumerate(frames):
        assert sorted(r["id"] for r in df.collect()) == list(range(k, 30, 3))


def test_drain_past_its_timeout_stops_and_raises(spark, tmp_path, monkeypatch):
    """A drain still running after DRAIN_TIMEOUT_S raises TimeoutError
    and leaves its query stopped, not running on behind the caller."""
    from kstreamjs_spark.streaming import replay

    monkeypatch.setattr(replay, "DRAIN_TIMEOUT_S", 1)
    read = stage_stream(spark.range(3), str(tmp_path / "src"), "id", parts=1)
    with pytest.raises(TimeoutError, match="did not finish within 1s"):
        replay.run_foreach_batch(
            read(), lambda df, epoch: time.sleep(5), "t_timeout"
        )
    assert not [q for q in spark.streams.active if q.name.startswith("t_timeout")]


def test_statistics_listener(spark, sf_smoke):
    """recv/send totals via StreamingQueryListener — parity with the
    reference's Statistics counters (src/context.ts:39-52)."""
    listener = StatisticsListener().attach(spark)
    try:
        sdf = stream_table(spark, sf_smoke, "events").select("event_id")
        run_to_memory(sdf, "t_stats")
        deadline = time.time() + 10
        stats = listener.flush()
        while stats.recv_total < 1000 and time.time() < deadline:
            time.sleep(0.5)
            nxt = listener.flush()
            stats = stats.merge(nxt)
        assert stats.recv_total == 1000  # sf0.001 events row count
        # flush resets (snapshot-and-reset contract)
        time.sleep(0.1)
        assert listener.flush().recv_total == 0
    finally:
        listener.detach(spark)


def test_statistics_event_timestamp_is_epoch_ms():
    """last_sent_event_timestamp is epoch millis, never the raw ISO string
    Spark's progress reports — a string would make Statistics.merge's max()
    compare lexicographically (reference stores millis,
    src/context.ts:39-52)."""
    from kstreamjs_spark.streaming.stats import Statistics, _iso_to_epoch_ms

    ms = _iso_to_epoch_ms("2024-01-01T00:00:01.500Z")
    assert ms == 1704067201500 and isinstance(ms, int)
    assert _iso_to_epoch_ms("not-a-timestamp") is None
    # merge takes the numeric max across sources
    a = Statistics(last_sent_event_timestamp=_iso_to_epoch_ms("2024-01-02T00:00:00Z"))
    b = Statistics(last_sent_event_timestamp=_iso_to_epoch_ms("2024-01-10T00:00:00Z"))
    assert a.merge(b).last_sent_event_timestamp == b.last_sent_event_timestamp


def test_stream_facade_replay_window(spark, sf_smoke):
    """Facade end-to-end on a real stream: replay -> filter -> window agg ->
    run_available (complete mode)."""
    s = (
        Stream.replay(spark, sf_smoke, "events")
        .filter(F.col("event_type") == "purchase")
        .window(interval_ms=3_600_000, aggs={"cnt": F.count(F.lit(1))})
    )
    out = s.run_available("t_facade", output_mode="complete")
    total = sum(r["cnt"] for r in out.collect())
    batch = spark.read.parquet(f"{sf_smoke}/events.parquet")
    assert total == batch.filter(F.col("event_type") == "purchase").count()


def test_stateful_running_totals_converge_to_batch(spark, sf_smoke):
    """q44: the max running total per user across micro-batches must equal
    the batch sum of the SAME per-row 1e-4 quanta (state accumulated
    correctly across batches; integer quanta make the comparison exact
    regardless of micro-batch order)."""
    import pyspark.sql.functions as F

    from kstreamjs_spark.queries import all_queries

    out = all_queries()["q44_stateful_running_totals"].fn(spark, sf_smoke)
    finals = {
        r["user_id"]: r["final_total"]
        for r in out.groupBy("user_id")
        .agg(F.max("running_total").alias("final_total"))
        .collect()
    }
    quantum = F.floor(F.col("value") * 1e4 + 0.5).cast("long")
    batch = {
        r["user_id"]: r["sq"] / 10000.0
        for r in spark.read.parquet(f"{sf_smoke}/events.parquet")
        .groupBy("user_id")
        .agg(F.sum(quantum).alias("sq"))
        .collect()
    }
    assert finals == batch


def test_stream_facade_write_to_parquet_sink(spark, sf_smoke, tmp_path):
    """Facade streaming sink path (reference writeTo, src/stream.ts:240-247):
    replay -> filter -> file sink with checkpoint; rows land in parquet."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    s = Stream.replay(spark, sf_smoke, "events").filter(
        F.col("event_type") == "purchase"
    )
    handle = s.map(F.col("event_id")).df.writeStream.format("parquet").option(
        "path", out
    ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    handle.awaitTermination()
    n = spark.read.parquet(out).count()
    expected = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert n == expected


def test_checkpoint_restart_is_exactly_once(spark, sf_smoke, tmp_path):
    """`commit` parity, proven: the reference commits offsets every 60s and
    replays on crash (at-least-once, reference src/context.ts:111-113);
    checkpointed Structured Streaming restarts from the offset WAL with NO
    loss and NO duplication into a file sink. Stop a 4-micro-batch replay
    after the first batch, restart from the same checkpoint, and the sink
    holds every input row exactly once."""
    import time

    import pyspark.sql.functions as F  # noqa: F401

    from kstreamjs_spark.tables import load

    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    (docs,) = load(spark, sf_smoke, "documents")
    n_total = docs.count()
    docs.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    q = (
        reader().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        # wide trigger interval: batch 1 runs immediately, batch 2 not for
        # 30s — stop() always lands mid-backlog, never after batch 4
        .trigger(processingTime="30 seconds").start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] > 0:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    n_phase1 = spark.read.parquet(out).count()
    assert 0 < n_phase1 < n_total  # stopped mid-backlog

    q2 = (
        reader().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n_total  # no loss, no dups


@pytest.mark.slow
def test_stream_decontaminate_invariant_to_micro_batching(
    spark, sf_smoke, tmp_path
):
    """q167's claim — per-lang contaminated counts are independent of
    micro-batch boundaries — under ADVERSARIAL batching: the same
    documents replayed as 6 single-file micro-batches must produce the
    identical chained-stateful (semi-join -> dropDuplicates -> agg)
    result as the one-batch replay, because a document's shingles can
    straddle batches only via the dedup state."""
    import pyspark.sql.functions as F

    from kstreamjs_spark.operators import dedup, sampling
    from kstreamjs_spark.queries.corpus import (
        _DECON_N, _EVAL_FRACTION, _EVAL_SEED,
    )
    from kstreamjs_spark.streaming.replay import run_to_memory
    from kstreamjs_spark.tables import load

    src = str(tmp_path / "src")
    (docs,) = load(spark, sf_smoke, "documents")
    docs.repartition(6).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    is_eval = sampling.sample_predicate(
        "doc_id", _EVAL_FRACTION, seed=_EVAL_SEED
    )
    eval_shingles = (
        docs.filter(is_eval)
        .select(F.explode(dedup.shingles("text", _DECON_N)).alias("g"))
        .distinct()
    )

    def result(max_files):
        reader = spark.readStream.schema(schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        sdf = reader.parquet(src)
        contam = (
            sdf.filter(~sampling.sample_predicate(
                "doc_id", _EVAL_FRACTION, seed=_EVAL_SEED))
            .select("doc_id", "lang",
                    F.explode(dedup.shingles("text", _DECON_N)).alias("g"))
            .join(eval_shingles, "g", "left_semi")
            .dropDuplicates(["doc_id", "lang"])
        )
        agg = contam.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        out = run_to_memory(agg, "decon_inv", output_mode="complete")
        return sorted((r["lang"], r["n"]) for r in out.collect())

    assert result(1) == result(None)


def test_stream_inverted_index_update_emits_each_key_once(
    spark, sf_smoke, tmp_path
):
    """q166b's update-mode claim, pinned adversarially: replayed as 6
    single-file micro-batches, the update log must contain each
    (doc_id, token) posting EXACTLY once (update emits only changed
    keys, and a posting's document arrives in one trigger) — unlike
    complete mode, which would re-emit the whole index every trigger —
    and the compacted log equals the batch tf computation."""
    import uuid

    from kstreamjs_spark.queries.llm import _BM25_TERMS
    from kstreamjs_spark.tables import load

    src = str(tmp_path / "src")
    (docs,) = load(spark, sf_smoke, "documents")
    docs.repartition(6).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def tf_of(df):
        return (
            df.select(
                "doc_id", F.explode(F.split("text", " ")).alias("token")
            )
            .filter(F.col("token").isin(_BM25_TERMS))
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    qname = f"q166b_upd_{uuid.uuid4().hex[:8]}"
    q = (
        tf_of(sdf).writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(600)
    n_triggers = len([
        p for p in q.recentProgress if p.get("numInputRows", 0) > 0
    ])
    assert n_triggers >= 5, n_triggers  # really micro-batched
    log = spark.table(qname)
    expected = sorted(
        (r["doc_id"], r["token"], r["tf"]) for r in tf_of(docs).collect()
    )
    got = sorted(
        (r["doc_id"], r["token"], r["tf"]) for r in log.collect()
    )
    # each key exactly once across ALL triggers — the emission-volume
    # contrast with complete mode (which would emit ~n_triggers copies)
    assert got == expected


@pytest.mark.slow
def test_stream_decontaminate_update_mode_evicts_state(spark, tmp_path):
    """q167b's production-shape claims, pinned adversarially: the
    update-mode chain (semi-join -> dropDuplicatesWithinWatermark ->
    windowed agg) replayed as 6 TIME-ORDERED single-file micro-batches
    must (a) compact to the identical answer as the one-batch replay —
    batch-boundary independence with watermarks in play — (b) equal the
    plain batch recomputation, and (c) actually EVICT state as the
    watermark advances (numRowsRemoved > 0 in the state metrics), which
    is the whole point of the update-mode variant over q167's
    keep-everything complete mode. The corpus is a dense synthetic (the
    natural fixture has only 2 contaminated docs — no eviction signal):
    every train doc shares a shingle with the eval set, spreading
    hundreds of dedup-state entries across a 600 s event-time span that
    dwarfs the 2-minute watermark horizon."""
    import uuid

    from kstreamjs_spark.operators import dedup
    from kstreamjs_spark.queries.streaming_q import (
        _Q167B_DELAY, _Q167B_EPOCH, _Q167B_WINDOW_S,
    )

    rows = [
        (i, "en" if i % 2 else "de", f"tok{i % 7} a b c d e")
        for i in range(600)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    # 6 ascending doc_id ranges = ascending event-time ranges, replayed
    # in event order — arrival never falls behind the watermark, so
    # nothing is dropped as late and the batch answer must be reproduced
    # exactly
    read = stage_stream(docs, str(tmp_path / "src"), "doc_id")
    is_eval = (F.col("doc_id") % 10) == 0  # covers all 7 shingle keys
    eval_shingles = (
        docs.filter(is_eval)
        .select(F.explode(dedup.shingles("text", 5)).alias("g"))
        .distinct()
    )
    win = f"{_Q167B_WINDOW_S} seconds"
    arrival = F.timestamp_seconds(F.lit(_Q167B_EPOCH) + F.col("doc_id"))

    def chain(df):
        return (
            df.select(
                "doc_id", "lang", "ts",
                F.explode(dedup.shingles("text", 5)).alias("g"),
            )
            .join(eval_shingles, "g", "left_semi")
        )

    def run(max_files):
        train = (
            read(max_files).filter(~is_eval)
            .withColumn("ts", arrival)
            .withWatermark("ts", _Q167B_DELAY)
        )
        agg = (
            chain(train)
            .dropDuplicatesWithinWatermark(["doc_id", "lang"])
            .groupBy(F.window("ts", win), "lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(
                F.col("window.start").cast("long").alias("w"), "lang", "n"
            )
        )
        qname = f"q167b_evict_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory").queryName(qname)
            .outputMode("update").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(600)
        removed = 0
        for p in q.recentProgress:
            for op in p.get("stateOperators", []):
                removed += op.get("numRowsRemoved", 0) or 0
        compacted = sorted(
            (r["w"], r["lang"], r["n"])
            for r in spark.table(qname)
            .groupBy("w", "lang").agg(F.max("n").alias("n")).collect()
        )
        return compacted, removed

    expected = sorted(
        (r["w"], r["lang"], r["n"])
        for r in chain(docs.filter(~is_eval).withColumn("ts", arrival))
        .dropDuplicates(["doc_id", "lang"])
        .groupBy(F.window("ts", win), "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("window.start").cast("long").alias("w"), "lang", "n")
        .collect()
    )
    split, split_removed = run(1)
    whole, _ = run(None)
    assert split == whole == expected and len(split) >= 8, (
        len(split), split[:3], expected[:3]
    )
    # eviction really happened under the 6-trigger replay: the 600 s
    # event-time span is far past the 2-minute horizon
    assert split_removed > 0


@pytest.mark.slow
def test_stream_phash_dedup_update_folds_across_triggers(
    spark, sf_smoke, tmp_path
):
    """q165b's update-mode claim, pinned adversarially: the documents
    replayed as 6 single-file micro-batches with group members SPREAD
    ACROSS triggers (repartition scatters doc_ids), so a perceptual
    group's count is emitted, then re-emitted larger when a later
    trigger delivers another member. The compacted log (min group_rep,
    max n_members per phash) must equal the batch closed form, and at
    least one hash must appear in the log more than once — the proof
    the cross-trigger state fold (not a single-batch accident) produced
    the answer."""
    import uuid

    from kstreamjs_spark.operators import multimodal
    from kstreamjs_spark.queries.llm import _synth_group_bmps
    from kstreamjs_spark.tables import load

    src = str(tmp_path / "src")
    (docs,) = load(spark, sf_smoke, "documents")
    docs.repartition(6).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    qname = f"q165b_upd_{uuid.uuid4().hex[:8]}"
    agg = (
        multimodal.phash_blobs(_synth_group_bmps(sdf))
        .groupBy("phash")
        .agg(
            F.min("doc_id").alias("group_rep"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
    )
    q = (
        agg.writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(600)
    n_triggers = len([
        p for p in q.recentProgress if p.get("numInputRows", 0) > 0
    ])
    assert n_triggers >= 5, n_triggers  # really micro-batched
    log = spark.table(qname)
    emissions = log.groupBy("phash").count().collect()
    assert max(r["count"] for r in emissions) > 1  # cross-trigger fold
    got = sorted(
        (r["group_rep"], r["n_members"])
        for r in log.groupBy("phash")
        .agg(
            F.min("group_rep").alias("group_rep"),
            F.max("n_members").alias("n_members"),
        )
        .collect()
    )
    expected = sorted(
        (r["group_rep"], r["n_members"])
        for r in docs.groupBy(F.floor(F.col("doc_id") / 3).alias("g"))
        .agg(
            F.min("doc_id").alias("group_rep"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .select("group_rep", "n_members")
        .collect()
    )
    assert got == expected


@pytest.mark.slow
def test_stream_dsir_scoring_stateless_per_trigger(spark, sf_smoke, tmp_path):
    """q177b's deployment claims, pinned adversarially: replayed as
    single-file micro-batches, every raw doc emits EXACTLY once (append
    mode, stateless scan projection — no dedup state needed to get this
    right), and the per-doc score equals batch q177's score for the
    same doc."""
    import uuid

    import pyspark.sql.functions as F
    import kstreamjs_spark.queries.llm as llm_mod
    from kstreamjs_spark.queries.llm import q177, _DSIR_K
    from kstreamjs_spark.queries.streaming_q import q177b
    import kstreamjs_spark.queries.streaming_q as sq_mod
    from kstreamjs_spark.tables import load

    src = str(tmp_path / "src")
    (docs,) = load(spark, sf_smoke, "documents")
    docs.repartition(6).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    # drive q177b with a 1-file-per-trigger replay of the SAME corpus
    orig_stream_table = sq_mod.stream_table
    orig_load = sq_mod.load

    def patched_stream(spark_, sf_, name):
        return (
            spark_.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
        )

    sq_mod.stream_table = patched_stream
    sq_mod.load = lambda spark_, sf_, *n: (spark.read.parquet(src),)
    try:
        out = q177b(spark, sf_smoke)
    finally:
        sq_mod.stream_table = orig_stream_table
        sq_mod.load = orig_load
    rows = {r["doc_id"]: (r["n_bigrams"], r["dsir_score"])
            for r in out.collect()}
    raw_ids = [
        r["doc_id"] for r in docs.filter(
            (F.col("lang") != "en")
            & (F.size(F.split("text", " ")) >= 2)
        ).select("doc_id").collect()
    ]
    # exactly once per raw doc
    assert sorted(rows) == sorted(raw_ids)

    # scores equal batch q177's for the docs q177 ranks (top-K subset)
    orig_llm_load = llm_mod.load
    llm_mod.load = lambda spark_, sf_, *n: (spark.read.parquet(src),)
    try:
        batch = {r["doc_id"]: (r["n_bigrams"], r["dsir_score"])
                 for r in q177(spark, sf_smoke).collect()}
    finally:
        llm_mod.load = orig_llm_load
    assert 0 < len(batch) <= _DSIR_K
    for did, v in batch.items():
        assert rows[did] == v


@pytest.mark.slow
def test_stream_gopher_filter_matches_batch_funnel(spark, sf_smoke, tmp_path):
    """q178b's row-local verdicts, aggregated per lang, must equal batch
    q178's funnel (which computes the top-2-gram rule via a groupBy —
    the two formulations are value-identical by construction, asserted
    here on real data), and every doc emits exactly once across
    single-file micro-batches (stateless append mode)."""
    import pyspark.sql.functions as F
    import kstreamjs_spark.queries.llm as llm_mod
    import kstreamjs_spark.queries.streaming_q as sq_mod
    from kstreamjs_spark.queries.llm import q178
    from kstreamjs_spark.queries.streaming_q import q178b
    from kstreamjs_spark.tables import load

    src = str(tmp_path / "src")
    (docs,) = load(spark, sf_smoke, "documents")
    docs.repartition(6).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    orig_stream = sq_mod.stream_table
    sq_mod.stream_table = lambda spark_, sf_, name: (
        spark_.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    try:
        out = q178b(spark, sf_smoke)
    finally:
        sq_mod.stream_table = orig_stream
    rows = out.collect()
    # exactly once per doc
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )

    # aggregate the per-doc verdicts into q178's funnel shape
    got = {
        r["lang"]: (r["n"], r["wc"], r["mwl"], r["req"], r["top"], r["pa"])
        for r in out.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("f_wc").alias("wc"),
            F.sum("f_mwl").alias("mwl"),
            F.sum("f_req").alias("req"),
            F.sum("f_top").alias("top"),
            F.sum(F.when(
                F.col("f_wc") + F.col("f_mwl") + F.col("f_req")
                + F.col("f_top") == 0, 1).otherwise(0)).alias("pa"),
        ).collect()
    }
    orig_load = llm_mod.load
    llm_mod.load = lambda spark_, sf_, *n: (docs,)
    try:
        exp = {
            r["lang"]: (r["n_docs"], r["fail_wordcount"], r["fail_wordlen"],
                        r["fail_required"], r["fail_topngram"], r["pass_all"])
            for r in q178(spark, sf_smoke).collect()
        }
    finally:
        llm_mod.load = orig_load
    assert got == exp


def test_stream_bpe_tokenize_counts_empty_words(spark, tmp_path):
    """Review-pass regression: a double space splits to an empty-string
    word, which training and the oracle count as ONE symbol — the
    application kernel must agree (list('') == [] would under-count)."""
    import kstreamjs_spark.queries.streaming_q as sq_mod
    import kstreamjs_spark.queries.llm as llm_mod
    from kstreamjs_spark.queries.streaming_q import q179b

    src = str(tmp_path / "src")
    docs = spark.createDataFrame(
        [(1, "ab  ab ab", "en", "s", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    orig_stream, orig_load = sq_mod.stream_table, sq_mod.load
    orig_llm_load = llm_mod.load
    sq_mod.stream_table = lambda s_, sf_, n_: (
        s_.readStream.schema(schema).parquet(src)
    )
    sq_mod.load = lambda s_, sf_, *n_: (spark.read.parquet(src),)
    llm_mod.load = sq_mod.load
    try:
        rows = q179b(spark, "unused").collect()
    finally:
        sq_mod.stream_table, sq_mod.load = orig_stream, orig_load
        llm_mod.load = orig_llm_load
    assert len(rows) == 1
    r = rows[0]
    # words: ['ab', '', 'ab', 'ab'] -> merge (a,b) learned; 'ab' becomes
    # one symbol, '' counts as one symbol -> 4 BPE tokens, 4 words
    assert (r["n_bpe_tokens"], r["n_words"]) == (4, 4)


class _JoinState(StreamingQueryListener):
    """The state-operator progress of the one streaming query named
    ``<name>_*``, over all its triggers. Listener events arrive
    asynchronously, so ``ops()`` first waits for the query's
    termination event."""

    def __init__(self, name):
        self.prefix, self.id, self._ops = name + "_", None, []
        self._done = threading.Event()

    def onQueryStarted(self, event):  # noqa: N802
        if (event.name or "").startswith(self.prefix):
            self.id = event.id

    def onQueryProgress(self, event):  # noqa: N802
        if event.progress.id == self.id:
            self._ops.extend(event.progress.stateOperators)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        if event.id == self.id:
            self._done.set()

    def ops(self):
        assert self._done.wait(60)
        return self._ops


def _q51_replay(read, how, max_files, name):
    """q51's interval join (``how``) over the staged events, taking
    ``max_files`` files per trigger, drained through run_to_memory;
    returns the sink rows and the join's state-operator progress."""
    from kstreamjs_spark.queries.streaming_q import _interval_join

    j = _interval_join(read(max_files), read(max_files), how)
    state = _JoinState(name)
    j.sparkSession.streams.addListener(state)
    try:
        rows = run_to_memory(j, name).collect()
        return rows, state.ops()
    finally:
        j.sparkSession.streams.removeListener(state)


_BASE = 1_700_000_000


def _adversarial_events(spark, tmp_path, rows):
    """``rows`` of (event_id, user_id, event_type, ts offset) staged as
    a time-ordered multi-trigger file stream; returns its reader."""
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, off long",
    ).select(
        "event_id", "user_id", "event_type",
        F.timestamp_seconds(F.lit(_BASE) + F.col("off")).alias("ts"),
    )
    return stage_stream(df, str(tmp_path / "events"), "ts")


@pytest.mark.slow
def test_stream_left_outer_join_null_emission_is_watermark_gated(
    spark, tmp_path
):
    """q51b's production claims, pinned adversarially on a crafted
    corpus replayed as TIME-ORDERED single-file micro-batches:
    (a) an unmatched purchase the watermark has passed emits its NULL
        row (state eviction really produces the outer result,
        numRowsRemoved > 0 in the join's state metrics);
    (b) an unmatched purchase the final watermark has NOT passed emits
        NOTHING — null rows are watermark-gated, never eager (emitting
        eagerly would be wrong: a matching click could still arrive);
    (c) matched pairs stream out regardless of the watermark;
    (d) the 6-trigger split equals the one-batch replay — boundary
        independence with join state in play."""
    base = _BASE
    read = _adversarial_events(spark, tmp_path, [
        # (event_id, user_id, event_type, ts_off)
        (101, 1, "purchase", 1000),  # no click in (400, 1000]: null row
        (102, 2, "purchase", 1200),  # click at 900 in (600, 1200]: pair
        (1, 2, "click", 900),
        (2, 1, "click", 300),        # outside user 1's window
        (3, 3, "click", 1100),       # click with no purchase: no row
        (103, 4, "purchase", 4000),  # watermark never passes: NO row
        (4, 5, "click", 4020),       # sets click-side max ts
        (104, 6, "purchase", 3000),  # closed (wm 3940): null row
    ])

    def run(max_files):
        rows, ops = _q51_replay(read, "left_outer", max_files, "q51b_adv")
        removed = sum(op.numRowsRemoved or 0 for op in ops)
        got = sorted(
            (r["event_id"], r["user_id"],
             None if r["click_ts"] is None else int(r["click_ts"].timestamp()))
            for r in rows
        )
        return got, removed

    split, split_removed = run(1)
    whole, _ = run(None)
    expected = sorted([
        (101, 1, None),            # (a) closed unmatched -> null row
        (102, 2, base + 900),      # (c) matched pair
        (104, 6, None),            # (a) closed unmatched -> null row
        # (103, 4): open at final watermark 3940 < 4000 -> ABSENT (b)
    ])
    assert split == expected, split
    assert whole == expected, whole
    assert split_removed > 0  # state really evicted under the split replay


@pytest.mark.slow
def test_stream_full_outer_join_gates_nulls_on_both_sides(spark, tmp_path):
    """q51c's production claims: (a) a closed unmatched purchase emits
    its null-click row; (b) a closed unmatched click (watermark past
    click_ts + 10min) emits its null-purchase row; (c) an unmatched
    click the watermark has NOT passed by 10min emits NOTHING (a
    future purchase could still match it); (d) matched pairs stream
    out; (e) the split replay equals the one-batch replay and state
    really evicts."""
    base = _BASE
    read = _adversarial_events(spark, tmp_path, [
        # (event_id, user_id, event_type, ts_off)
        (101, 1, "purchase", 1000),  # no click in (400, 1000]: null-click
        (102, 2, "purchase", 1200),  # click at 900 matches: pair
        (1, 2, "click", 900),
        (2, 3, "click", 300),        # no purchase; 300+600=900 < wm: null-purchase
        (3, 4, "click", 3600),       # no purchase; 3600+600=4200 > wm 3940: ABSENT
        (103, 5, "purchase", 4000),  # open at wm: ABSENT
        (4, 6, "click", 4020),       # sets click-side max ts; open: ABSENT
    ])

    def run(max_files):
        rows, ops = _q51_replay(read, "full_outer", max_files, "q51c_adv")
        # the full-outer symmetricHashJoin does not populate
        # numRowsRemoved (measured; the left-outer one does) — pin
        # eviction via the state-size trajectory instead: rows leave
        # the join state when the watermark passes them
        totals = [op.numRowsTotal or 0 for op in ops]
        removed = (max(totals) - totals[-1]) if totals else 0
        # the final watermark is min(maxP, maxC) - 1min = 3940; closed
        # region per q51c's two-sided rule
        wm = base + 3940
        got = sorted(
            [
                (r["event_id"], r["user_id"], r["c_user"],
                 None if r["click_ts"] is None
                 else int(r["click_ts"].timestamp()))
                for r in rows
                if (r["event_id"] is not None
                    and r["user_id"] is not None)  # purchase-bearing
                or (r["click_ts"] is not None
                    and int(r["click_ts"].timestamp()) + 600 <= wm)
            ],
            key=lambda t: tuple((x is None, x) for x in t),
        )
        return got, removed

    split, split_removed = run(1)
    whole, _ = run(None)
    expected = sorted([
        (101, 1, None, None),          # (a) null-click row
        (102, 2, 2, base + 900),       # (d) matched pair
        (None, None, 3, base + 300),   # (b) null-purchase row
        # click 3600 (c) and open rows (103, click 4020): ABSENT
    ], key=lambda t: tuple((x is None, x) for x in t))
    assert split == expected, split
    assert whole == expected, whole
    assert split_removed > 0


def test_stream_pq_encode_equals_batch(spark, sf_smoke):
    """q191b's hard equality: streaming PQ encoding is a pure per-row
    function of the shipped codebooks, so the replayed codes must
    equal batch pq_encode bit-for-bit on every vector."""
    from kstreamjs_spark.operators import similarity
    from kstreamjs_spark.queries import all_queries
    from kstreamjs_spark.tables import load

    got = {
        r["vec_id"]: (r["c_first"], r["c_last"], r["c_sum"])
        for r in all_queries()["q191b_stream_pq_encode"]
        .fn(spark, sf_smoke).collect()
    }
    (emb,) = load(spark, sf_smoke, "embeddings")
    books = similarity.pq_codebooks(emb, m=16, n_cent=16)
    expected = {
        r["vec_id"]: (r["codes"][0], r["codes"][15], sum(r["codes"]))
        for r in similarity.pq_encode(emb, books, dim=64)
        .select("vec_id", "codes").collect()
    }
    assert got == expected


@pytest.mark.slow
def test_stream_semi_join_emits_once_and_only_matched(spark, tmp_path):
    """q51d's claims: (a) a purchase with MULTIPLE matching clicks
    emits exactly ONCE (the fan-out the semi form removes); (b) an
    unmatched purchase never emits; (c) split == whole."""
    base = _BASE
    read = _adversarial_events(spark, tmp_path, [
        (101, 1, "purchase", 1200),  # clicks at 900 AND 1000: ONE row
        (1, 1, "click", 900),
        (2, 1, "click", 1000),
        (102, 2, "purchase", 1100),  # no click in window: no row
        (3, 2, "click", 200),        # outside (500, 1100]
        (103, 3, "purchase", 4000),  # open at wm: excluded by region
        (4, 4, "click", 4020),       # sets click-side max
    ])

    def run(max_files):
        rows, _ = _q51_replay(read, "left_semi", max_files, "q51d_adv")
        cutoff = base + 4000 - 60 - 1  # min-side max 4000, 1min delay, 1s
        return sorted(
            (r["event_id"], r["user_id"])
            for r in rows
            if int(r["ts"].timestamp()) <= cutoff
        )

    split = run(1)
    whole = run(None)
    expected = [(101, 1)]  # once, despite two matching clicks
    assert split == expected, split
    assert whole == expected, whole


# ---- Stream.window on streaming input: one fire and drop rule for
# aggs= and collect= (operators/window.py). A window fires once, on the
# first trigger whose watermark is at or past its end; a row is late
# when its window's end is at or behind the watermark.

def _stage_ts(spark, path, triggers):
    return stage_triggers(spark, path, [_ts_rows(spark, t) for t in triggers])


def _drain_window(sdf, name, **how):
    """Drain ``Stream(sdf).window(**how)`` into a memory sink in append
    mode. Returns the sink's rows and the progress reports in batch
    order."""
    spark = sdf.sparkSession
    q = (
        Stream(sdf, "ts").window(**how).df.writeStream.format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    assert q.awaitTermination(600)
    rows = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    return rows, sorted(q.recentProgress, key=lambda p: p["batchId"])


def _dropped(progress):
    return sum(
        op["numRowsDroppedByWatermark"]
        for p in progress for op in p["stateOperators"]
    )


def test_window_collect_fires_once_across_microbatches(spark, tmp_path):
    """``collect=`` on streaming input calls the reducer once per
    window, with all of its rows, even when they span micro-batches.
    Window [0, 2 s) spans triggers 0 and 1; the 10 s buffer keeps every
    row on time; a far-future sentinel in the last trigger moves the
    final watermark past every real window. The streamed rows equal the
    batch facade's on the same input."""
    files = [
        [(100, 1), (300, 2), (2_100, 10)],
        [(500, 4), (2_500, 20)],
        [(10_000_000, 999)],
    ]
    sdf = _stage_ts(spark, str(tmp_path / "in"), files)

    def collect(pdf):
        # order-sensitive on purpose: rows arrive ts-sorted and complete
        v = pdf["v"].tolist()
        return {"s": int(sum(v)), "first": int(v[0]),
                "last": int(v[-1]), "n": len(v)}

    how = dict(interval_ms=2_000, collect=collect,
               out_schema="s long, first long, last long, n int")
    streamed, _ = _drain_window(sdf, "wcs_parity", buffer_interval_ms=10_000, **how)
    bdf = _ts_rows(spark, [r for rows in files[:2] for r in rows])
    expected = Stream.from_dataframe(bdf, "ts").window(**how).collect()
    assert sorted(streamed) == sorted(expected)
    # one row per real window, none for the sentinel's
    assert len(streamed) == 2


def test_window_collect_keyed(spark, tmp_path):
    """Keyed ``collect=``: each (window, key) group fires once, and the
    key column rides through to the output, as on the batch facade."""
    files = [[(100, 1), (300, 2), (2_100, 10)], [(500, 4), (2_500, 20)],
             [(10_000_000, 999)]]
    keyed = [[(ts, v, f"k{v % 2}") for ts, v in rows] for rows in files]
    schema = "ts long, v long, k string"
    sdf = stage_triggers(
        spark, str(tmp_path / "in"), [_ts_rows(spark, t, schema) for t in keyed]
    )
    how = dict(interval_ms=2_000, keys=["k"], **count_sum("collect"))
    streamed, _ = _drain_window(sdf, "wcsk", buffer_interval_ms=10_000, **how)
    bdf = _ts_rows(spark, keyed[0] + keyed[1], schema)
    expected = Stream.from_dataframe(bdf, "ts").window(**how).collect()
    assert sorted(streamed) == sorted(expected)
    assert len(expected) == 3


def test_window_counts_row_behind_watermark_in_open_window(spark, tmp_path):
    """A row behind the watermark whose window is still open is counted,
    on the ``aggs=`` and the ``collect=`` path alike, however many
    triggers came before it. Triggers 0 and 1 move the watermark to
    00:49 and then 00:50 (1-minute buffer); trigger 2 brings a row at
    00:30, inside the open window [00:00, 01:00); a sentinel at 05:00
    closes it."""
    minute = 60_000
    sdf = _stage_ts(spark, str(tmp_path / "in"), [
        [(5 * minute, 1), (50 * minute, 2)],
        [(51 * minute, 3)],
        [(30 * minute, 4)],
        [(300 * minute, 0)],
    ])
    got = {}
    for form in WINDOW_FORMS:
        rows, progress = _drain_window(
            sdf, f"open_{form}", interval_ms=60 * minute,
            buffer_interval_ms=minute, **count_sum(form),
        )
        assert [p["eventTime"]["watermark"] for p in progress[1:3]] == [
            "1970-01-01T00:49:00.000Z", "1970-01-01T00:50:00.000Z",
        ]
        got[form] = (
            [(r["window_start"].minute, r["n"], r["s"]) for r in rows],
            _dropped(progress),
        )
    assert got["aggs"] == got["collect"] == ([(0, 4, 10)], 0)


@pytest.mark.parametrize("last_ms, fired", [(2_000, False), (2_001, True)])
def test_window_fires_when_watermark_reaches_end(spark, tmp_path, last_ms, fired):
    """Both paths fire window [0, 2 s) on the same trigger: held while
    the final watermark (the last row less the 1 ms buffer) is behind
    its end, emitted once it equals the end."""
    sdf = _stage_ts(spark, str(tmp_path / "in"), [[(100, 7)], [(last_ms, 0)]])
    for form in WINDOW_FORMS:
        rows, _ = _drain_window(
            sdf, f"wm_{form}", interval_ms=2_000, buffer_interval_ms=1, **count_sum(form)
        )
        assert [(r["n"], r["s"]) for r in rows] == ([(1, 7)] if fired else []), form


def test_window_drops_each_late_row_on_both_paths(spark, tmp_path):
    """Rows whose window already fired are dropped and counted in
    ``numRowsDroppedByWatermark``: N late rows read N on both paths.
    Spark filters late rows against the previous trigger's watermark,
    so a filler trigger separates the one that moves the watermark to
    59 s from the late rows. The counter counts rows after partial
    aggregation, one per (window, keys) group and task, so each late
    row gets a window of its own."""
    late = [(100, 1), (2_100, 2), (4_100, 3)]
    sdf = _stage_ts(spark, str(tmp_path / "in"), [
        [(50, 0), (2_050, 0), (4_050, 0)],
        [(60_000, 0)],
        [(61_000, 0)],
        late,
        [(120_000, 0)],
    ])
    for form in WINDOW_FORMS:
        rows, progress = _drain_window(
            sdf, f"late_{form}", interval_ms=2_000,
            buffer_interval_ms=1_000, **count_sum(form),
        )
        assert _dropped(progress) == len(late), form
        assert sorted((r["n"], r["s"]) for r in rows) == (
            [(1, 0)] * 3 + [(2, 0)]
        ), form


def test_window_collect_frame_on_streaming_input(spark, tmp_path):
    """On streaming input ``collect`` sees the input's columns only,
    with naive ``datetime64[ns]`` timestamps, as on batch input."""
    sdf = _stage_ts(spark, str(tmp_path / "in"), [[(100, 1)], [(9_000, 2)]])
    rows, _ = _drain_window(
        sdf, "frame", interval_ms=2_000, buffer_interval_ms=1,
        collect=lambda pdf: {"dtypes": [f"{c}:{t}" for c, t in pdf.dtypes.items()]},
        out_schema="dtypes array<string>",
    )
    assert [r["dtypes"] for r in rows] == [["ts:datetime64[ns]", "v:int64"]]


def test_window_collect_from_origin_alignment(spark, tmp_path):
    """``from_ms`` on the streaming collect path drops the rows before
    it and aligns windows to it (origin ``from_ms % interval``), as the
    batch path does."""
    # interval 2 s, from 500 ms -> windows [500, 2500), [2500, 4500), ...
    files = [[(100, 99), (600, 1), (2_400, 2)], [(2_600, 4)], [(9_000_000, 0)]]
    sdf = _stage_ts(spark, str(tmp_path / "in"), files)
    how = dict(interval_ms=2_000, from_ms=500,
               collect=lambda pdf: {"s": int(pdf["v"].sum())},
               out_schema="s long")
    streamed, _ = _drain_window(sdf, "wcso", buffer_interval_ms=10_000, **how)
    bdf = _ts_rows(spark, files[0] + files[1])
    expected = Stream.from_dataframe(bdf, "ts").window(**how).collect()
    assert sorted(streamed) == sorted(expected)
    assert all(r["window_start"].microsecond == 500_000 for r in streamed)
    assert sum(r["s"] for r in streamed) == 1 + 2 + 4


@pytest.mark.slow
def test_stream_minhash_candidates_equal_batch_any_schedule(spark, tmp_path):
    """q205's contract: the streamed candidate-pair SET equals batch
    _lsh_candidate_pairs exactly, for any micro-batch schedule — the
    bucket self-join emits each pair once whichever member lands
    first, and a re-delivered doc only repeats pairs the final
    distinct collapses. Drives the SHIPPED pipeline
    (queries.streaming_q.minhash_candidate_stream — one code home),
    not a private copy."""
    from kstreamjs_spark.operators.dedup import _lsh_candidate_pairs
    from kstreamjs_spark.queries.streaming_q import minhash_candidate_stream

    rows = NEARDUP_DOCS
    bdf = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {
        (r["d1"], r["d2"])
        for r in _lsh_candidate_pairs(
            bdf, 64, 16, 3, "doc_id", "text", 42, carry_sigs=False
        ).collect()
    }
    assert expected, "fixture must produce at least one candidate pair"

    d = str(tmp_path / "mh_in")
    # schedule A: 2 docs per file ascending; schedule B: all in one
    # file; schedule C: DESCENDING id order — docs 0/1 land in buckets
    # that already hold the larger member 3 (pairing new-as-larger-only
    # would lose (0,3)/(1,3))
    for tag, chunks in (
        ("a", [rows[0:2], rows[2:4], rows[4:6]]),
        ("b", [rows]),
        ("c", [rows[4:6], rows[2:4], rows[0:2]]),
        ("r", [rows[0:2], rows[0:2], rows[2:6]]),  # docs 0-1 re-delivered
    ):
        sdf = stage_triggers(spark, f"{d}/{tag}", chunks, "doc_id long, text string")
        pairs = minhash_candidate_stream(sdf)
        got = {
            (r["d1"], r["d2"])
            for r in run_to_memory(
                pairs, f"mh_{tag}", output_mode="append"
            ).distinct().collect()
        }
        assert got == expected, (tag, got, expected)


def test_minhash_candidate_stream_runs_kernel_once_per_trigger(
    spark, tmp_path, capsys
):
    """Both sides of the bucket self-join read ONE exchange of the
    banded projection, so the Python MinHash kernel runs once per
    trigger: the micro-batch plan holds one MapInPandas, a
    ReusedExchange and the symmetric hash join, and no GroupState
    operator. Projecting the two sides differently would plan the
    kernel twice."""
    from kstreamjs_spark.queries.streaming_q import minhash_candidate_stream

    sdf = stage_triggers(
        spark, str(tmp_path / "src"), [NEARDUP_DOCS], "doc_id long, text string"
    )
    q = minhash_candidate_stream(sdf).writeStream.format("noop").start()
    try:
        q.processAllAvailable()
        capsys.readouterr()
        q.explain()
        plan = capsys.readouterr().out
    finally:
        q.stop()
    assert plan.count("MapInPandas") == 1, plan
    assert "ReusedExchange" in plan, plan
    assert "StreamingSymmetricHashJoin" in plan, plan
    assert "FlatMapGroupsInPandasWithState" not in plan, plan


@pytest.mark.slow
def test_stream_minhash_verified_equal_batch_any_schedule(spark, tmp_path):
    """q205b's contract: the streamed VERIFIED pair set (in-stream
    exact-Jaccard over stream-static shingle join, plus the drop_id
    decision) equals batch minhash_verified_pairs exactly, for any
    micro-batch schedule — including descending-id delivery. Drives
    the SHIPPED minhash_verified_stream (one code home)."""
    from kstreamjs_spark.operators.dedup import minhash_verified_pairs
    from kstreamjs_spark.queries.streaming_q import minhash_verified_stream

    rows = NEARDUP_DOCS
    bdf = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in minhash_verified_pairs(bdf, threshold=0.5).collect()
    }
    assert expected, "fixture must produce at least one verified pair"

    d = str(tmp_path / "mhv_in")
    for tag, chunks in (
        ("a", [rows[0:2], rows[2:4], rows[4:6]]),
        ("c", [rows[4:6], rows[2:4], rows[0:2]]),  # descending ids
    ):
        sdf = stage_triggers(spark, f"{d}/{tag}", chunks, "doc_id long, text string")
        verified = minhash_verified_stream(sdf, bdf, threshold=0.5)
        got_rows = run_to_memory(
            verified, f"mhv_{tag}", output_mode="append"
        ).distinct().collect()
        got = {(r["d1"], r["d2"], r["jaccard"]) for r in got_rows}
        assert got == expected, (tag, got, expected)
        # decision column: drop the larger member of every verified pair
        assert all(r["drop_id"] == r["d2"] for r in got_rows)


def test_stream_lakehouse_ingest_multibatch_append(spark, sf_smoke, tmp_path):
    """q211b's contract under REAL multi-batch ingest: orders split
    across three files, replayed one file per trigger, each micro-batch
    z-staged and appended — the final written table's manifest must
    equal the batch closed form over the union, every appended file
    must carry tight per-cell y stats (the skipping contract under
    continuous ingest), and no rows may be lost or duplicated."""
    import glob

    import pyarrow.parquet as pq

    from kstreamjs_spark.operators import layout
    from kstreamjs_spark.streaming.replay import run_foreach_batch

    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    sdf = stage_triggers(
        spark, str(tmp_path / "orders_stream"),
        orders.randomSplit([1.0, 1.0, 1.0], seed=7),
    )
    out = str(tmp_path / "ztable")

    def write_batch(batch_df, _bid):
        x = layout.quantize16(F.col("o_custkey"))
        y = layout.quantize16(F.floor(F.col("o_totalprice")))
        layout.zorder_stage(batch_df, x, y, file_bits=4).write.mode(
            "append"
        ).partitionBy("zfile").parquet(out)

    run_foreach_batch(sdf, write_batch, "zingest")

    back = spark.read.parquet(out)
    # no loss, no duplication across the three appends
    assert back.count() == orders.count()
    assert (
        back.select("o_orderkey").distinct().count()
        == orders.select("o_orderkey").distinct().count()
    )
    # >1 file in at least one cell (real appends), and EVERY file's
    # y16 footer range is a subset of its cell's z-range bounds
    files = glob.glob(out + "/**/*.parquet", recursive=True)
    cells = {}
    for p in files:
        cell = int(p.split("zfile=")[1].split("/")[0])
        cells.setdefault(cell, []).append(p)
    assert any(len(v) > 1 for v in cells.values())
    for cell, paths in cells.items():
        # cell id = top 8 interleaved bits; its y bits are the odd
        # positions of the 8 -> y16 high-4-bit window
        y_hi = 0
        for b in range(4):
            y_hi |= ((cell >> (2 * b + 1)) & 1) << b
        lo, hi = y_hi << 12, (y_hi << 12) + 4095
        for p in paths:
            # y16 = floor(price) & 0xFFFF; check via recompute instead
            # of footer stats (price wraps the 16-bit window, so raw
            # price min/max are not cell-bounded) — read the file
            pdf = pq.ParquetFile(p).read(columns=["o_totalprice"])
            ys = [int(v) & 0xFFFF for v in pdf["o_totalprice"].to_pylist()]
            assert all(lo <= yv <= hi for yv in ys), (cell, p)


def test_stream_scd1_upsert_multibatch_equals_batch(spark, sf_smoke, tmp_path):
    """q213's contract under REAL multi-commit ingest: events split in
    three files, one per trigger — each commit merges into a new
    versioned snapshot; the final snapshot must equal the batch rollup
    (count, max ts, value-at-max-ts per user) exactly, and the commit
    log must hold one version per non-empty micro-batch. Also asserts
    the (user_id, ts) uniqueness the latest-value tie-break relies on.
    Drives the SHIPPED scd1_upsert_stream (one code home)."""
    import glob

    from kstreamjs_spark.queries.streaming_q import scd1_upsert_stream

    events = spark.read.parquet(f"{sf_smoke}/events.parquet")
    assert (
        events.groupBy("user_id", "ts").count()
        .filter(F.col("count") > 1).count() == 0
    )
    sdf = stage_triggers(
        spark, str(tmp_path / "ev_stream"),
        events.randomSplit([1.0, 1.0, 1.0], seed=11),
    )
    table_root = str(tmp_path / "dim_user")
    got = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_value"])
        for r in scd1_upsert_stream(sdf, table_root).collect()
    }
    expected = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_value"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.max_by("value", "ts").alias("last_value"),
        )
        .collect()
    }
    assert got == expected
    # one manifest per non-empty micro-batch; storage holds exactly one
    # live copy per bucket (retention pruned the superseded copies)
    manifests = sorted(glob.glob(table_root + "/_manifest/v*.json"))
    assert len(manifests) == 3
    import json

    with open(manifests[-1]) as fh:
        man = json.load(fh)
    assert man["version"] == 2
    live_bucket_dirs = sorted(glob.glob(table_root + "/commit_v*/pbucket=*"))
    assert len(live_bucket_dirs) == len(man["bucket_commit"])


@pytest.mark.slow
def test_stream_scd1_schema_evolution_mixed_manifest(spark, tmp_path):
    """q213d's mechanics, pinned on a hand-built 3-trigger schedule
    that straddles the evolution boundary (T = Jan 15):

    - trigger 0 is entirely pre-T -> commit_v0's parquet files
      physically LACK sum_value (v1 schema — real evolution, not a
      pre-created NULL column);
    - trigger 1 crosses T -> every later commit writes v2;
    - users 0..7 never appear post-T, so their buckets stay v1 while
      the manifest advances — the final manifest references BOTH v1
      and v2 copies and the spanning read default-fills 0.0;
    - AS-OF version 0 (pre-evolution manifest) through
      scd1_read_as_of(extra_cols=...) returns the latest schema with
      the default for every row;
    - the final table equals the closed-form since-T rollup."""
    import glob

    from kstreamjs_spark.queries.streaming_q import (
        scd1_read_as_of,
        scd1_upsert_stream,
    )

    T = "2024-01-15 00:00:00"

    def ev(u, day, hour, val):
        return (u, f"2024-01-{day:02d} {hour:02d}:00:00", float(val))

    batches = [
        # trigger 0: all pre-T; users 0..9 get two events each
        [ev(u, 2, u, 1.0 + u) for u in range(10)]
        + [ev(u, 10, u, 2.0 + u) for u in range(10)],
        # trigger 1: crosses T (u8 pre-T + post-T, u9 post-T)
        [ev(8, 14, 23, 5.0), ev(8, 15, 1, 7.0), ev(9, 20, 0, 11.0)],
        # trigger 2: post-T only; u11 is a post-evolution new user
        [ev(9, 25, 0, 13.0), ev(11, 26, 0, 17.0)],
    ]
    sdf = stage_triggers(spark, str(tmp_path / "evo_src"), [
        spark.createDataFrame(
            rows, "user_id long, ts_s string, value double"
        ).select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "value",
        )
        for rows in batches
    ])
    root_t = str(tmp_path / "dim_evo")
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 4))
        for r in scd1_upsert_stream(
            sdf, root_t, evolve_sum_from=T, retain_commits=3
        ).collect()
    }
    want = {u: (2, 0.0) for u in range(8)}
    want[8] = (4, 7.0)
    want[9] = (4, 24.0)
    want[11] = (1, 17.0)
    assert got == want

    # v1 commit files really lack the column; v2 commits carry it
    v0_cols = spark.read.parquet(
        glob.glob(root_t + "/commit_v0/pbucket=*")[0]
    ).columns
    assert "sum_value" not in v0_cols
    v2_cols = spark.read.parquet(
        glob.glob(root_t + "/commit_v2/pbucket=*")[0]
    ).columns
    assert "sum_value" in v2_cols

    # the FINAL manifest spans the boundary: some live copies are v1
    import json as _json

    with open(root_t + "/_manifest/v2.json") as fh:
        man = _json.load(fh)
    live_commits = set(man["bucket_commit"].values())
    assert 0 in live_commits and 2 in live_commits

    # AS-OF the pre-evolution version: latest schema, default-filled
    as_of0 = scd1_read_as_of(
        spark, root_t, version=0, extra_cols={"sum_value": 0.0}
    ).collect()
    assert {r["user_id"] for r in as_of0} == set(range(10))
    assert all(r["sum_value"] == 0.0 for r in as_of0)
    assert all(r["n_events"] == 2 for r in as_of0)


@pytest.mark.slow
def test_stream_scd1_merge_prunes_untouched_buckets(spark, tmp_path):
    """The MERGE contract: a commit whose batch touches ONE
    key must rewrite only that key's bucket — every other bucket's
    files stay byte-identical (same paths, same bytes: never opened,
    copied, or rewritten) — and the superseded copy of the touched
    bucket is pruned. Drives the SHIPPED scd1_upsert_stream."""
    import glob
    import json

    from kstreamjs_spark.queries.streaming_q import scd1_upsert_stream

    # batch 0: a wide spread of keys (populates many buckets);
    # batch 1: a single key -> exactly one touched bucket
    rows0 = [(u, float(u), u * 1000) for u in range(1, 41)]
    rows1 = [(7, 99.5, 777000)]
    sdf = stage_triggers(spark, str(tmp_path / "src"), [
        spark.createDataFrame(rows, "user_id long, value double, ts long")
        .withColumn("ts", F.timestamp_millis("ts"))
        for rows in (rows0, rows1)
    ])
    table_root = str(tmp_path / "dim")
    final = {
        r["user_id"]: (r["n_events"], r["last_value"])
        for r in scd1_upsert_stream(sdf, table_root, n_buckets=8)
        .collect()
    }
    # correctness of the merge itself
    assert final[7] == (2, 99.5)
    assert final[3] == (1, 3.0)
    assert len(final) == 40

    manifests = sorted(
        glob.glob(table_root + "/_manifest/v*.json"),
        key=lambda p: int(p.rsplit("v", 1)[1].split(".")[0]),
    )
    assert len(manifests) == 2
    with open(manifests[0]) as fh:
        man0 = json.load(fh)
    with open(manifests[1]) as fh:
        man1 = json.load(fh)
    # commit 1 touched exactly ONE bucket (user 7's); every other
    # bucket still points at its commit-0 copy
    moved = {
        b for b in man1["bucket_commit"]
        if man1["bucket_commit"][b] != man0["bucket_commit"].get(b)
    }
    assert len(moved) == 1
    untouched = set(man0["bucket_commit"]) - moved
    assert untouched  # the spread populated >1 bucket
    # commit_v1 wrote ONLY the moved bucket's partition dir
    v1_dirs = {
        os.path.basename(p)
        for p in glob.glob(table_root + "/commit_v1/pbucket=*")
    }
    assert v1_dirs == {f"pbucket={b}" for b in moved}
    # untouched buckets' commit-0 files still exist AND were never
    # rewritten: the v0 manifest was written after commit 0's data and
    # before commit 1 started, so every surviving commit-0 data file
    # carrying an mtime <= the v0 manifest's is byte-untouched by
    # commit 1 (any rewrite would stamp a later mtime)
    v0_manifest_mtime = os.stat(manifests[0]).st_mtime_ns
    for b in untouched:
        files = glob.glob(table_root + f"/commit_v0/pbucket={b}/*.parquet")
        assert files, f"bucket {b} commit-0 copy missing"
        for f in files:
            assert os.stat(f).st_mtime_ns <= v0_manifest_mtime, (
                f"untouched bucket file {f} was modified after commit 0"
            )
    # retention: the superseded commit-0 copy of the MOVED bucket is
    # pruned (one live copy per bucket)
    for b in moved:
        assert not os.path.exists(table_root + f"/commit_v0/pbucket={b}")


@pytest.mark.slow
def test_stream_scd1_changelog_ledger_across_commits(
    spark, sf_smoke, tmp_path
):
    """q213b's multi-commit contract on a 3-trigger replay: the
    changelog is a consistent ledger — (a) per user the commit deltas
    (n_after - n_before) sum to the final dimension count, (b) each
    row's n_before equals the SAME user's n_after from their previous
    changelog row (0 on first appearance), (c) the latest row per user
    equals the dimension table exactly."""
    import glob as _glob

    from kstreamjs_spark.queries.streaming_q import scd1_upsert_stream

    events = spark.read.parquet(f"{sf_smoke}/events.parquet")
    sdf = stage_triggers(
        spark, str(tmp_path / "ev"),
        events.randomSplit([1.0, 1.0, 1.0], seed=23),
    )
    table_root = str(tmp_path / "dim")
    dim = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_value"])
        for r in scd1_upsert_stream(
            sdf, table_root, changelog=True
        ).collect()
    }
    assert len(_glob.glob(table_root + "/_changelog/c*")) == 3
    log = sorted(
        (
            (r["user_id"], r["commit"], r["n_before"], r["n_after"],
             r["last_ts_after"], r["last_value_after"])
            for r in spark.read.parquet(
                table_root + "/_changelog/c*"
            ).collect()
        ),
    )
    by_user: dict = {}
    for u, c, nb, na, lt, lv in log:
        by_user.setdefault(u, []).append((c, nb, na, lt, lv))
    assert set(by_user) == set(dim)
    for u, rows in by_user.items():
        rows.sort()
        # (b) n_before chains to the previous commit's n_after
        prev_after = 0
        for _c, nb, na, _lt, _lv in rows:
            assert nb == prev_after, (u, rows)
            assert na > nb  # the commit carried >=1 event for u
            prev_after = na
        # (a) deltas sum to the final count == (c) latest equals dim
        assert prev_after == dim[u][0], (u, rows)
        assert (rows[-1][3], rows[-1][4]) == (dim[u][1], dim[u][2])


@pytest.mark.slow
def test_stream_scd1_time_travel_within_vacuum_horizon(
    spark, sf_smoke, tmp_path
):
    """q213c's multi-commit contract on a 3-trigger replay with
    retain_commits=1: (a) AS OF each RETAINED version reproduces the
    exact prefix rollup (events from the batches up to that commit),
    (b) the version beyond the horizon is VACUUMed — its superseded
    bucket copies are physically gone and the as-of read fails, by
    design, (c) the default reader (newest manifest) equals the full
    rollup."""

    from kstreamjs_spark.queries.streaming_q import (
        scd1_read_as_of,
        scd1_upsert_stream,
    )

    events = spark.read.parquet(f"{sf_smoke}/events.parquet")
    parts = events.randomSplit([1.0, 1.0, 1.0], seed=31)
    sdf = stage_triggers(spark, str(tmp_path / "ev"), parts)
    table_root = str(tmp_path / "dim")
    scd1_upsert_stream(sdf, table_root, retain_commits=1)

    def rollup(df):
        return {
            r["user_id"]: (r["n_events"], r["last_ts"], r["last_value"])
            for r in df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.max("ts").alias("last_ts"),
                F.max_by("value", "ts").alias("last_value"),
            )
            .collect()
        }

    def as_of(v):
        return {
            r["user_id"]: (r["n_events"], r["last_ts"], r["last_value"])
            for r in scd1_read_as_of(spark, table_root, v).collect()
        }

    # (a) retained versions 1 and 2 reproduce their prefix rollups
    prefix2 = rollup(parts[0].unionByName(parts[1]))
    full = rollup(events)
    assert as_of(1) == prefix2
    assert as_of(2) == full
    # (c) default = newest
    assert as_of(None) == full
    # (b) version 0 is past the horizon (superseded at v1, pruned once
    # the table reached v2 = 1 + retain_commits): the read must fail on
    # missing files — time travel degrades exactly at the VACUUM edge
    with pytest.raises(Exception):
        as_of(0)


def test_stream_scd1_empty_source_raises(spark, tmp_path):
    """Zero micro-batches -> a clear error, not a
    path-not-found on a v-1 read."""

    from kstreamjs_spark.queries.streaming_q import scd1_upsert_stream

    src = str(tmp_path / "empty_src")
    os.makedirs(src, exist_ok=True)
    sdf = (
        spark.readStream
        .schema("user_id long, value double, ts timestamp")
        .parquet(src + "/*")
    )
    with pytest.raises(ValueError, match="zero micro-batches"):
        scd1_upsert_stream(sdf, str(tmp_path / "dim_empty"))


@pytest.mark.slow
def test_bucket_pair_stream_pairs_only_within_buckets(spark, tmp_path):
    """60 distinct (band, bsig) buckets, delivered across two
    interleaved triggers with ids in descending order: the emitted pair
    set equals the per-bucket batch expectation EXACTLY, so pairs form
    only within one bucket, never across buckets that share a band or
    a bsig."""
    import itertools

    from kstreamjs_spark.queries.streaming_q import bucket_pair_stream

    # 60 buckets: bucket j holds ids {j*10 .. j*10 + (j % 4)} — sizes
    # 1..4 so some buckets emit nothing, some emit many
    rows, want = [], set()
    for j in range(60):
        ids = [j * 10 + m for m in range(j % 4 + 1)]
        rows += [(i, j % 5, f"s{j}") for i in ids]
        want |= set(itertools.combinations(ids, 2))
    # two triggers, descending-id interleave: odd-index rows first
    rows_desc = sorted(rows, reverse=True)
    batches = [rows_desc[0::2], rows_desc[1::2]]

    sdf = stage_triggers(
        spark, str(tmp_path / "src"), batches,
        "doc_id long, band int, bsig string",
    )
    got = {
        (r["d1"], r["d2"])
        for r in run_to_memory(
            bucket_pair_stream(sdf), "bucket_pairs", output_mode="append"
        ).collect()
    }
    assert got == want


@pytest.mark.slow
def test_stream_ingest_compacted_bounds_files_and_loses_nothing(
    spark, sf_smoke, tmp_path
):
    """q215b's contract under REAL multi-trigger ingest: orders split
    in three files, one per trigger — each commit appends z-staged
    rows AND compacts inline; afterwards (a) every cell holds at most
    max_files files (the bounded steady-state q211b alone cannot
    give), (b) the re-read table equals the source exactly (count +
    quantized price sum per cell vs a batch z-stage over the whole
    table). Drives the SHIPPED stream_ingest_compacted."""
    import glob as _glob

    from kstreamjs_spark.queries.streaming_q import (
        stream_ingest_compacted,
    )

    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    sdf = stage_triggers(
        spark, str(tmp_path / "orders_stream"),
        orders.randomSplit([1.0, 1.0, 1.0], seed=5),
    )
    out = str(tmp_path / "tbl")
    manifest = {
        r["zfile"]: (r["n_rows"], r["sum_price_c"])
        for r in stream_ingest_compacted(spark, sdf, out).collect()
    }
    # (a) bounded files per cell after the final inline compaction
    per_cell: dict[str, int] = {}
    for f in _glob.glob(out + "/zfile=*/*.parquet"):
        cell = os.path.basename(os.path.dirname(f))
        per_cell[cell] = per_cell.get(cell, 0) + 1
    assert per_cell and max(per_cell.values()) <= 1, per_cell
    # (b) nothing lost or duplicated vs the batch z-stage
    from kstreamjs_spark.operators import layout

    x = layout.quantize16(F.col("o_custkey"))
    y = layout.quantize16(F.floor(F.col("o_totalprice")))
    expected = {
        r["zfile"]: (r["n"], r["s"])
        for r in layout.zorder_stage(orders, x, y, file_bits=4)
        .groupBy(F.col("zfile").cast("long").alias("zfile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("s"),
        )
        .collect()
    }
    assert manifest == expected


@pytest.mark.slow
def test_stream_embedding_neardup_equals_batch_any_schedule(spark, tmp_path):
    """q214b's contract: the streamed VERIFIED embedding pair set
    (bucket_pair_stream over SRP bands + in-stream exact cosine)
    equals batch cosine_neardup_pairs_lsh exactly for any micro-batch
    schedule, including descending-id delivery. Drives the SHIPPED
    cosine_verified_stream."""
    import numpy as np

    from kstreamjs_spark.operators.similarity import cosine_neardup_pairs_lsh
    from kstreamjs_spark.queries.streaming_q import cosine_verified_stream

    rng = np.random.RandomState(3)
    base = rng.standard_normal(64)
    rows = []
    for i in range(8):
        if i % 2 == 1:
            # odd ids: small perturbation of the previous even id ->
            # high-cosine near-dup pairs (i-1, i)
            v = base * (i // 2 + 1) + rng.standard_normal(64) * 0.05
        else:
            base = rng.standard_normal(64)
            v = base * (i // 2 + 1)
        rows.append((i, [float(x) for x in v]))
    bdf = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    expected = {
        (r["v1"], r["v2"], r["score"])
        for r in cosine_neardup_pairs_lsh(bdf, threshold=0.4).collect()
    }
    assert expected, "fixture must produce verified near-dup pairs"

    d = str(tmp_path / "emb_in")
    for tag, chunks in (
        ("a", [rows[0:3], rows[3:6], rows[6:8]]),
        ("c", [rows[6:8], rows[3:6], rows[0:3]]),  # descending ids
    ):
        sdf = stage_triggers(
            spark, f"{d}/{tag}", chunks, "vec_id long, embedding array<float>"
        )
        verified = cosine_verified_stream(sdf, bdf, threshold=0.4)
        got = {
            (r["v1"], r["v2"], r["score"])
            for r in run_to_memory(
                verified, f"emb_{tag}", output_mode="append"
            ).distinct().collect()
        }
        assert got == expected, (tag, got, expected)


@pytest.mark.slow
def test_scd1_concurrent_writers_optimistic_commit(spark, tmp_path):
    """The multi-writer story: two INDEPENDENT writers against one SCD1 table root,
    coordinated only through the manifest dir. Pins, by hand-built
    interleave:

    - DISJOINT race: B prepares against v0, C commits v1 touching
      other buckets, B publishes -> succeeds at v2 by REBASING onto
      C's map; nothing C wrote is lost (the lost-update anomaly the
      protocol exists to prevent);
    - OVERLAPPING race: D prepares, E commits the same bucket first,
      D's publish raises ConcurrentWriteConflict (stale merge is
      NEVER published); D's recompute (scd1_commit_batch) then lands
      cleanly;
    - the final table equals the batch rollup over every committed
      row, and every manifest version is readable (as-of chain)."""
    from kstreamjs_spark.queries.streaming_q import (
        ConcurrentWriteConflict,
        _scd1_prepare,
        _scd1_publish,
        _scd1_snapshot,
        scd1_commit_batch,
        scd1_read_as_of,
    )

    n_buckets = 4
    # derive each user's bucket with the SAME hash the writer uses
    buckets = {
        r["u"]: r["b"]
        for r in spark.range(40)
        .select(
            F.col("id").alias("u"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets))
            .cast("int")
            .alias("b"),
        )
        .collect()
    }
    by_bucket: dict[int, list[int]] = {}
    for u, b in buckets.items():
        by_bucket.setdefault(b, []).append(u)
    b0, b1, b2, b3 = (sorted(by_bucket[b])[0] for b in range(4))

    def batch(rows):
        return spark.createDataFrame(
            [(u, f"2024-01-{d:02d} 00:00:00", v) for u, d, v in rows],
            "user_id long, ts_s string, value double",
        ).select(
            "user_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            "value",
        )

    root = str(tmp_path / "dim_cc")
    committed = []

    def commit(rows):
        committed.extend(rows)
        return scd1_commit_batch(
            spark, root, batch(rows), n_buckets=n_buckets
        )

    # base commit: one user in every bucket
    assert commit([(b0, 1, 1.0), (b1, 1, 2.0),
                   (b2, 1, 3.0), (b3, 1, 4.0)]) == 0

    # --- disjoint race: B (bucket of b0) vs C (bucket of b1)
    snap = _scd1_snapshot(root)
    rows_b = [(b0, 2, 10.0)]
    pend_b = _scd1_prepare(
        spark, root, snap, batch(rows_b), n_buckets=n_buckets
    )
    assert commit([(b1, 2, 20.0)]) == 1  # C wins v1 meanwhile
    committed.extend(rows_b)
    assert _scd1_publish(root, pend_b) == 2  # B rebases onto v1

    # --- overlapping race: D vs E, both touching b2's bucket
    snap = _scd1_snapshot(root)
    pend_d = _scd1_prepare(
        spark, root, snap, batch([(b2, 2, 30.0)]), n_buckets=n_buckets
    )
    assert commit([(b2, 3, 40.0)]) == 3  # E wins v3, same bucket
    with pytest.raises(ConcurrentWriteConflict):
        _scd1_publish(root, pend_d)
    # D recomputes from a fresh snapshot and lands
    assert commit([(b2, 2, 30.0)]) == 4

    # --- nothing lost anywhere: final table == batch rollup
    got = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_value"])
        for r in scd1_read_as_of(spark, root).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["last_ts"], r["last_value"])
        for r in batch(committed)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.max_by("value", "ts").alias("last_value"),
        )
        .collect()
    }
    assert got == want
    # every version in the chain stays readable (fully-linked
    # manifests only — no torn intermediate state was ever visible)
    for v in range(5):
        assert scd1_read_as_of(spark, root, version=v).count() > 0


@pytest.mark.slow
def test_scd1_concurrent_committer_refuses_evolved_tables(spark, tmp_path):
    """The concurrent batch committer merges
    the BASE schema only — rewriting an evolved bucket with a base
    copy would silently reset sum_value to the read-time default for
    every key in the bucket. It must refuse LOUDLY instead. Also pins
    _manifest_bucket_dir's key-presence semantics (an empty-but-
    present bucket_dir is an empty TABLE, not a missing key — the
    falsy-or form raised KeyError on concurrent-writer manifests)."""

    from kstreamjs_spark.queries.streaming_q import (
        _manifest_bucket_dir,
        scd1_commit_batch,
        scd1_upsert_stream,
    )

    assert _manifest_bucket_dir({"version": 0, "bucket_dir": {}}) == {}
    assert _manifest_bucket_dir(
        {"version": 0, "bucket_commit": {"3": 1}}
    ) == {"3": "commit_v1"}

    # build an EVOLVED table with the streaming writer
    rows = [(1, "2024-01-10 00:00:00", 1.0), (1, "2024-01-20 00:00:00", 2.0)]
    src = str(tmp_path / "evo_src")
    os.makedirs(src, exist_ok=True)
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, value double"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "value")
    df.coalesce(1).write.parquet(f"{src}/f0.parquet")
    sdf = (
        spark.readStream.schema(
            spark.read.parquet(f"{src}/f0.parquet").schema
        ).parquet(src + "/*")
    )
    root = str(tmp_path / "dim")
    scd1_upsert_stream(
        sdf, root, evolve_sum_from="2024-01-15 00:00:00"
    ).collect()

    batch = spark.createDataFrame(
        [(1, "2024-01-25 00:00:00", 9.0)],
        "user_id long, ts_s string, value double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "value")
    with pytest.raises(ValueError, match="schema-evolved"):
        scd1_commit_batch(spark, root, batch)


def _scd1_batch(spark, rows):
    return spark.createDataFrame(
        [(u, f"2024-01-{d:02d} 00:00:00", v) for u, d, v in rows],
        "user_id long, ts_s string, value double",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )


def _scd1_bucket_users(spark, n_buckets, n=40):
    """user -> bucket with the writer's own hash; smallest user per
    bucket, sorted by bucket."""
    rows = (
        spark.range(n)
        .select(
            F.col("id").alias("u"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_buckets))
            .cast("int")
            .alias("b"),
        )
        .collect()
    )
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r["b"], []).append(r["u"])
    return [sorted(by_bucket[b])[0] for b in range(n_buckets)]


def _data_file_stats(root):
    """(relpath -> (size, mtime_ns)) of every parquet under a data dir
    (commit_*), excluding delete dirs and manifests."""
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if not rel.startswith("commit_"):
            continue
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out[f"{rel}/{f}"] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.mark.slow
def test_scd1_delete_vectors_merge_on_read(spark, tmp_path):
    """q220's core merge-on-read contract. Pins:
    (a) DELETE rewrites NO data file (every parquet byte-identical by
        size+mtime), only a key-list dir + manifest appear;
    (b) delete dirs exist for exactly the matched buckets;
    (c) the latest read hides the deleted keys, an AS-OF read BEFORE
        the delete still sees them (delete commits prune nothing);
    (d) re-running the same DELETE is a version-preserving no-op (the
        matched set is empty against the already-deleted view)."""
    import os

    from kstreamjs_spark.queries.streaming_q import (
        scd1_commit_batch,
        scd1_delete_where,
        scd1_read_as_of,
    )

    n_buckets = 4
    u0, u1, u2, u3 = _scd1_bucket_users(spark, n_buckets)
    root = str(tmp_path / "dim_dv")
    # one user per bucket; two of them with low values
    assert scd1_commit_batch(
        spark, root,
        _scd1_batch(spark, [(u0, 1, 5.0), (u1, 1, 50.0),
                            (u2, 2, 7.0), (u3, 2, 70.0)]),
        n_buckets=n_buckets,
    ) == 0
    before = _data_file_stats(root)

    v = scd1_delete_where(
        spark, root, "last.value < 10.0", n_buckets=n_buckets
    )
    assert v == 1
    # (a) no data file opened for write
    assert _data_file_stats(root) == before
    # (b) exactly the matched buckets carry a delete dir
    ddirs = [d for d in os.listdir(root) if d.startswith("delete_d")]
    assert len(ddirs) == 1
    parts = sorted(os.listdir(os.path.join(root, ddirs[0])))
    want_buckets = sorted(
        {f"pbucket={b}" for b, u in enumerate([u0, u1, u2, u3])
         if u in (u0, u2)}
    )
    assert [p for p in parts if p.startswith("pbucket=")] == want_buckets
    # (c) latest hides them; AS-OF v0 still sees them
    assert {
        r["user_id"] for r in scd1_read_as_of(spark, root).collect()
    } == {u1, u3}
    assert {
        r["user_id"]
        for r in scd1_read_as_of(spark, root, version=0).collect()
    } == {u0, u1, u2, u3}
    # (d) idempotent no-op
    assert scd1_delete_where(
        spark, root, "last.value < 10.0", n_buckets=n_buckets
    ) == 1
    assert _data_file_stats(root) == before


@pytest.mark.slow
def test_scd1_delete_then_writer_applies_and_resurrects(spark, tmp_path):
    """q220's MERGE interplay. After a DELETE, a batch commit touching
    a deleted bucket (1) applies the pending delete during its rewrite
    and drops that bucket's manifest entry, (2) re-creates a
    re-inserted key from the NEW events alone (DELETE erases history),
    and (3) leaves the other bucket's delete entry pending and still
    applied at read time."""
    import json
    import os

    from kstreamjs_spark.queries.streaming_q import (
        scd1_commit_batch,
        scd1_delete_where,
        scd1_read_as_of,
    )

    n_buckets = 4
    u0, u1, u2, u3 = _scd1_bucket_users(spark, n_buckets)
    root = str(tmp_path / "dim_dvm")
    scd1_commit_batch(
        spark, root,
        _scd1_batch(spark, [(u0, 1, 5.0), (u0, 2, 6.0), (u2, 1, 7.0),
                            (u1, 1, 50.0)]),
        n_buckets=n_buckets,
    )
    scd1_delete_where(spark, root, "last.value < 10.0",
                      n_buckets=n_buckets)  # deletes u0, u2
    # re-insert u0 (bucket 0): the rewrite applies bucket 0's delete
    v = scd1_commit_batch(
        spark, root, _scd1_batch(spark, [(u0, 9, 99.0)]),
        n_buckets=n_buckets,
    )
    with open(os.path.join(root, "_manifest", f"v{v}.json")) as fh:
        man = json.load(fh)
    assert "0" not in man["delete_files"]          # applied + dropped
    assert list(man["delete_files"]) == ["2"]      # u2's still pending
    got = {
        r["user_id"]: (r["n_events"], r["last_value"])
        for r in scd1_read_as_of(spark, root).collect()
    }
    # u0 resurrected from the NEW batch alone (1 event, not 3)
    assert got == {u0: (1, 99.0), u1: (1, 50.0)}


def test_scd1_purge_deletes_materializes(spark, tmp_path):
    """q220's OPTIMIZE: `scd1_purge_deletes` rewrites exactly the
    buckets carrying delete files; the visible table is unchanged, the
    manifest's delete list empties, untouched buckets' data files stay
    byte-identical, and a second purge is a version-preserving
    no-op."""
    import json
    import os

    from kstreamjs_spark.queries.streaming_q import (
        scd1_commit_batch,
        scd1_delete_where,
        scd1_purge_deletes,
        scd1_read_as_of,
    )

    n_buckets = 4
    u0, u1, u2, u3 = _scd1_bucket_users(spark, n_buckets)
    root = str(tmp_path / "dim_dvp")
    scd1_commit_batch(
        spark, root,
        _scd1_batch(spark, [(u0, 1, 5.0), (u1, 1, 50.0),
                            (u2, 2, 7.0), (u3, 2, 70.0)]),
        n_buckets=n_buckets,
    )
    scd1_delete_where(spark, root, "last.value < 10.0",
                      n_buckets=n_buckets)
    visible = sorted(
        (r["user_id"], r["n_events"], r["last_value"])
        for r in scd1_read_as_of(spark, root).collect()
    )
    before = _data_file_stats(root)
    untouched = {
        k: v for k, v in before.items()
        if "pbucket=1" in k or "pbucket=3" in k
    }

    v = scd1_purge_deletes(spark, root, n_buckets=n_buckets)
    with open(os.path.join(root, "_manifest", f"v{v}.json")) as fh:
        man = json.load(fh)
    assert man["delete_files"] == {}
    after = _data_file_stats(root)
    for k, st in untouched.items():              # untouched: identical
        assert after[k] == st, k
    got = sorted(
        (r["user_id"], r["n_events"], r["last_value"])
        for r in scd1_read_as_of(spark, root).collect()
    )
    assert got == visible
    assert scd1_purge_deletes(spark, root, n_buckets=n_buckets) == v


@pytest.mark.slow
def test_scd1_delete_concurrent_overlap_conflicts(spark, tmp_path):
    """q220's concurrency rule, both directions: a MERGE prepared
    before a DELETE landed on the same bucket must conflict at publish
    (its inputs predate the delete — publishing would resurrect the
    deleted keys AND silently drop the delete entry), while a merge on
    a DISJOINT bucket rebases over the delete and PRESERVES its
    manifest entry."""
    import json
    import os


    from kstreamjs_spark.queries.streaming_q import (
        ConcurrentWriteConflict,
        _scd1_prepare,
        _scd1_publish,
        _scd1_snapshot,
        scd1_commit_batch,
        scd1_delete_where,
    )

    n_buckets = 4
    u0, u1, u2, u3 = _scd1_bucket_users(spark, n_buckets)
    root = str(tmp_path / "dim_dvc")
    scd1_commit_batch(
        spark, root,
        _scd1_batch(spark, [(u0, 1, 5.0), (u1, 1, 50.0)]),
        n_buckets=n_buckets,
    )
    # overlapping: merge of u0's bucket prepared BEFORE the delete
    snap = _scd1_snapshot(root)
    stale = _scd1_prepare(
        spark, root, snap, _scd1_batch(spark, [(u0, 3, 30.0)]),
        n_buckets=n_buckets,
    )
    assert scd1_delete_where(
        spark, root, "last.value < 10.0", n_buckets=n_buckets
    ) == 1
    with pytest.raises(ConcurrentWriteConflict):
        _scd1_publish(root, stale)
    # disjoint: merge of u1's bucket prepared before the SAME kind of
    # race rebases fine and carries the delete entry forward
    snap2 = _scd1_snapshot(root)
    assert snap2["delete_files"]
    v = scd1_commit_batch(
        spark, root, _scd1_batch(spark, [(u1, 4, 40.0)]),
        n_buckets=n_buckets,
    )
    with open(os.path.join(root, "_manifest", f"v{v}.json")) as fh:
        man = json.load(fh)
    assert man["delete_files"] == {
        b: v2 for b, v2 in snap2["delete_files"].items()
    }


@pytest.mark.slow
def test_stream_knn_graph_insert_planted_manifold(spark, tmp_path):
    """q219b's search-then-link insert on the planted 4-cluster
    manifold (q218's fixture family): seed = first half, stream = full
    table in 2 triggers. Pins (a) every inserted node's final
    neighbors stay inside its own cluster (orthogonal centers — one
    leak tanks it), (b) every node ends with out-degree <= k and >= 1,
    (c) already-indexed seed ids are NOT re-inserted (idempotency
    anti-join: their edge set is a valid k-NN cut, not duplicated),
    and (d) inserted-half recall vs the exact graph >= 0.9."""
    import os

    import numpy as np

    from kstreamjs_spark.operators import similarity
    from kstreamjs_spark.queries.streaming_q import (
        knn_graph_insert_stream,
    )

    rng = np.random.RandomState(7)
    centers = np.eye(4, 8) * 10.0
    n = 48
    base = centers[np.arange(n) % 4] + rng.standard_normal((n, 8)) * 0.05
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    sdf = stage_triggers(spark, str(tmp_path / "vec_src"), [
        df.filter(F.col("vec_id") < 36), df.filter(F.col("vec_id") >= 36)
    ])
    seed = df.filter(F.col("vec_id") < 24)
    g = knn_graph_insert_stream(sdf, seed, k=3, refine_rounds=2)
    rows = g.collect()
    deg: dict = {}
    for r in rows:
        assert r["src"] % 4 == r["dst"] % 4, r      # (a) no leaks
        deg[r["src"]] = deg.get(r["src"], 0) + 1
    assert set(deg) == set(range(n))                # every node present
    assert all(1 <= d <= 3 for d in deg.values())   # (b) degree cap
    qall = df.select(
        F.col("vec_id").alias("qid"),
        similarity.as_double("embedding").alias("qv"),
    )
    ex = {
        (r["qid"], r["vec_id"])
        for r in similarity.knn_join(df, qall, k=3).collect()
    }
    exh = {(a, b) for a, b in ex if a >= 24}
    aph = {(r["src"], r["dst"]) for r in rows if r["src"] >= 24}
    assert len(exh & aph) / len(exh) >= 0.9         # (d)


def test_scd1_rebucket_moves_every_key_once(spark, tmp_path):
    """q225's rebucket contract: after 4 -> 8 rebucket, (a) every key
    appears exactly once, under its mod-8 bucket dir; (b) the rollup
    is unchanged; (c) the manifest records the new spec with no
    delete entries; (d) pre-rebucket versions still resolve (spec
    change prunes nothing); (e) a pending equality-delete is applied
    by the rewrite."""
    import json
    import os

    from kstreamjs_spark.queries.streaming_q import (
        scd1_commit_batch,
        scd1_delete_where,
        scd1_read_as_of,
        scd1_rebucket,
    )

    n0 = 4
    root = str(tmp_path / "dim_rb")
    scd1_commit_batch(
        spark, root,
        _scd1_batch(spark, [(u, 1 + u % 3, float(u)) for u in range(20)]),
        n_buckets=n0,
    )
    scd1_delete_where(spark, root, "user_id = 7", n_buckets=n0)
    before = sorted(
        (r["user_id"], r["n_events"], r["last_value"])
        for r in scd1_read_as_of(spark, root).collect()
    )
    v = scd1_rebucket(spark, root, 8)
    with open(os.path.join(root, "_manifest", f"v{v}.json")) as fh:
        man = json.load(fh)
    assert man["n_buckets"] == 8 and man["delete_files"] == {}
    after = sorted(
        (r["user_id"], r["n_events"], r["last_value"])
        for r in scd1_read_as_of(spark, root).collect()
    )
    assert after == before                       # (b) + (e): 7 stays gone
    assert all(u != 7 for u, _n, _v in after)
    # (a) physical membership: each dir's keys hash to its bucket
    the_dir = set(man["bucket_dir"].values())
    assert len(the_dir) == 1
    dd = the_dir.pop()
    seen = []
    for b in man["bucket_dir"]:
        rows = spark.read.parquet(f"{root}/{dd}/pbucket={b}").select(
            "user_id",
            F.pmod(F.xxhash64("user_id"), F.lit(8)).cast("int").alias("h"),
        ).collect()
        for r in rows:
            assert r["h"] == int(b), (b, r)
            seen.append(r["user_id"])
    assert sorted(seen) == [u for u, _n, _v in after]
    # (d) time travel to the pre-rebucket version
    assert {
        r["user_id"]
        for r in scd1_read_as_of(spark, root, version=0).collect()
    } == set(range(20))


def test_scd1_spec_mismatch_raises(spark, tmp_path):
    """q225's hardening: a writer/deleter/purger whose n_buckets
    differs from the recorded spec fails LOUDLY instead of silently
    scattering keys across two specs' buckets."""

    from kstreamjs_spark.queries.streaming_q import (
        scd1_commit_batch,
        scd1_delete_where,
        scd1_purge_deletes,
    )

    root = str(tmp_path / "dim_spec")
    scd1_commit_batch(
        spark, root, _scd1_batch(spark, [(1, 1, 1.0)]), n_buckets=4
    )
    with pytest.raises(ValueError, match="bucket spec"):
        scd1_commit_batch(
            spark, root, _scd1_batch(spark, [(2, 1, 2.0)]), n_buckets=8
        )
    with pytest.raises(ValueError, match="bucket spec"):
        scd1_delete_where(spark, root, "user_id = 1", n_buckets=8)
    with pytest.raises(ValueError, match="bucket spec"):
        scd1_purge_deletes(spark, root, n_buckets=8)


def test_scd1_rebucket_conflicts_with_any_commit(spark, tmp_path):
    """q225's concurrency rule: a rebucket touches EVERY bucket, so a
    publish against a stale snapshot conflicts on ANY intervening
    commit (no disjoint rebase exists)."""

    from kstreamjs_spark.queries.streaming_q import (
        ConcurrentWriteConflict,
        _scd1_publish,
        _scd1_snapshot,
        scd1_commit_batch,
    )

    root = str(tmp_path / "dim_rbc")
    scd1_commit_batch(
        spark, root, _scd1_batch(spark, [(1, 1, 1.0)]), n_buckets=4
    )
    snap = _scd1_snapshot(root)
    scd1_commit_batch(
        spark, root, _scd1_batch(spark, [(2, 1, 2.0)]), n_buckets=4
    )
    with pytest.raises(ConcurrentWriteConflict):
        _scd1_publish(root, {
            "dir": "commit_wdeadbeef",
            "buckets": [0, 1],
            "read_version": snap["version"],
            "read_map": dict(snap["bucket_dir"]),
            "read_deletes": {},
            "kind": "rebucket",
            "n_buckets": 8,
        })


def test_scd1_reader_snapshot_isolated_across_rebucket(spark, tmp_path):
    """A reader that RESOLVED its manifest
    before a concurrent `scd1_rebucket` must keep a consistent
    old-spec view when it finally collects — never mixed specs,
    never a vanished-file error. Holds by construction (manifests
    are immutable, data dirs writer-unique, rebucket prunes
    nothing), pinned here: (a) a pre-rebucket lazy frame collected
    AFTER the swap equals the pre-rebucket rollup; (b) a reader
    resolving after the swap sees the new spec's identical rollup;
    (c) the pre-rebucket manifest still resolves explicitly."""
    from kstreamjs_spark.queries.streaming_q import (
        scd1_commit_batch,
        scd1_read_as_of,
        scd1_rebucket,
    )

    root = str(tmp_path / "dim_rbsnap")
    scd1_commit_batch(
        spark, root,
        _scd1_batch(spark, [(u, 1 + u % 2, float(u)) for u in range(12)]),
        n_buckets=4,
    )
    # reader resolves the manifest NOW (paths pinned to v0's files)...
    reader = scd1_read_as_of(spark, root)
    expect = sorted(
        (r["user_id"], r["n_events"], r["last_value"])
        for r in scd1_read_as_of(spark, root).collect()
    )
    # ...the swap lands...
    scd1_rebucket(spark, root, 8)
    # ...(a) and the pre-swap reader still sees its snapshot
    got = sorted(
        (r["user_id"], r["n_events"], r["last_value"])
        for r in reader.collect()
    )
    assert got == expect
    # (b) post-swap resolution: same rows under the new spec
    after = sorted(
        (r["user_id"], r["n_events"], r["last_value"])
        for r in scd1_read_as_of(spark, root).collect()
    )
    assert after == expect
    # (c) explicit AS-OF the pre-rebucket version
    asof0 = sorted(
        (r["user_id"], r["n_events"], r["last_value"])
        for r in scd1_read_as_of(spark, root, version=0).collect()
    )
    assert asof0 == expect


def test_scd1_empty_table_reads_and_rebuckets(spark, tmp_path):
    """Full-table deletion is a legal state. After
    every key is deleted and purged (bucket_dir empties), (a)
    `scd1_read_as_of` returns an EMPTY frame with the table schema
    instead of an opaque zero-path parquet error; (b)
    `scd1_rebucket` publishes the new spec on the empty table; (c)
    a later commit writes under the evolved spec and the table
    comes back."""
    import json
    import os

    from kstreamjs_spark.queries.streaming_q import (
        scd1_commit_batch,
        scd1_delete_where,
        scd1_purge_deletes,
        scd1_read_as_of,
        scd1_rebucket,
    )

    root = str(tmp_path / "dim_empty")
    scd1_commit_batch(
        spark, root,
        _scd1_batch(spark, [(u, 2, float(u)) for u in range(6)]),
        n_buckets=4,
    )
    scd1_delete_where(spark, root, "user_id >= 0", n_buckets=4)
    scd1_purge_deletes(spark, root, n_buckets=4)
    empty = scd1_read_as_of(spark, root)
    assert empty.count() == 0
    assert empty.columns == [
        "user_id", "n_events", "last_ts", "last_value",
    ]
    v = scd1_rebucket(spark, root, 8)
    with open(os.path.join(root, "_manifest", f"v{v}.json")) as fh:
        man = json.load(fh)
    assert man["n_buckets"] == 8 and man["bucket_dir"] == {}
    assert scd1_read_as_of(spark, root).count() == 0
    scd1_commit_batch(
        spark, root, _scd1_batch(spark, [(41, 1, 7.0)]), n_buckets=8
    )
    rows = scd1_read_as_of(spark, root).collect()
    assert [(r["user_id"], r["n_events"], r["last_value"])
            for r in rows] == [(41, 1, 7.0)]


@pytest.mark.slow
def test_stream_cdc_lww_tombstone_semantics(spark, tmp_path):
    """q226's CDC contract on a planted ledger, split across 2
    triggers BOTH ways: (a) a key whose latest record is a tombstone
    is absent; (b) a later upsert RESURRECTS it with the full record
    count (tombstones end visibility, they don't erase history); (c)
    the result is identical for either trigger split (order-invariant
    folds); (d) a never-deleted key is untouched."""
    import os

    rows = [
        # u1: upsert, delete, upsert  -> visible, n=3
        (1, "2024-01-01 00:00:00", "view", 10.0),
        (1, "2024-01-02 00:00:00", "error", 0.0),
        (1, "2024-01-03 00:00:00", "purchase", 30.0),
        # u2: upsert, upsert, delete  -> ABSENT
        (2, "2024-01-01 00:00:00", "view", 1.0),
        (2, "2024-01-02 00:00:00", "view", 2.0),
        (2, "2024-01-03 00:00:00", "error", 0.0),
        # u3: upserts only -> visible, n=2
        (3, "2024-01-01 00:00:00", "click", 5.0),
        (3, "2024-01-04 00:00:00", "click", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string, event_type string, value double"
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type", "value",
    )

    def run_split(cut_day):
        from kstreamjs_spark.streaming.replay import run_foreach_batch

        sdf = (
            stage_triggers(spark, str(tmp_path / f"cdc_{cut_day}"), [
                df.filter(F.dayofmonth("ts") <= cut_day),
                df.filter(F.dayofmonth("ts") > cut_day),
            ])
            .select(
                "user_id", "ts", "value",
                (F.col("event_type") == "error").alias("is_del"),
            )
        )
        state = {"df": None}

        def commit(b, _bid):
            delta = b.groupBy("user_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_records"),
                F.max(F.struct(
                    F.col("ts").alias("ts"),
                    F.col("is_del").alias("is_del"),
                    F.col("value").alias("value"),
                )).alias("last"),
            )
            state["df"] = (
                delta if state["df"] is None
                else state["df"].unionByName(delta)
                .groupBy("user_id")
                .agg(F.sum("n_records").cast("long").alias("n_records"),
                     F.max("last").alias("last"))
            ).localCheckpoint()

        run_foreach_batch(sdf, commit, "cdc_t")
        return sorted(
            (r["user_id"], r["n_records"], r["value"])
            for r in state["df"].filter(~F.col("last.is_del"))
            .select("user_id", "n_records", "last.value")
            .collect()
        )

    want = [(1, 3, 30.0), (3, 2, 7.0)]
    assert run_split(1) == want
    assert run_split(2) == want


@pytest.mark.slow
def test_stream_graph_ann_serve_equals_batch(spark, tmp_path):
    """q229's stateless-serving claim, pinned: the SAME query set
    split across 2 triggers (both split points) produces exactly the
    batch `graph_ann_topk` answer — the index is frozen, so the
    per-query result cannot depend on trigger grouping."""
    import os

    import numpy as np

    from kstreamjs_spark.operators import similarity
    from kstreamjs_spark.streaming.replay import run_foreach_batch

    rng = np.random.RandomState(3)
    n = 40
    vecs = rng.standard_normal((n, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    g = similarity.nn_descent(df, k=5, iters=3).drop("rn").localCheckpoint()
    vv = df.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("vec")
    ).localCheckpoint()
    qall = df.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    want = sorted(
        (r["qid"], r["node"], r["rn"])
        for r in similarity.graph_ann_topk(
            g, vv, qall, k=3, beam=8, hops=3, entry_mod=n
        ).collect()
    )

    def serve(cut):
        sdf = stage_triggers(spark, str(tmp_path / f"qsrc_{cut}"), [
            df.filter(F.col("vec_id") < cut),
            df.filter((F.col("vec_id") >= cut) & (F.col("vec_id") < 6)),
        ])
        acc = {"df": None}

        def commit(b, _bid):
            qs = b.select(
                F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qv"),
            ).dropDuplicates(["qid"])
            if qs.limit(1).count() == 0:
                return
            res = similarity.graph_ann_topk(
                g, vv, qs, k=3, beam=8, hops=3, entry_mod=n
            ).localCheckpoint()
            acc["df"] = (
                res if acc["df"] is None else acc["df"].unionByName(res)
            )

        run_foreach_batch(sdf, commit, "serve_t")
        return sorted(
            (r["qid"], r["node"], r["rn"]) for r in acc["df"].collect()
        )

    assert serve(2) == want
    assert serve(4) == want


@pytest.mark.slow
def test_stream_weighted_minhash_equals_batch(spark, sf_smoke):
    """q232b's hard contract: the streamed CWS-banded candidate set
    plus shared verify must equal batch q232 EXACTLY (the projection,
    the bucket emitter's schedule-invariance, and the one-home verify
    arithmetic compose to bit-identical outputs)."""
    from kstreamjs_spark.queries import all_queries

    q = all_queries()
    sfd = sf_smoke
    batch = sorted(
        tuple(r)
        for r in q["q232_weighted_minhash_neardup"].fn(spark, sfd).collect()
    )
    stream = sorted(
        tuple(r)
        for r in q["q232b_stream_weighted_minhash"].fn(spark, sfd).collect()
    )
    assert stream == batch
    assert batch  # non-vacuous: the smoke corpus has >= 1 pair


@pytest.mark.slow
def test_stream_chunk_dedup_schedule_invariance(spark, tmp_path):
    """q221b's contract: for ANY in-doc-order trigger
    split, the streamed chunk-dedup table equals batch q221 on the
    same corpus. Planted cases: within-doc repeat (doc 0), cross-doc
    repeat within one trigger (docs 0/1), cross-TRIGGER repeat (doc
    3 repeats doc 0's chunk), an all-repeat doc whose rebuilt_fp is
    the 0 sentinel (doc 4), and a unique doc (doc 2). Runs the 1-,
    2-, and 3-file splits; all must agree with batch."""
    import os

    from kstreamjs_spark.queries import all_queries
    from kstreamjs_spark.queries.streaming_q import chunk_dedup_stream

    w = 8  # _Q221_W

    def words(seed, n):
        # the repo fingerprint's token hash keys on (length, first
        # char, last char): seeds must differ in the FIRST char, and
        # tokens within a seed in the LAST, or planted chunks collide
        return " ".join(f"{seed}{i}" for i in range(n))

    a = words("a", w)          # chunk A
    b = words("b", w)          # chunk B
    u = words("u", w)          # unique chunk
    docs = [
        (0, f"{a} {a} {b}", "en", "s", 0),        # within-doc repeat of A
        (1, f"{b} {words('c', w)}", "en", "s", 0),  # B repeats cross-doc
        (2, u, "en", "s", 0),                      # untouched
        (3, f"{a} {words('d', 5)}", "en", "s", 0),  # A repeats cross-trigger
        (4, f"{a} {b}", "en", "s", 0),             # every chunk a repeat -> 0
    ]
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf = str(tmp_path / "sf_q221b")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(docs, schema).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )
    batch = sorted(
        tuple(r) for r in
        all_queries()["q221_chunk_dedup_rebuild"].fn(spark, sf).collect()
    )
    # the all-repeat doc hits the 0 sentinel; doc 0 keeps A once
    by_id = {t[0]: t for t in batch}
    assert by_id[4][3] == 0 and by_id[4][2] == 0
    assert by_id[0][1] == 3 and by_id[0][2] == 2

    df = spark.createDataFrame(docs, schema)
    for cuts in ([5], [2, 5], [2, 4, 5]):  # 1-, 2-, 3-file splits
        sdf = (
            stage_triggers(spark, str(tmp_path / f"q221b_{len(cuts)}"), [
                df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                for lo, hi in zip([0, *cuts], cuts)
            ])
            .select("doc_id", F.split("text", " ").alias("ts"))
        )
        got = sorted(
            tuple(r) for r in chunk_dedup_stream(sdf).collect()
        )
        assert got == batch, (cuts, got, batch)


@pytest.mark.slow
def test_stream_knn_graph_insert_persists_index(spark, tmp_path):
    """The maintained graph-ANN index rides the
    on-disk bucketed-manifest store. On the planted 4-cluster
    manifold (the q219b fixture), the insert stream runs with
    ``persist_root``; pins (a) `ann_index_read` == the returned
    in-memory graph EXACTLY (src, dst, score sets equal — every
    trigger's per-src replacement commit captured every changed
    row); (b) the manifest advanced one version per trigger past the
    seed's v0; (c) commits are bucket-granular: an untouched
    bucket's dir entry is REUSED verbatim across versions (no
    full-table rewrite); (d) a 'restart' — rereading the index from
    disk — serves q219's walk identically to the in-memory frame."""
    import json
    import os

    import numpy as np

    from kstreamjs_spark.operators import similarity
    from kstreamjs_spark.queries.streaming_q import (
        ann_index_read,
        knn_graph_insert_stream,
    )

    rng = np.random.RandomState(7)
    centers = np.eye(4, 8) * 10.0
    n = 48
    base = centers[np.arange(n) % 4] + rng.standard_normal((n, 8)) * 0.05
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    # trigger 2 inserts ONE vector: its touched-src set stays inside
    # one cluster, so bucket-granular commit reuse (c) is observable
    sdf = stage_triggers(spark, str(tmp_path / "vec_src_p"), [
        df.filter(F.col("vec_id") < 47), df.filter(F.col("vec_id") >= 47)
    ])
    seed = df.filter(F.col("vec_id") < 24)
    root = str(tmp_path / "ann_idx")
    g = knn_graph_insert_stream(
        sdf, seed, k=3, refine_rounds=2, persist_root=root
    )
    mem = {
        (r["src"], r["dst"], r["score"]) for r in g.drop("rn").collect()
    }
    disk = {
        (r["src"], r["dst"], r["score"])
        for r in ann_index_read(spark, root).collect()
    }
    assert disk == mem                                   # (a)
    mdir = os.path.join(root, "_manifest")
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(mdir) if f.endswith(".json")
    )
    assert versions == [0, 1, 2]                         # (b) v0 + 2 triggers
    manifests = {}
    for v in versions:
        with open(os.path.join(mdir, f"v{v}.json")) as fh:
            manifests[v] = json.load(fh)["bucket_dir"]
    # (c) at least one bucket survives v1 -> v2 with its dir REUSED
    # (trigger 2 touches a subset; a full rewrite would re-dir all)
    reused = [
        b for b in manifests[1]
        if manifests[2].get(b) == manifests[1][b]
    ]
    assert reused, (manifests[1], manifests[2])
    # (d) restart serve: the disk frame answers the walk identically
    qs = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        similarity.as_double("embedding").alias("qv"),
    )
    vv = df.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("vec")
    )
    kw = dict(k=3, beam=6, hops=3, entry_mod=n)
    serve_mem = sorted(
        (r["qid"], r["rn"], r["node"], r["score"])
        for r in similarity.graph_ann_topk(
            g.drop("rn"), vv, qs, **kw
        ).collect()
    )
    serve_disk = sorted(
        (r["qid"], r["rn"], r["node"], r["score"])
        for r in similarity.graph_ann_topk(
            ann_index_read(spark, root), vv, qs, **kw
        ).collect()
    )
    assert serve_disk == serve_mem
