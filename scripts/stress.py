"""Scaling stress: run the compute-heavy operators on corpus multiples
(union with shifted ids — no writes) and report the scaling exponent
time ~ N^p. p ≈ 1 is the linear scaling the 100 TB design requires;
p >= 2 would mean a hidden all-pairs blow-up.

Two regimes:
- clone mode (default): copies are EXACT clones — adversarial for
  near-dup, true pair count grows quadratically in the multiplier.
- --disjoint: every copy's tokens are prefixed with the copy index, so
  copies share zero shingles. This is the honest "N x more data" regime
  (pair structure repeats per copy, linear growth) — running it at 10x on
  sf0.1 measures a full decade toward sf1.

Usage: python scripts/stress.py [sf_dir] [max_mult] [--disjoint]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F  # noqa: E402

from kstreamjs_spark.operators import cluster, dedup, similarity  # noqa: E402
from kstreamjs_spark.session import get_spark  # noqa: E402
from kstreamjs_spark.tables import load  # noqa: E402


def multiply(df, id_col, mult, disjoint_text: str | None = None):
    # id_col may be a list: shift EVERY listed id per copy (e.g. events
    # multiply shifts user_id too, so copies bring new users — the honest
    # "N x more data" regime for keyed windows, not a hot-key densifier).
    id_cols = [id_col] if isinstance(id_col, str) else list(id_col)
    out = df
    for i in range(1, mult):
        c = df
        for col in id_cols:
            c = c.withColumn(col, F.col(col) + i * 100_000_000)
        if disjoint_text:
            # per-copy token prefix: copy i shares no shingle with any
            # other copy -> pair structure repeats per copy (linear).
            c = c.withColumn(
                disjoint_text,
                F.regexp_replace(F.col(disjoint_text), r"(\S+)", f"c{i}_$1"),
            )
        out = out.unionByName(c)
    return out


def timed(fn, reps=2):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def _pack_count(d):
    from kstreamjs_spark.operators import packing, sampling

    base = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        sampling.hash_bucket("doc_id", seed=41).alias("h"),
    )
    return packing.sequence_pack(base, "n_tok", 2048, ["h", "doc_id"]).count()


def _chunk_count(d):
    toks = F.split("text", " ")
    return (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size(toks), F.lit(48))).alias("st"),
        ).count()
    )


def _pmi_count(d):
    toks = F.split("text", " ")
    uni = d.select(F.explode(toks).alias("w")).groupBy("w").count()
    bigs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = d.select(F.explode(bigs).alias("b")).groupBy("b").count()
    return uni.count() + bg.filter(F.col("count") >= 5).count()


def _lm_score_count(d):
    # q86 shape: vocabulary-sized count tables joined back to the
    # doc-bigram stream
    toks = F.split("text", " ")
    uni = d.select(F.explode(toks).alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("cu")
    )
    bigs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
                ).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,b:string>>"))
    bg = d.select("doc_id", F.explode(bigs).alias("s")).select(
        "doc_id", F.col("s.w1").alias("w1"), F.col("s.b").alias("b")
    )
    bgc = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    scored = bg.join(bgc, "b").join(uni.withColumnRenamed("w", "w1"), "w1")
    return scored.groupBy("doc_id").agg(F.count(F.lit(1))).count()


def _entropy_count(d):
    # q96 shape: (doc, token) counts + per-doc rollup with quantized terms
    c = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qt = F.floor(F.col("c") * F.log("c") * F.lit(1_000_000) + 0.5).cast("long")
    return (
        c.groupBy("doc_id")
        .agg(F.log(F.sum("c")) - F.sum(qt) / (F.sum("c") * F.lit(1_000_000.0)))
        .count()
    )


def _funnel_count(ev):
    # q93 shape: one groupBy + array min-chain, no joins
    from kstreamjs_spark.operators import funnel

    return funnel.ordered_funnel(ev, ["view", "click", "purchase"]).count()


def _decon_count(d):
    # q77 shape: broadcast eval shingle set, semi-join the training scan
    from kstreamjs_spark.operators import sampling

    is_eval = sampling.sample_predicate("doc_id", 0.02, seed=13)
    evs = (
        d.filter(is_eval)
        .select(F.explode(dedup.shingles("text", 5)).alias("g"))
        .distinct()
    )
    return (
        d.filter(~is_eval)
        .select("doc_id", F.explode(dedup.shingles("text", 5)).alias("g"))
        .join(F.broadcast(evs), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .count()
    )


def _ttr_count(d):
    # q83 shape: vocabulary-sized (lang, token) shuffle + per-lang rollup
    c = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .count()
    )
    return c.groupBy("lang").agg(F.sum("count"), F.count(F.lit(1))).count()


def _fuzzy_blocked_count(d):
    # q104b shape: pigeonhole chunk equi-join + exact levenshtein verify
    return dedup.fuzzy_prefix_pairs(
        d, max_dist=5, prefix_len=40, partition_col="source"
    ).count()


def _jpeg_decode_count(d):
    # q40f shape: JPEG synth -> huffman+IDCT decode, two Arrow stages,
    # shuffle-free — the media family's measured (not just plan-asserted)
    # scaling point; derivation shared with the query via synth_jpeg_blobs
    from kstreamjs_spark.operators import multimodal

    return (
        multimodal.decode_jpeg_blobs(multimodal.synth_jpeg_blobs(d))
        .where("pixel_sum is not null")
        .count()
    )


def _mp4_frames_count(d):
    # q40g shape: MP4 synth -> stts/stsz/stsc/stco frame-table explode;
    # derivation shared with the query via synth_mp4_blobs
    from kstreamjs_spark.operators import multimodal

    return multimodal.sample_mp4_frames(multimodal.synth_mp4_blobs(d)).count()


def _bm25_scored(d, terms):
    # shared scorer: the SAME _bm25_contrib/_bm25_quantized_contrib the
    # registered queries use (the query bodies load from sf dirs, so
    # only the input frame differs)
    from kstreamjs_spark.queries.llm import (
        _bm25_contrib, _bm25_quantized_contrib,
    )

    return _bm25_contrib(d, terms), _bm25_quantized_contrib()


def _bm25_count(d):
    # q157 shape (r9): single-pass tf+dl, broadcast df/stats, NO corpus
    # join, TakeOrdered top-k
    from kstreamjs_spark.queries.llm import _BM25_TERMS

    contrib, q = _bm25_scored(d, _BM25_TERMS)
    return (
        contrib.select("doc_id", q.alias("q"))
        .groupBy("doc_id")
        .agg(F.sum("q").alias("_qs"))
        .orderBy(F.desc("_qs"), "doc_id")
        .limit(20)
        .count()
    )


def _bm25_batch_count(d):
    # q157b shape: 24 simultaneous queries, broadcast (query_id, token)
    # fan-out, per-query WindowGroupLimit top-10
    from pyspark.sql import Window

    from kstreamjs_spark.queries.llm import _BM25B_QUERIES, _BM25B_TERMS

    contrib, q = _bm25_scored(d, _BM25B_TERMS)
    spark = d.sparkSession
    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(_BM25B_QUERIES.items()) for t in ts],
        "query_id long, token string",
    )
    s = (
        contrib.join(F.broadcast(qt), "token")
        .select("query_id", "doc_id", q.alias("q"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("q").alias("_qs"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_qs"), "doc_id")
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .count()
    )


def _phash_count(d):
    # q158 shape: BMP synth -> real pixel decode -> DCT pHash ->
    # chunk-pigeonhole Hamming pairs (fixture shared with the query via
    # _synth_group_bmps; doc_ids shift per copy in clone mode so the
    # group structure multiplies with the corpus)
    from kstreamjs_spark.operators import multimodal
    from kstreamjs_spark.queries.llm import _synth_group_bmps

    hashed = multimodal.phash_blobs(_synth_group_bmps(d))
    return dedup.hamming_neardup_pairs(
        hashed, max_hamming=3, hash_col="phash"
    ).count()


def _afp_count(d):
    # q160 shape: WAV synth -> real PCM sample decode -> energy AFP ->
    # chunk-pigeonhole Hamming pairs (same fixture derivation as the
    # query)
    import numpy as np
    import pandas as pd

    from kstreamjs_spark.operators import multimodal

    def make_wavs(it):
        for pdf in it:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                g = did // 3
                rng = np.random.RandomState((g * 2654435761 + 17) % (2**31))
                base = rng.randint(-4096, 4096, 2048)
                blobs.append(
                    multimodal.encode_wav_samples(base * (1 + did % 3))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs = d.select("doc_id").mapInPandas(
        make_wavs, "doc_id long, blob binary"
    )
    return dedup.hamming_neardup_pairs(
        multimodal.afp_blobs(blobs), max_hamming=3, hash_col="afp"
    ).count()


def _leakage_maxdf_count(d):
    # q106b shape: unblocked max_df'd shingle join + cross-split meta joins
    from kstreamjs_spark.operators import sampling, text as text_ops

    split = F.when(
        sampling.hash_bucket(
            text_ops.portable_string_hash("source"), seed=29
        )
        < F.lit(int(0.8 * 4294967296)),
        F.lit("train"),
    ).otherwise(F.lit("val"))
    tagged = d.withColumn("split", split)
    pairs = dedup.jaccard_pairs(
        tagged, threshold=0.5, partition_col=None, max_df=2
    )
    meta = tagged.select("doc_id", "split")
    m1 = meta.select(
        F.col("doc_id").alias("d1"), F.col("split").alias("s1")
    )
    m2 = meta.select(
        F.col("doc_id").alias("d2"), F.col("split").alias("s2")
    )
    return (
        pairs.join(m1, "d1")
        .join(m2, "d2")
        .filter(F.col("s1") != F.col("s2"))
        .select(
            F.when(F.col("s1") == "val", F.col("d1"))
            .otherwise(F.col("d2")).alias("val_doc")
        )
        .distinct()
        .count()
    )


def _keepers_count(d):
    # q110 shape: jaccard pairs -> connected components -> keeper window
    from pyspark.sql import Window

    pairs = dedup.jaccard_pairs(d, threshold=0.5, partition_col="source")
    labels = cluster.connected_components(pairs, src="d1", dst="d2")
    m = labels.join(
        d.select(
            F.col("doc_id").alias("node"),
            F.size(F.split("text", " ")).cast("long").alias("L"),
        ),
        "node",
    )
    w = Window.partitionBy("label").orderBy(F.desc("L"), F.asc("node"))
    k = (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label")
    )
    return (
        m.groupBy("label").agg(F.count(F.lit(1))).join(k, "label").count()
    )


def _repeated_chunks_count(d):
    # q112 shape: scan-side chunk fingerprints + multiplicity window
    from pyspark.sql import Window

    from kstreamjs_spark.operators import text as text_ops

    ts = F.split("text", " ")
    ex = d.select(
        "doc_id", "lang", ts.alias("ts"),
        F.explode(F.sequence(F.lit(1), F.size(ts), F.lit(32))).alias("st"),
    )
    g = ex.select(
        "doc_id", "lang",
        text_ops.fingerprint(
            F.array_join(F.slice("ts", F.col("st"), 32), " ")
        ).alias("cfp"),
    ).distinct()
    w = Window.partitionBy("lang", "cfp")
    return (
        g.withColumn("nd", F.count(F.lit(1)).over(w))
        .filter(F.col("nd") >= 2)
        .groupBy("lang")
        .agg(F.countDistinct("doc_id"))
        .count()
    )


def _coverage_count(d):
    # q122 shape: distinct train shingles LEFT-joined by the eval slice
    from kstreamjs_spark.operators import sampling

    is_eval = sampling.hash_bucket("doc_id", seed=13) < F.lit(
        int(0.02 * 4294967296)
    )
    b = d.select(
        "doc_id", dedup.shingles("text", 5).alias("sh"), is_eval.alias("ev")
    )
    tr = b.filter(~F.col("ev")).select(F.explode("sh").alias("s")).distinct()
    ev = b.filter(F.col("ev") & (F.size("sh") > 0)).select(
        "doc_id", F.explode("sh").alias("s")
    )
    return (
        ev.join(tr.withColumn("hit", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)), F.sum("hit"))
        .count()
    )


def _chunk_neardup_count(d):
    # q123 shape: chunk table through the max_df'd jaccard join
    ts = F.split("text", " ")
    ck = d.select(
        "doc_id", ts.alias("ts"),
        F.explode(F.sequence(F.lit(1), F.size(ts), F.lit(32))).alias("st"),
    ).select(
        (F.col("doc_id") * 100000 + F.expr("CAST((st-1) DIV 32 AS BIGINT)"))
        .alias("cid"),
        F.array_join(F.slice("ts", F.col("st"), 32), " ").alias("ctext"),
    )
    return dedup.jaccard_pairs(
        ck, threshold=0.7, n=3, partition_col=None,
        id_col="cid", text_col="ctext", max_df=4,
    ).count()


def _retention_count(ev):
    # q107 shape: first-week per user + distinct activity + broadcast sizes
    wk = F.date_trunc("week", F.col("ts"))
    f = ev.groupBy("user_id").agg(F.min(wk).alias("cw"))
    act = (
        ev.join(f, "user_id")
        .select(
            "user_id",
            "cw",
            F.floor(F.datediff(wk, F.col("cw")) / F.lit(7)).alias("wo"),
        )
        .distinct()
    )
    coh = f.groupBy("cw").agg(F.count(F.lit(1)).alias("cs"))
    return (
        act.groupBy("cw", "wo")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(coh), "cw")
        .count()
    )


def _kmeans_assign_count(em):
    # q81 shape: centroid literals -> one codegen'd projection, k=8
    from kstreamjs_spark.operators import kmeans

    cents = kmeans.initial_centroids(em, 8)
    return kmeans.assign(em, cents).groupBy("cid").count().count()


def _knn_lsh_count(em):
    # q159 shape: banded-signature explode both sides, (b, bv) candidate
    # equi-join, exact rescoring, per-query WindowGroupLimit top-5 —
    # the fixed 20-query batch against a multiplying vector table
    from kstreamjs_spark.operators import similarity

    # deterministic fixed batch: the SAME 20 base vec_ids at every sweep
    # point (limit-without-order would let partition layout pick a
    # different workload per multiplier and pollute the exponent)
    queries = em.filter(
        F.col("vec_id").isin([i * 100 for i in range(20)])
    ).select(
        F.col("vec_id").alias("qid"),
        similarity.as_double(F.col("embedding")).alias("qv"),
    )
    return similarity.knn_join_lsh_banded(em, queries, k=5).count()


def _sessionize_count(ev):
    # q55 shape: one hashpartitioning(user_id) feeds both window passes
    # and the rollup
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    g = ev.select(
        "user_id", "ts",
        F.when(
            lag_ts.isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(lag_ts) > 1800),
            1,
        ).otherwise(0).alias("new_s"),
        "event_id",
    )
    s = g.select(
        "user_id",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long").alias("session_seq"),
    )
    return s.groupBy("user_id", "session_seq").count().count()


# --- fact-table ops (q149-q154 family): multiplied lineitem/orders ---


def _sole_late_count(li, od):
    # q150 shape: fact-fact join -> (order, supplier) agg -> one window
    from pyspark.sql import Window

    g = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    return (
        g.withColumn("ns", F.count(F.lit(1)).over(w))
        .withColumn("nl", F.sum("late").over(w))
        .filter((F.col("late") == 1) & (F.col("ns") > 1) & (F.col("nl") == 1))
        .groupBy("l_suppkey")
        .count()
        .count()
    )


def _small_qty_count(li, od):
    # q153 shape: per-part average as ONE partkey window, no self-join
    from pyspark.sql import Window

    qc = F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")
    w = Window.partitionBy("l_partkey")
    q = li.select("l_partkey", qc.alias("qc")).select(
        "*",
        F.sum("qc").over(w).alias("sq"),
        F.count(F.lit(1)).over(w).alias("c"),
    )
    return q.filter(F.col("qc") * F.col("c") * 5 < F.col("sq")).count()


def _hotlist_count(li, od):
    # q152 shape: partkey agg reused for both the scalar and the filter
    p = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                + 0.5
            ).cast("long")
        ).alias("rq")
    )
    g = p.agg(
        F.sum(F.col("rq").cast("decimal(38,0)")).alias("grq"),
        F.count(F.lit(1)).alias("np"),
    )
    return (
        p.crossJoin(F.broadcast(g))
        .filter(F.col("rq").cast("decimal(38,0)") * F.col("np") > 2 * F.col("grq"))
        .count()
    )


def _large_volume_count(li, od):
    # q154 shape: HAVING before the join; survivors broadcast by AQE
    t = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")).alias(
                "tq"
            )
        )
        .filter(F.col("tq") > 25000)
    )
    return t.join(od, F.col("o_orderkey") == F.col("l_orderkey")).count()


def _cheapest_count(li, od):
    # q149 shape: groupwise min as a partial-aggregating min(struct)
    u = li.select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("up"),
    )
    return u.groupBy("l_partkey").agg(
        F.min(F.struct("up", "l_suppkey")).alias("b")
    ).count()


def _streak_count(ev):
    # q144 shape: gaps-and-islands from one user_id shuffle
    from pyspark.sql import Window

    d = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = d.select(
        "user_id",
        F.col("day").cast("date").alias("day2"),
        F.row_number().over(w).alias("rn"),
    ).select(
        "user_id", F.date_sub(F.col("day2"), F.col("rn")).alias("anchor")
    )
    return (
        isl.groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("len")
        .count()
        .count()
    )


def _value_pct_count(ev):
    # q131 shape: cumulative window over the (type, cents) histogram
    from pyspark.sql import Window

    c = F.floor(F.col("value") * 100 + 0.5).cast("long")
    h = ev.groupBy("event_type", c.alias("cents")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return h.withColumn("cc", F.sum("n").over(w)).count()




def _scd2_count(ev):
    # q121 shape: ONE user_id exchange feeds both window passes (change
    # lag + interval-closing lead; the lead runs on a filtered subset of
    # the same partitioning)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "event_type", "event_id", "ts",
        F.lag("event_type").over(w).alias("prev"),
    )
    ch = o.filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ch.select(
        "user_id", F.lead("ts").over(w2).alias("valid_to")
    ).count()


def _cooccur_count(ev):
    # q125 shape: distinct (user, type) then a per-user self-join whose
    # bucket is bounded by |types| (<=5 rows/user), never corpus-sized
    u = ev.select("user_id", "event_type").distinct()
    a = u.select("user_id", F.col("event_type").alias("ta"))
    b = u.select("user_id", F.col("event_type").alias("tb"))
    return (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n"))
        .count()
    )


def _growth_count(ev):
    # q135 shape: distinct (user, week), min + lag over one user_id
    # partitioning, week-sized rollup
    from pyspark.sql import Window

    uw = ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    wp = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("wk")
    c = uw.select(
        "user_id", "wk",
        F.min("wk").over(wp).alias("fw"),
        F.lag("wk").over(wo).alias("pw"),
    )
    new = F.col("wk") == F.col("fw")
    ret = (~new) & (F.col("pw") == F.col("wk") - F.expr("INTERVAL 7 DAY"))
    return c.groupBy("wk").agg(
        F.sum(F.when(new, 1).otherwise(0)).alias("n_new"),
        F.sum(F.when(ret, 1).otherwise(0)).alias("n_ret"),
    ).count()


def _dq_gate_count(li, od):
    # q139 shape: per-order line-sum rollup then a FULL OUTER join on
    # orderkey (the completeness check itself), 1-row audit aggregate
    cents = F.floor(
        F.col("l_extendedprice") * (1 + F.col("l_tax"))
        * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    l = li.groupBy("l_orderkey").agg(F.sum(cents).alias("lc"))
    o = od.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("tc"),
    )
    j = o.join(l, F.col("o_orderkey") == F.col("l_orderkey"), "full_outer")
    return j.agg(
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("b"),
        F.sum(
            F.when(F.abs(F.col("tc") - F.col("lc")) > 100, 1).otherwise(0)
        ).alias("c"),
    ).count()


def _attribution_count(ev):
    # q143 shape: first-purchase agg -> join back on the same user_id
    # clustering -> WindowGroupLimit first-touch -> |types| rollup
    from pyspark.sql import Window

    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fpts"))
    )
    pre = ev.join(fp, "user_id").filter(F.col("ts") < F.col("fpts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        pre.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .count()
    )


def _rfm_count(li, od):
    # q133 shape: 1-row max-date broadcast + one customer shuffle + 8-row
    # rollup, all integer comparisons
    mx = od.agg(F.max("o_orderdate").alias("maxd"))
    c = (
        od.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "maxd")
        .agg(
            F.max("o_orderdate").alias("lastd"),
            F.count(F.lit(1)).alias("f"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("mc"),
        )
    )
    s = c.select(
        F.when(F.datediff("maxd", "lastd") <= 90, "a").otherwise("l").alias("r"),
        F.when(F.col("f") >= 10, "f").otherwise("o").alias("fs"),
        F.when(F.col("mc") >= 10_000_00, "b").otherwise("s").alias("m"),
    )
    return s.groupBy("r", "fs", "m").count().count()


def _hhi_count(li, od):
    # q136 shape: (supplier) revenue rollup then the concentration
    # aggregate with DECIMAL(38,0) squares (int64 squares wrap)
    revq = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    r = li.groupBy("l_suppkey").agg(F.sum(revq).alias("rq"))
    return r.agg(
        (
            F.sum(F.col("rq").cast("decimal(38,0)") * F.col("rq"))
            / (F.sum("rq").cast("double") * F.sum("rq"))
        ).alias("hhi")
    ).count()


def _dormant_count(od, cu):
    # q151 shape: 1-row scalar broadcast + anti-join on distinct custkeys
    c = cu.select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("bal_c"),
    )
    pos = F.when(F.col("bal_c") > 0, F.col("bal_c")).otherwise(F.lit(0))
    s = c.agg(
        F.sum(pos).alias("tot"),
        F.sum(F.when(F.col("bal_c") > 0, 1).otherwise(0)).alias("n"),
    )
    recent = (
        od.filter(F.col("o_orderdate") >= F.lit("2000-08-01"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(s))
        .filter(F.col("bal_c") * F.col("n") > F.col("tot"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .count()
        .count()
    )


def _backlog_count(li, od):
    # q132 shape: concurrent intervals as +-1 deltas -> day histogram
    opened = od.select(
        F.date_trunc("day", "o_orderdate").alias("day"), F.lit(1).alias("d")
    )
    closed = od.select(
        F.date_trunc("day", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ).alias("day"),
        F.lit(-1).alias("d"),
    )
    from pyspark.sql import Window

    h = opened.unionByName(closed).groupBy("day").agg(F.sum("d").alias("dd"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return h.withColumn("open", F.sum("dd").over(w)).count()


def docgen_corpus(spark, mult: int, disjoint: bool, base_rows: int = 5000):
    """Generator-backed corpus at ``base_rows * mult`` documents — no disk,
    so the decade/century sweep is never IO-bound. Disjoint regime: every
    ``base_rows`` block of doc_ids gets a per-block token prefix (same
    contract as multiply(disjoint_text=...)), so pair structure repeats
    per block and the honest growth is linear."""
    total = base_rows * mult
    parts = 32
    d = (
        spark.read.format("docgen")
        .option("partitions", parts)
        .option("rows_per_partition", max(1, total // parts))
        .option("seed", 11)
        .load()
    )
    if disjoint:
        blk = F.floor(F.col("doc_id") / F.lit(base_rows)).cast("string")
        d = d.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split("text", " "),
                    lambda t: F.concat(F.lit("b"), blk, F.lit("_"), t),
                ),
                " ",
            ),
        )
    return d


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    disjoint = "--disjoint" in sys.argv[1:]
    # --scale-partitions[=cap]: scale the batch shuffle width with
    # the multiplier (the cluster-realistic regime — partition count
    # tracks input size, AQE coalesces the other way). The default pinned
    # count is the adversarial regime: at 100x each shuffle partition
    # carries 100x the 1x rows. The cap (default 1024) exists because
    # this is ONE 32-thread JVM with a fixed heap: past ~200 partitions
    # the map side leaves bypass-merge for ShuffleExternalSorter, and 32
    # concurrent sorting tasks at base*100 partitions OOM an 8g heap —
    # on a real cluster the aggregate heap scales with the executor
    # count, so the cap models memory-that-scales-with-data, not a plan
    # property.
    scale_parts = any(
        a == "--scale-partitions" or a.startswith("--scale-partitions=")
        for a in sys.argv[1:]
    )
    parts_cap = next(
        (int(a.split("=", 1)[1]) for a in sys.argv[1:]
         if a.startswith("--scale-partitions=")),
        1024,
    )
    only = next(
        (a.split("=", 1)[1].split(",") for a in sys.argv[1:]
         if a.startswith("--ops=")),
        None,
    )
    source = next(
        (a.split("=", 1)[1] for a in sys.argv[1:]
         if a.startswith("--source=")),
        "parquet",
    )
    sf = args[0] if args else "/root/testdata/sf0.1"
    max_mult = int(args[1]) if len(args) > 1 else 4
    spark = get_spark("stress", cpus=32)
    if source == "docgen":
        from kstreamjs_spark.sources import docgen as _dg

        _dg.register(spark)
    (docs,) = load(spark, sf, "documents")
    (emb,) = load(spark, sf, "embeddings")
    (events,) = load(spark, sf, "events")
    lineitem, orders, customer = load(
        spark, sf, "lineitem", "orders", "customer"
    )
    docs.count()

    ops = {
        # partition_col=None: worst case, no blocking key bounds candidates
        "jaccard": lambda d: dedup.jaccard_pairs(
            d, threshold=0.5, partition_col=None
        ).count(),
        "minhash_lsh": lambda d: dedup.minhash_neardup_pairs(d).count(),
        "simhash": lambda d: dedup.simhash_neardup_pairs(d).count(),
        # the realistic dedup tail: LSH candidate pairs -> cluster labels;
        # rounds = component diameter, so clone cliques (diameter 1) keep
        # the iteration count flat as the corpus multiplies
        "cc_minhash": lambda d: cluster.connected_components(
            dedup.minhash_neardup_pairs(d), src="d1", dst="d2"
        ).count(),
        # corpus-prep family (q66/q68/q70 shapes)
        "seq_pack": _pack_count,
        "chunk": _chunk_count,
        "pmi": _pmi_count,
        # corpus-curation family (q77/q83/q86 shapes)
        "decontaminate": _decon_count,
        "ttr": _ttr_count,
        "lm_score": _lm_score_count,
        "entropy": _entropy_count,
        # fuzzy-dedup and leakage family (q104b/q106b/q110/q112/q122/q123 shapes)
        "fuzzy_blocked": _fuzzy_blocked_count,
        "leakage_maxdf": _leakage_maxdf_count,
        "keepers": _keepers_count,
        "repeated_chunks": _repeated_chunks_count,
        "coverage": _coverage_count,
        "chunk_neardup": _chunk_neardup_count,
        # media-decode (q40f/q40g) and retrieval (q157) shapes
        "jpeg_decode": _jpeg_decode_count,
        "mp4_frames": _mp4_frames_count,
        "bm25": _bm25_count,
        # retrieval and perceptual-hash family (q157b/q158/q159/q160 shapes)
        "bm25_batch": _bm25_batch_count,
        "phash": _phash_count,
        "afp": _afp_count,
    }
    # ops over the other tables: events (new users per copy) / embeddings
    eops = {
        "sessionize": _sessionize_count,
        "funnel": _funnel_count,
        "retention": _retention_count,
        "streak": _streak_count,
        "value_pct": _value_pct_count,
        # dimension and attribution family (q121/q125/q135/q143 shapes)
        "scd2": _scd2_count,
        "cooccur": _cooccur_count,
        "growth": _growth_count,
        "attribution": _attribution_count,
    }
    vops = {"kmeans_assign": _kmeans_assign_count,
            "knn_lsh": _knn_lsh_count}
    # fact-table family (multiplied lineitem/orders, q149-q154 shapes)
    fops = {
        "sole_late": _sole_late_count,
        "small_qty": _small_qty_count,
        "hotlist": _hotlist_count,
        "large_volume": _large_volume_count,
        "cheapest": _cheapest_count,
        "backlog": _backlog_count,
        # data-quality and customer-value family (q139/q133/q136 shapes)
        "dq_gate": _dq_gate_count,
        "rfm": _rfm_count,
        "hhi": _hhi_count,
    }
    # customer-bearing shapes (multiplied customer too)
    cops = {"dormant": _dormant_count}
    if only:
        ops = {k: v for k, v in ops.items() if k in only}
        eops = {k: v for k, v in eops.items() if k in only}
        vops = {k: v for k, v in vops.items() if k in only}
        fops = {k: v for k, v in fops.items() if k in only}
        cops = {k: v for k, v in cops.items() if k in only}
    if source == "docgen":
        # Generator corpus: document ops only (docgen emits documents).
        eops, vops, fops, cops = {}, {}, {}, {}
    mults = [m for m in (1, 2, 4, 8, 10) if m <= max_mult]
    if disjoint and max_mult >= 10:
        mults = [1, 3, 10]  # one full decade, 3-point exponent fit
    if (disjoint or source == "docgen") and max_mult >= 100:
        # two decades. Disjoint multiply needs the prefix trick for pair
        # honesty; a docgen corpus is FRESH rows at every multiplier, so
        # its century points are honest in clone-free form too — which
        # is the only valid century regime for retrieval shapes (bm25),
        # where disjoint prefixing starves the fixed term set (r8 note).
        mults = [1, 10, 100]
    results: dict[str, list[float]] = {
        k: [] for k in (*ops, *eops, *vops, *fops, *cops)
    }
    # Batch exchanges under AQE take their width from initialPartitionNum
    # (get_spark sets it; shuffle.partitions there sizes streaming state).
    width_keys = (
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "spark.sql.shuffle.partitions",
    )
    base_parts = int(spark.conf.get(width_keys[0]))
    for mult in mults:
        if scale_parts:
            nparts = min(base_parts * mult, parts_cap)
            for k in width_keys:
                spark.conf.set(k, str(nparts))
            print(f"mult={mult}: shuffle.partitions={nparts}", flush=True)
        if source == "docgen":
            d = docgen_corpus(spark, mult, disjoint)
        else:
            d = multiply(docs, "doc_id", mult, "text" if disjoint else None)
        n = d.count()
        for name, fn in ops.items():
            sec = timed(lambda: fn(d))
            results[name].append(sec)
            print(f"mult={mult} ({n} docs) {name}: {sec:.2f}s", flush=True)
        if eops:
            ev = multiply(events, ["event_id", "user_id"], mult)
            ne = ev.count()
            for name, fn in eops.items():
                sec = timed(lambda: fn(ev))
                results[name].append(sec)
                print(f"mult={mult} ({ne} events) {name}: {sec:.2f}s", flush=True)
        if vops:
            em = multiply(emb, "vec_id", mult)
            nv = em.count()
            for name, fn in vops.items():
                sec = timed(lambda: fn(em))
                results[name].append(sec)
                print(f"mult={mult} ({nv} vecs) {name}: {sec:.2f}s", flush=True)
        if fops:
            # copies bring new orders/parts/suppliers — the honest
            # "N x more facts over the same dims" regime
            li = multiply(
                lineitem, ["l_orderkey", "l_partkey", "l_suppkey"], mult
            )
            od = multiply(orders, "o_orderkey", mult)
            nl = li.count()
            for name, fn in fops.items():
                sec = timed(lambda: fn(li, od))
                results[name].append(sec)
                print(f"mult={mult} ({nl} lines) {name}: {sec:.2f}s", flush=True)
        if cops:
            od2 = multiply(orders, ["o_orderkey", "o_custkey"], mult)
            cu2 = multiply(customer, "c_custkey", mult)
            nc = cu2.count()
            for name, fn in cops.items():
                sec = timed(lambda: fn(od2, cu2))
                results[name].append(sec)
                print(f"mult={mult} ({nc} custs) {name}: {sec:.2f}s", flush=True)

    # cosine top-k on multiplied embeddings (scan-bound — must be ~linear)
    e4 = multiply(emb, "vec_id", max_mult)
    qv = emb.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    t1 = timed(lambda: similarity.topk_cosine(emb, qv, k=10).collect())
    t4 = timed(lambda: similarity.topk_cosine(e4, qv, k=10).collect())
    print(f"cosine_topk: 1x={t1:.2f}s {max_mult}x={t4:.2f}s", flush=True)

    print("\nscaling exponents (time ~ N^p, fit on largest step):")
    for name, ts in results.items():
        if len(ts) >= 2 and ts[0] > 0:
            p = math.log(ts[-1] / ts[0]) / math.log(mults[len(ts) - 1])
            print(f"  {name}: p = {p:.2f}")
    p_cos = math.log(max(t4, 1e-9) / max(t1, 1e-9)) / math.log(max_mult)
    print(f"  cosine_topk: p = {p_cos:.2f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
