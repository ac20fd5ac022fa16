"""North-star LLM-pipeline operators: dedup family recall/sanity, ANN
recall vs exact top-k, text analytics determinism, multimodal plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kstreamjs_spark.operators import dedup, multimodal, similarity, text

from .conftest import SF_SMOKE


def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_minhash_candidates_cover_exact_neardups(spark):
    """Every exact-Jaccard>=0.7 pair must be recalled by the MinHash LSH
    candidate generation (banding theory: P(candidate) ~ 1 at j=0.7 with
    16 bands x 4 rows)."""
    d = docs(spark)
    exact = {
        (r["d1"], r["d2"])
        for r in dedup.jaccard_pairs(d, threshold=0.7, partition_col=None).collect()
    }
    approx = {
        (r["d1"], r["d2"])
        for r in dedup.minhash_neardup_pairs(d, threshold=0.3).collect()
    }
    assert exact <= approx, f"missed: {exact - approx}"


def test_minhash_signature_frame_bit_identical(spark):
    """Round-16 kernel swap: minhash_signature_frame (Arrow-batched
    numpy permutation fold) must be BIT-IDENTICAL to the
    minhash_signature expression fold for every document — the
    equality the kernel's int64 overflow-safety argument promises.
    Covers the empty-shingle edge (docs shorter than n tokens keep the
    fold's init row) by not pre-filtering."""
    d = docs(spark).select("doc_id", "text")
    expr = {
        r["doc_id"]: r["sig"]
        for r in d.select(
            "doc_id", dedup.minhash_signature("text").alias("sig")
        ).collect()
    }
    frame = {
        r["doc_id"]: r["sig"]
        for r in dedup.minhash_signature_frame(d, "doc_id", "text").collect()
    }
    assert frame == expr


def test_lit_doubles_bit_identical(spark):
    """Round-16 plan-construction swap: lit_doubles builds the
    array<double> literal via one parsed expression (repr + 'D'
    suffix) instead of per-element F.lit py4j calls — it must produce
    BIT-IDENTICAL doubles (repr is the shortest round-trip decimal and
    the parser binds D-literals to the nearest double), the same
    array<double> type, and fall back cleanly for non-finite values."""
    import math
    import struct

    import numpy as np

    rng = np.random.RandomState(7)
    cases = [
        list(rng.standard_normal(64)),
        [1e-300, -1e300, 0.0, -0.0, 123456789.123456789, 3.14e-15],
        [float("nan"), float("inf"), 1.5],  # fallback path
        [],
    ]
    for vals in cases:
        df = spark.range(1).select(
            similarity.lit_doubles(vals).alias("a"),
            F.array(*[F.lit(float(x)) for x in vals])
            .cast("array<double>")
            .alias("b"),
        )
        assert dict(df.dtypes)["a"] == "array<double>"
        r = df.first()
        got, ref = list(r["a"]), list(r["b"])
        assert len(got) == len(ref)
        for g, e in zip(got, ref):
            if math.isnan(e):
                assert math.isnan(g)
            else:
                assert struct.pack("d", g) == struct.pack("d", e)


def test_lit_longs_bit_identical(spark):
    """Round-17 sweep (r16 verdict #6): lit_longs builds the
    array<bigint> literal via one parsed expression — it must produce
    the exact same longs as the per-element F.lit path, the same
    array<bigint> type, and handle Long.MIN_VALUE (unrepresentable as
    one SQL token; emitted as a constant-folded subtraction)."""
    cases = [
        [1 << i for i in range(63)] + [-(1 << 63)],  # the simhash masks
        [0] * 64,
        [-(1 << 63), (1 << 63) - 1, -1, 0, 42],
        [],
    ]
    for vals in cases:
        df = spark.range(1).select(
            similarity.lit_longs(vals).alias("a"),
            F.array(*[F.lit(v).cast("long") for v in vals])
            .cast("array<bigint>")
            .alias("b"),
        )
        assert dict(df.dtypes)["a"] == "array<bigint>"
        r = df.first()
        assert list(r["a"]) == list(r["b"]) == vals


def test_lit_longs_rejects_out_of_range_with_value_error():
    """The bigint range check is a ValueError, so it survives python -O."""
    for bad in ([1 << 63], [0, -(1 << 63) - 1]):
        with pytest.raises(ValueError, match="overflow bigint"):
            similarity.lit_longs(bad)


def test_wordpiece_vocab_rejects_bad_word_counts_with_value_error(spark):
    """A word_counts frame without (word, c) is a ValueError, so the
    check survives python -O."""
    wc = spark.createDataFrame([("ab", 3)], "word string, n long")
    with pytest.raises(ValueError, match=r"missing column\(s\) \['c'\]"):
        text.wordpiece_vocab(None, word_counts=wc)


def test_minhash_verified_equals_exact_neardups(spark):
    """Exact-verify of LSH candidates: no false positives by construction,
    and at this operating point the bands recall every true >=0.5 pair, so
    the verified set equals the full exact near-dup set — including the
    true (not estimated) jaccard values."""
    d = docs(spark)
    exact = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in dedup.jaccard_pairs(d, threshold=0.5, partition_col=None).collect()
    }
    verified = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in dedup.minhash_verified_pairs(d, threshold=0.5).collect()
    }
    assert verified == exact


def test_max_df_bounds_universal_shingle_bucket(spark):
    """Adversarial skew: every document shares one boilerplate sentence, so
    its shingles appear in ALL docs — without a document-frequency ceiling
    the shingle bucket is quadratic (every doc pair becomes a candidate).
    With max_df on, the universal shingles are dropped from intersection
    AND per-doc counts, so (a) candidate pairs collapse to the truly
    similar ones and (b) Jaccard is exact over the filtered sets."""
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"doc{i} unique words alpha{i} beta{i} gamma{i} " + boiler)
            for i in range(20)]
    # docs 100/101 share a genuine near-dup tail beyond the boilerplate
    twin = "shared unique tail sentence with many matching tokens here"
    rows += [(100, f"{twin} end100 " + boiler), (101, f"{twin} end101 " + boiler)]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.jaccard_pairs(d, threshold=0.0, partition_col=None)
    capped = dedup.jaccard_pairs(
        d, threshold=0.0, partition_col=None, max_df=5
    )
    # Without the cap the boilerplate makes every pair a candidate: 22 docs
    # -> C(22,2) = 231 pairs. With the cap, only the genuine twin survives.
    assert uncapped.count() == 231
    capped_rows = capped.collect()
    assert [(r["d1"], r["d2"]) for r in capped_rows] == [(100, 101)]
    # Exact Jaccard over the FILTERED sets. Each twin doc has 22 tokens ->
    # 20 shingles; the 10 boiler-internal shingles (df=22) are dropped;
    # kept: 7 twin-internal (common, df=2) + 3 bridge shingles containing
    # the endNNN token (df=1). n1=n2=10, common=7 -> 7/13.
    r = capped_rows[0]
    common, n1, n2 = 7, 10, 10
    assert abs(r["jaccard"] - round(common / (n1 + n2 - common), 6)) < 1e-9


def test_simhash_identical_docs_collide(spark):
    """Identical text must give identical SimHash (hamming 0) regardless of
    doc id."""
    d = docs(spark).limit(20)
    clone = d.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = d.unionByName(clone)
    pairs = dedup.simhash_neardup_pairs(both, max_hamming=0).collect()
    found = {(r["d1"], r["d2"]) for r in pairs}
    expected = {(r["doc_id"], r["doc_id"] + 1_000_000) for r in d.collect()}
    assert expected <= found


def test_exact_dedup_by_fingerprint(spark):
    """Duplicated corpus -> fingerprint dedup halves it."""
    d = docs(spark)
    clone = d.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = d.unionByName(clone).withColumn("fp", text.fingerprint("text"))
    assert dedup.exact_dedup(both, ["fp"]).count() == d.count()


def test_ann_lsh_recall(spark):
    """LSH ANN must contain the exact top-1 (the query vector itself) and
    achieve reasonable overlap with the exact top-10. The banded path
    (q27b's, r9) carries the strong bar — >=8/10 on this near-uniform
    corpus whose neighbors sit at ~70deg; the single-table Hamming path
    stays available with its weaker documented recall."""
    e = emb(spark)
    qv = e.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    exact = [r["vec_id"] for r in similarity.topk_cosine(e, qv, k=10).collect()]
    banded = [
        r["vec_id"]
        for r in similarity.ann_topk_lsh_banded(e, qv, k=10).collect()
    ]
    assert exact[0] == 0 and banded[0] == 0  # self-match tops both
    assert len(set(exact) & set(banded)) >= 8
    approx = [r["vec_id"] for r in similarity.ann_topk_lsh(e, qv, k=10).collect()]
    assert approx[0] == 0
    assert len(set(exact) & set(approx)) >= 2


def test_cosine_matches_numpy(spark):
    import numpy as np

    e = emb(spark).limit(2).collect()
    a, b = np.array(e[0]["embedding"], dtype=float), np.array(
        e[1]["embedding"], dtype=float
    )
    expected = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    df = emb(spark).limit(2).agg(
        F.collect_list(similarity.as_double(F.col("embedding"))).alias("vs")
    ).select(
        similarity.cosine(
            F.element_at("vs", 1), F.element_at("vs", 2)
        ).alias("c")
    )
    got = df.collect()[0]["c"]
    assert abs(got - expected) < 1e-9


def test_langid_deterministic_and_covers(spark):
    out = docs(spark).select(text.lang_id(text.tokens("text")).alias("l"))
    vals = {r["l"] for r in out.collect()}
    assert vals <= {"en", "es", "de", "fr", "unknown"}


def test_multimodal_decode_stub(spark):
    d = docs(spark).limit(10)
    meta = multimodal.decode_blobs(multimodal.with_blob(d)).collect()
    src = {r["doc_id"]: r["text"] for r in d.collect()}
    for r in meta:
        n = len(src[r["doc_id"]].encode())
        assert (r["byte_len"], r["width"], r["height"], r["channels"]) == (
            n,
            n % 640,
            n % 480,
            3,
        )


def test_ivf_recall(spark):
    """IVF ANN must contain the exact top-1 (self-match) and overlap the
    exact top-10; probing all cells must reproduce the exact result."""
    e = emb(spark)
    qv = e.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    exact = [r["vec_id"] for r in similarity.topk_cosine(e, qv, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.ivf_topk(e, qv, k=10).collect()]
    assert approx[0] == 0
    assert len(set(exact) & set(approx)) >= 2
    full = [
        r["vec_id"]
        for r in similarity.ivf_topk(
            e, qv, k=10, n_centroids=8, n_probe=8
        ).collect()
    ]
    assert full == exact  # probing every cell == brute force


def test_binary_file_ingestion_roundtrip(spark, tmp_path):
    """The real multimodal entry point: blobs written as files, read back
    through spark.read.format('binaryFile'), doc ids parsed from file
    names, content bytes identical to the source text."""
    d = docs(spark).limit(25)
    path = str(tmp_path / "blobs")
    multimodal.write_blob_fixture(d, path)
    back = multimodal.read_blob_files(spark, path)
    src = {r["doc_id"]: r["text"].encode("utf-8") for r in d.collect()}
    got = {r["doc_id"]: bytes(r["blob"]) for r in back.collect()}
    assert got == src
    # idempotent: a second write is a no-op (the _SUCCESS marker short-circuits)
    assert multimodal.write_blob_fixture(d, path) == path


def test_multimodal_resize_stub(spark):
    d = docs(spark).limit(5)
    out = multimodal.resize_blobs(multimodal.with_blob(d), 64, 32).collect()
    src = {r["doc_id"]: r["text"].encode() for r in d.collect()}
    for r in out:
        assert (r["out_w"], r["out_h"], len(r["out_bytes"])) == (64, 32, 2048)
        assert bytes(r["out_bytes"]).rstrip(b"\0") == src[r["doc_id"]][:2048].rstrip(b"\0")


def test_multimodal_frame_sample(spark):
    d = docs(spark).limit(5)
    rows = multimodal.sample_frames(multimodal.with_blob(d), n_frames=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, frames in by_doc.items():
        assert [f["frame_idx"] for f in sorted(frames, key=lambda f: f["frame_idx"])] == list(range(len(frames)))
        assert all(f["frame_bytes"] > 0 for f in frames)


def test_sketch_rollup_estimate_close_to_exact(spark):
    """q50: the monthly distinct estimate from unioned daily HLL sketches
    must sit within 5% of the exact distinct count."""
    from kstreamjs_spark.queries import all_queries
    from .conftest import SF_SMOKE

    from kstreamjs_spark.tables import load

    rows = all_queries()["q50_sketch_rollup"].fn(spark, SF_SMOKE).collect()
    (ev,) = load(spark, SF_SMOKE, "events")
    exact = {
        r["month"]: r["u"]
        for r in ev.groupBy(
            F.date_trunc("month", "ts").alias("month")
        ).agg(F.countDistinct("user_id").alias("u")).collect()
    }
    assert rows
    for r in rows:
        e = exact[r["month"]]
        assert abs(r["approx_users"] - e) / e < 0.05, (r["month"], r["approx_users"], e)


def test_containment_catches_quote_jaccard_misses(spark):
    """The operator's reason to exist: a short doc quoted verbatim inside
    a much longer one has containment 1.0 on the short side but Jaccard
    |short|/|long| << threshold — jaccard_pairs must miss the pair at 0.5
    while containment_pairs flags it."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    long_doc = filler + " " + short
    d = spark.createDataFrame(
        [(1, short, "s"), (2, long_doc, "s"), (3, "unrelated text here now", "s")],
        "doc_id long, text string, source string",
    )
    jac = dedup.jaccard_pairs(d, threshold=0.5).collect()
    assert jac == []
    cont = dedup.containment_pairs(d, threshold=0.9).collect()
    assert [(r["d1"], r["d2"]) for r in cont] == [(1, 2)]
    assert cont[0]["c1"] == 1.0  # the short side is fully contained


def test_ordered_funnel_strict_ordering(spark):
    """The property co-occurrence counting gets wrong: a user whose clicks
    all PRECEDE their first view must not count as view->click, and a
    later-stage event between earlier f-timestamps must chain correctly."""
    from kstreamjs_spark.operators import funnel

    rows = [
        # user 1: view@10, click@20, purchase@30 -> full funnel
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
        # user 2: click@5 BEFORE view@10 -> funnel stops after view
        (2, 5, "click"), (2, 10, "view"),
        # user 3: view@10, click@20, but purchase@15 < click -> stops at click
        (3, 10, "view"), (3, 15, "purchase"), (3, 20, "click"),
    ]
    df = spark.createDataFrame(
        [(u, t * 1_000_000, et) for u, t, et in rows],
        "user_id long, us long, event_type string",
    ).select(
        "user_id", "event_type",
        F.timestamp_micros(F.col("us")).alias("ts"),
    )
    out = {
        r["user_id"]: (r["f1"], r["f2"], r["f3"])
        for r in funnel.ordered_funnel(
            df, ["view", "click", "purchase"]
        ).collect()
    }
    assert out[1] == (10_000_000, 20_000_000, 30_000_000)
    assert out[2][0] == 10_000_000 and out[2][1] is None and out[2][2] is None
    assert out[3][1] == 20_000_000 and out[3][2] is None
    counts = funnel.funnel_counts(
        funnel.ordered_funnel(df, ["view", "click", "purchase"]), 3
    ).collect()[0]
    assert (counts["n_keys"], counts["n_stage1"], counts["n_stage2"],
            counts["n_stage3"]) == (3, 3, 2, 1)


def test_fuzzy_blocked_recall_substitution_noise(spark):
    """Pigeonhole guarantee, exercised end-to-end: <=5 substitutions touch
    <=5 of the 6 prefix chunks, so every substitution-noised duplicate
    MUST be recalled by the chunk equi-join — recall is exactly 1.0 on
    substitution noise, not a lucky-corpus statistic. The fixture plants
    controlled substitution counts at spread-out positions (worst case for
    chunk coverage) plus over-distance negatives that must be excluded by
    the exact verify."""
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [(0, "s", base)]
    # k substitutions at positions spread across the 40-char prefix: each
    # lands in a different chunk, the hardest placement for the blocking.
    for k in range(1, 6):
        chars = list(base)
        for j in range(k):
            pos = 2 + 7 * j  # one edit per 7-char chunk
            chars[pos] = "z" if chars[pos] != "z" else "q"
        rows.append((k, "s", "".join(chars)))
    # 6 substitutions -> distance 6 from doc 0 -> the (0, 99) pair must be
    # excluded by the exact verify (it may still legitimately pair with the
    # intermediate variants it is within distance 5 of).
    chars = list(base)
    for j in range(6):
        pos = 2 + 6 * j
        chars[pos] = "z" if chars[pos] != "z" else "q"
    rows.append((99, "s", "".join(chars)))
    d = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        (r["d1"], r["d2"]): r["dist"]
        for r in dedup.fuzzy_prefix_pairs(d, max_dist=5).collect()
    }
    for k in range(1, 6):
        assert (0, k) in got, f"substitution-{k} pair missed: {sorted(got)}"
        assert got[(0, k)] == k
    assert (0, 99) not in got, got


def test_fuzzy_blocked_matches_exact_on_corpus(spark):
    """On the benchmark corpus the blocked variant (q104b's operator) must
    find exactly the same pair set as the all-pairs exact join at the same
    threshold — no false positives ever (exact verify), and no misses here
    because the planted near-dup noise is substitution-dominated. Also
    pins dist values (both are exact levenshtein over the same prefix)."""
    d = docs(spark)
    p = d.select(
        "doc_id", "source",
        F.substring(text.normalize_text("text"), 1, 40).alias("pre"),
    ).filter(F.col("pre") != "")
    a = p.select(
        F.col("doc_id").alias("d1"), F.col("source").alias("s1"),
        F.col("pre").alias("pre1"),
    )
    b = p.select(
        F.col("doc_id").alias("d2"), F.col("source").alias("s2"),
        F.col("pre").alias("pre2"),
    )
    exact = {
        (r["d1"], r["d2"], r["dist"])
        for r in a.join(
            b, (F.col("s1") == F.col("s2")) & (F.col("d1") < F.col("d2"))
        )
        .select(
            "d1", "d2",
            F.levenshtein("pre1", "pre2").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 5)
        .collect()
    }
    blocked = {
        (r["d1"], r["d2"], r["dist"])
        for r in dedup.fuzzy_prefix_pairs(d, max_dist=5).collect()
    }
    assert blocked == exact, (
        f"missed: {exact - blocked}; phantom: {blocked - exact}"
    )


def test_fuzzy_blocked_max_df_prunes_hot_bucket(spark):
    """max_df is the candidate-bucket ceiling: when every document shares
    an identical chunk (boilerplate prefix), that bucket alone would be
    quadratic; with the ceiling active the hot chunk is dropped from
    candidate generation while pairs still agreeing on a NON-hot chunk
    keep being found through it."""
    shared = "common header "  # 14 chars -> fills chunks 0..1
    # Tails constructed so every pair differs at EVERY position (i*7 mod 26
    # is a bijection), i.e. pairwise distance 26 >> 5 — the only thing
    # these docs share is the hot header.
    tail = lambda i: "".join(  # noqa: E731
        chr(ord("a") + (i * 7 + k * 13) % 26) for k in range(26)
    )
    rows = [(i, "s", shared + tail(i)) for i in range(20)]
    # Two docs with identical tails: still pair via their (non-hot) tail
    # chunks even when the shared-header chunks are pruned.
    rows.append((100, "s", shared + "identical tail words for the pair x"))
    rows.append((101, "s", shared + "identical tail words for the pair x"))
    d = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    pruned = dedup.fuzzy_prefix_pairs(d, max_dist=5, max_df=5).collect()
    got = {(r["d1"], r["d2"]) for r in pruned}
    assert (100, 101) in got
    # The 22 shared-header docs (20 distinct tails + the identical pair) differ by more than
    # the distance bound, so with the hot header chunks pruned none of
    # their pairs survive: the quadratic bucket is gone.
    assert all(p == (100, 101) for p in got), sorted(got)[:10]


def _banding_corpus(n_pairs: int, m: int, k: int, tag: str):
    """n_pairs (base, variant) doc pairs over pair-disjoint vocabularies.

    Base doc = m distinct tokens; variant shares the first k tokens and
    replaces the rest — so with 3-gram shingling the pair's exact shingle
    Jaccard is ~(k-2)/(2m-k-2), but the test never relies on that formula:
    it recomputes the exact per-pair Jaccard from the actual shingle sets.
    Disjoint vocabularies keep cross-pair Jaccard at exactly 0, so the
    analytic candidate probability for every non-constructed pair is 0.
    """
    rows, truth = [], []
    for i in range(n_pairs):
        base = [f"{tag}p{i}w{j}" for j in range(m)]
        var = base[:k] + [f"{tag}p{i}v{j}" for j in range(m - k)]
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(var)))
        sh_b = {tuple(base[j : j + 3]) for j in range(m - 2)}
        sh_v = {tuple(var[j : j + 3]) for j in range(m - 2)}
        j_exact = len(sh_b & sh_v) / len(sh_b | sh_v)
        truth.append(((2 * i, 2 * i + 1), j_exact))
    return rows, truth


def test_lsh_candidate_rate_matches_banding_curve(spark):
    """The measured LSH candidate rate must track the analytic banding
    curve P(j) = 1 - (1 - j^r)^b at three similarity levels (low / knee /
    high) — so a signature or banding bug (wrong rows-per-band split,
    broken permutation, band-id mixing) cannot pass on a lucky corpus
    where recall-only tests still succeed. Expected count and variance
    are summed per-pair from each pair's EXACT shingle Jaccard; the
    assertion is a 5-sigma binomial band plus a small absolute slack for
    the residual non-min-wise-independence of universal hashing."""
    num_perm, bands = 64, 16
    r = num_perm // bands
    m = 30
    levels = {"lo": 12, "knee": 20, "hi": 26}  # k -> j ~ 0.22 / 0.47 / 0.75
    for tag, k in levels.items():
        rows, truth = _banding_corpus(60, m, k, tag)
        d = spark.createDataFrame(rows, ["doc_id", "text"])
        # threshold=0 keeps every candidate: measures candidate GENERATION,
        # not the downstream estimate filter.
        cand = {
            (row["d1"], row["d2"])
            for row in dedup.minhash_neardup_pairs(
                d, threshold=0.0, num_perm=num_perm, bands=bands
            ).collect()
        }
        expected = sum(1 - (1 - j**r) ** bands for _, j in truth)
        var = sum(
            (p := 1 - (1 - j**r) ** bands) * (1 - p) for _, j in truth
        )
        got = sum(1 for pair, _ in truth if pair in cand)
        tol = 5 * var**0.5 + 3
        assert abs(got - expected) <= tol, (
            f"{tag}: measured {got} vs analytic {expected:.1f} "
            f"(tol {tol:.1f}) over {len(truth)} pairs"
        )
        # Cross-pair vocabularies are disjoint -> j=0 -> P(candidate)=0:
        # any extra candidate is a banding false-positive bug, not noise.
        extras = cand - {pair for pair, _ in truth}
        assert not extras, f"{tag}: j=0 pairs became candidates: {extras}"


def test_simhash_hamming_matches_hyperplane_curve(spark):
    """The measured SimHash Hamming distance must track the random-
    hyperplane curve E[hamming] = 64 * arccos(cos_sim) / pi at three
    similarity levels — the q26c analogue of the minhash banding-curve
    test: a packing/vote/sign bug shifts the curve even when pair
    ordering (what the recall tests see) survives. Each doc pair shares
    k of m distinct tokens (count-1 vectors: cos = k/m exactly); bits
    are independent ±1 projections (each token's 64 sign bits come from
    independent bits of one xxhash64), so the total Hamming over N pairs
    is binomial — asserted within 5 sigma plus a slack for the ±1 (vs
    Gaussian) projection's finite-dimension bias."""
    import math

    m = 30
    for tag, k in {"lo": 12, "knee": 20, "hi": 26}.items():
        rows = []
        for i in range(60):
            base = [f"s{tag}p{i}w{j}" for j in range(m)]
            var = base[:k] + [f"s{tag}p{i}v{j}" for j in range(m - k)]
            rows.append((2 * i, " ".join(base)))
            rows.append((2 * i + 1, " ".join(var)))
        d = spark.createDataFrame(rows, ["doc_id", "text"])
        sig = {
            r["doc_id"]: r["h"]
            for r in d.select(
                "doc_id", dedup.simhash64("text").alias("h")
            ).collect()
        }
        total = sum(
            bin((sig[2 * i] ^ sig[2 * i + 1]) & ((1 << 64) - 1)).count("1")
            for i in range(60)
        )
        p = math.acos(k / m) / math.pi
        expected = 60 * 64 * p
        sigma = math.sqrt(60 * 64 * p * (1 - p))
        tol = 5 * sigma + 0.05 * expected + 3
        assert abs(total - expected) <= tol, (
            f"{tag}: total hamming {total} vs analytic {expected:.0f} "
            f"(tol {tol:.0f})"
        )


def test_fuzzy_pairs_short_prefixes_no_degenerate_bucket(spark):
    """Documents whose normalized prefix is shorter than the chunk span
    must NOT all meet through empty trailing chunks: 40 short docs with
    pairwise-distant prefixes yield zero candidates (before the
    empty-chunk exclusion they formed one quadratic (source, cid, '')
    bucket), while identical short prefixes still pair via chunk 0."""
    import pyspark.sql.functions as F  # noqa: F401

    from kstreamjs_spark.operators import dedup

    # 12-char prefixes built from two 6-char letter blocks: any two
    # distinct docs differ in at least one whole block (>= 6
    # substitutions > max_dist). Only chunks 0-1 of the 6-chunk/40-char
    # layout overlap real text.
    distinct = [
        (
            i,
            "s",
            chr(ord("a") + i // 26) * 6 + chr(ord("a") + i % 26) * 6,
        )
        for i in range(40)
    ]
    rows = distinct + [(200, "s", "same txt"), (201, "s", "same txt")]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    pairs = dedup.fuzzy_prefix_pairs(
        docs, max_dist=5, prefix_len=40, partition_col="source"
    ).collect()
    got = {(r["d1"], r["d2"]) for r in pairs}
    assert (200, 201) in got  # identical short prefixes: chunk 0 pairs them
    # nothing else is within distance 5, and — the point — the empty
    # trailing chunks create no candidates at all
    others = {p for p in got if p != (200, 201)}
    assert not others, sorted(others)[:10]


def test_ann_lsh_dim_guard_per_row(spark):
    """The dim guard lives in the expression path: a wrong-length vector
    ANYWHERE in the table fails loudly (not just row 1, and with no eager
    driver-side probe job re-running the upstream plan)."""
    import pytest

    good = emb(spark).limit(5)
    bad = good.withColumn(
        "embedding",
        F.when(F.col("vec_id") == good.select(F.max("vec_id")).collect()[0][0],
               F.slice("embedding", 1, 32)).otherwise(F.col("embedding")),
    )
    qv = good.limit(1).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    with pytest.raises(Exception, match="ann_topk_lsh: dim=64"):
        similarity.ann_topk_lsh(bad, qv, k=3).collect()


def test_bmp_decode_roundtrip_pure():
    """The real (non-stub) kernel: encode->decode recovers exact dims for
    assorted sizes, including rows needing 4-byte padding and a top-down
    (negative-height) variant."""
    for w, h in [(1, 1), (3, 2), (640, 480), (7, 5)]:
        blob = multimodal.encode_bmp(w, h)
        assert multimodal.decode_bmp(blob) == (len(blob), w, h, 3)
    # top-down row order: negative height decodes to positive rows
    blob = bytearray(multimodal.encode_bmp(4, 6))
    blob[22:26] = (-6).to_bytes(4, "little", signed=True)
    assert multimodal.decode_bmp(bytes(blob)) == (len(blob), 4, 6, 3)


def test_bmp_decode_rejects_malformed():
    """Strict validation: anything not a well-formed uncompressed BMP
    falls back (returns None) — text bytes, truncation, compressed,
    wrong file-size field."""
    good = multimodal.encode_bmp(8, 8)
    assert multimodal.decode_bmp(b"BM hello world, this is text " * 3) is None
    assert multimodal.decode_bmp(good[:-10]) is None  # truncated body
    compressed = bytearray(good)
    compressed[30] = 1  # BI_RLE8
    assert multimodal.decode_bmp(bytes(compressed)) is None
    wrong_size = bytearray(good)
    wrong_size[2:6] = (len(good) + 7).to_bytes(4, "little")
    assert multimodal.decode_bmp(bytes(wrong_size)) is None


def test_multimodal_decode_real_images_via_spark(spark):
    """All three real image kernels through ONE decode_blobs frame: the
    sniff dispatches BMP, PNG, and baseline JPEG (gray AND color) to
    their true dimensions; non-image rows in the same batch keep the
    stub contract; WAV/MP4 payloads are NOT squeezed into the image
    schema (they stub — their typed decoders are separate)."""
    rows = [
        (1, bytearray(multimodal.encode_bmp(16, 9))),
        (2, bytearray(multimodal.encode_bmp(320, 200))),
        (3, bytearray(b"not an image")),
        (4, bytearray(multimodal.encode_png(4, 3, bytes(4 * 3 * 3), 3))),
        (5, bytearray(multimodal.encode_jpeg(8, 16, [40, 42]))),
        (6, bytearray(multimodal.encode_jpeg(16, 8, [40, 42], n_components=3))),
        (7, bytearray(multimodal.encode_wav(100))),
        (8, bytearray(multimodal.encode_mp4(4))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in multimodal.decode_blobs(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (16, 9, 3)
    assert (got[2]["width"], got[2]["height"], got[2]["channels"]) == (320, 200, 3)
    n = len(b"not an image")
    assert (got[3]["width"], got[3]["height"]) == (n % 640, n % 480)
    assert (got[4]["width"], got[4]["height"], got[4]["channels"]) == (4, 3, 3)
    assert (got[5]["width"], got[5]["height"], got[5]["channels"]) == (8, 16, 1)
    assert (got[6]["width"], got[6]["height"], got[6]["channels"]) == (16, 8, 3)
    for wav_or_mp4 in (7, 8):
        b = bytes(rows[wav_or_mp4 - 1][1])
        assert (got[wav_or_mp4]["width"], got[wav_or_mp4]["height"]) == (
            len(b) % 640, len(b) % 480)


def test_wav_decode_roundtrip_pure():
    """The real audio kernel: encode->decode recovers exact channel
    count, sample rate, and sample count for assorted shapes."""
    for ns, sr, ch, bits in [
        (1, 8000, 1, 16), (1000, 16000, 1, 16),
        (441, 44100, 2, 16), (7, 22050, 1, 8),
    ]:
        blob = multimodal.encode_wav(ns, sr, ch, bits)
        assert multimodal.decode_wav(blob) == (len(blob), ch, sr, ns)


def test_wav_decode_rejects_malformed():
    good = multimodal.encode_wav(100)
    assert multimodal.decode_wav(b"RIFFxxxxWAVEnot really" * 3) is None
    assert multimodal.decode_wav(good[:-5]) is None  # truncated data chunk
    nonpcm = bytearray(good)
    nonpcm[20] = 3  # IEEE-float format tag
    assert multimodal.decode_wav(bytes(nonpcm)) is None
    lying = bytearray(good)
    lying[4:8] = (len(good)).to_bytes(4, "little")  # riff size off by 8
    assert multimodal.decode_wav(bytes(lying)) is None


def test_multimodal_decode_audio_via_spark(spark):
    """WAVs through the mapInPandas plumbing: real metadata for PCM
    payloads, explicit NULLs (never fake numbers) for non-audio rows."""
    rows = [
        (1, bytearray(multimodal.encode_wav(500, 16000, 2))),
        (2, bytearray(b"definitely not audio")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in multimodal.decode_audio_blobs(df).collect()}
    assert (got[1]["n_channels"], got[1]["sample_rate"], got[1]["n_samples"]) == (2, 16000, 500)
    assert got[2]["n_channels"] is None and got[2]["byte_len"] == 20


def test_wav_odd_body_pad_byte_spec_compliant():
    """RIFF word alignment: an odd-length data chunk (bits=8, odd
    n_samples*channels) carries a trailing pad byte counted in the RIFF
    size but NOT in the data chunk size — the encoded fixture is
    spec-compliant, not merely tolerated by our own decoder."""
    blob = multimodal.encode_wav(7, 22050, 1, bits=8)
    assert len(blob) % 2 == 0  # padded to word boundary
    assert int.from_bytes(blob[4:8], "little") == len(blob) - 8
    # walk to the data chunk: its declared size is the UNpadded body
    pos = 12
    sizes = {}
    while pos + 8 <= len(blob):
        cid = blob[pos:pos + 4]
        size = int.from_bytes(blob[pos + 4:pos + 8], "little")
        sizes[cid] = size
        pos += 8 + size + (size & 1)
    assert sizes[b"data"] == 7  # 7 samples x 1 ch x 1 byte, pad excluded
    assert multimodal.decode_wav(blob) == (len(blob), 1, 22050, 7)


def test_ann_lsh_raises_on_wrong_query_dim(spark):
    """The query-side twin of the vectors-side dim guard: a wrong-length
    qv must fail loudly instead of zeroing the signature and returning
    NULL-scored garbage top-k."""
    import pytest

    vecs = emb(spark).limit(5)
    qv = vecs.limit(1).select(
        F.slice(similarity.as_double(F.col("embedding")), 1, 32).alias("qv")
    )
    with pytest.raises(Exception, match="ann_topk_lsh: dim=64 but query"):
        similarity.ann_topk_lsh(vecs, qv, k=3).collect()


def test_png_decode_rejects_malformed():
    """Strict validation: CRC corruption, truncation, lying chunk
    lengths, interlace, and a bad filter byte all return None (fall back)
    rather than half-decoding."""
    import zlib

    good = multimodal.encode_png(8, 8, bytes(range(64)), 1)
    assert multimodal.decode_png(b"not a png at all") is None
    assert multimodal.decode_png(good[:-6]) is None  # truncated IEND
    flipped = bytearray(good)
    flipped[20] ^= 1  # corrupt IHDR payload -> CRC mismatch
    assert multimodal.decode_png(bytes(flipped)) is None
    # interlaced flag: rebuild IHDR with interlace=1 and a VALID crc —
    # must be rejected honestly, not half-decoded
    ihdr = bytearray(good[16:29])
    ihdr[12] = 1
    chunk = (13).to_bytes(4, "big") + b"IHDR" + bytes(ihdr)
    crc = (zlib.crc32(chunk[4:]) & 0xFFFFFFFF).to_bytes(4, "big")
    interlaced = good[:8] + chunk + crc + good[33:]
    assert multimodal.decode_png(interlaced) is None
    # bad filter byte inside a correctly-CRC'd IDAT
    raw = bytearray(b"\x05" + bytes(8))  # filter 5 does not exist
    raw += bytes(9) * 7
    idat = zlib.compress(bytes(raw))
    body = (13).to_bytes(4, "big") + b"IHDR" + good[16:29]
    blob = (
        good[:8]
        + body + (zlib.crc32(body[4:]) & 0xFFFFFFFF).to_bytes(4, "big")
    )
    ich = len(idat).to_bytes(4, "big") + b"IDAT" + idat
    blob += ich + (zlib.crc32(ich[4:]) & 0xFFFFFFFF).to_bytes(4, "big")
    iend = (0).to_bytes(4, "big") + b"IEND"
    blob += iend + (zlib.crc32(iend[4:]) & 0xFFFFFFFF).to_bytes(4, "big")
    assert multimodal.decode_png(blob) is None


def test_multimodal_decode_png_via_spark(spark):
    """PNGs through the mapInPandas plumbing: real metadata + pixel
    checksum for PNG payloads, explicit NULLs for non-image rows."""
    px = bytes([7]) * (4 * 3 * 3)
    rows = [
        (1, bytearray(multimodal.encode_png(4, 3, px, 3))),
        (2, bytearray(b"definitely not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in multimodal.decode_png_blobs(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["n_channels"],
            got[1]["bit_depth"], got[1]["pixel_sum"]) == (4, 3, 3, 8, 7 * 36)
    assert got[2]["width"] is None and got[2]["pixel_sum"] is None


def test_mp4_decode_rejects_malformed():
    """Strict ISO-BMFF validation: truncation, trailing junk, size lies,
    stts/stsz disagreement, and samples outside mdat all return None
    (fall back) rather than half-decoding."""
    good = multimodal.encode_mp4(25)
    assert multimodal.decode_mp4(b"not a movie at all") is None
    assert multimodal.decode_mp4(good[:-1]) is None   # boxes no longer tile
    assert multimodal.decode_mp4(good + b"\x00") is None
    lying = bytearray(good)
    lying[0] ^= 1                                     # ftyp size lie
    assert multimodal.decode_mp4(bytes(lying)) is None
    # stsz count != stts frame count: patch the stsz sample count field
    idx = good.index(b"stsz")
    mismatched = bytearray(good)
    cnt = int.from_bytes(good[idx + 12:idx + 16], "big")
    mismatched[idx + 12:idx + 16] = (cnt + 1).to_bytes(4, "big")
    assert multimodal.decode_mp4(bytes(mismatched)) is None
    # declared sample bytes exceeding mdat: inflate one stsz entry
    fat = bytearray(good)
    fat[idx + 16:idx + 20] = (10 ** 6).to_bytes(4, "big")
    assert multimodal.decode_mp4(bytes(fat)) is None


def test_mp4_frame_table_matches_layout():
    """The stts/stsz/stsc/stco walk reproduces the encoder's exact
    back-to-back sample layout, mdat-relative."""
    blob = multimodal.encode_mp4(10, 33, 600)
    rows = multimodal.mp4_sample_table(blob)
    off = 0
    for i, (idx, o, size, tms) in enumerate(rows):
        assert (idx, o, size) == (i, off, 16 + i % 7)
        assert tms == i * 33 * 1000 // 600
        off += size
    assert multimodal.mp4_sample_table(b"RIFF garbage") is None


def test_multimodal_decode_mp4_via_spark(spark):
    """MP4s through the mapInPandas plumbing: real metadata for video
    payloads, explicit NULLs for non-video rows; the frame sampler
    explodes real sample-table rows and skips non-MP4 payloads."""
    rows = [
        (1, bytearray(multimodal.encode_mp4(4, 40, 1000, 320, 240))),
        (2, bytearray(b"definitely not a movie")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in multimodal.decode_video_blobs(df).collect()}
    assert (got[1]["duration_ms"], got[1]["width"], got[1]["height"],
            got[1]["n_frames"], got[1]["sample_bytes"]) == (160, 320, 240, 4, 70)
    assert got[2]["n_frames"] is None and got[2]["duration_ms"] is None
    frames = multimodal.sample_mp4_frames(df).collect()
    assert sorted((r["doc_id"], r["frame_idx"], r["frame_off"],
                   r["frame_bytes"], r["t_ms"]) for r in frames) == [
        (1, 0, 0, 16, 0), (1, 1, 16, 17, 40),
        (1, 2, 33, 18, 80), (1, 3, 51, 19, 120),
    ]


def test_jpeg_decode_rejects_malformed():
    """Strict JPEG validation: mismarked SOF (a progressive SOF over a
    baseline-shaped scan header), restart intervals, 16-bit quant
    tables, truncation, and trailing junk all return None (fall back)
    rather than half-decoding."""
    good = multimodal.encode_jpeg(16, 16, [100, 102, 104, 106])
    assert multimodal.decode_jpeg(b"not an image") is None
    assert multimodal.decode_jpeg(good[:-1]) is None   # EOI truncated
    assert multimodal.decode_jpeg(good + b"\x00") is None
    # SOF0 rewritten to SOF2: the baseline-shaped interleaved full-band
    # scan (Ss=0, Se=63) is malformed under progressive rules (a DC
    # scan must have Se=0), so the mismarked file rejects
    sof = good.index(b"\xff\xc0")
    progressive = bytearray(good)
    progressive[sof + 1] = 0xC2
    assert multimodal.decode_jpeg(bytes(progressive)) is None
    # 16-bit quant table: set the DQT precision nibble
    dqt = good.index(b"\xff\xdb")
    deep = bytearray(good)
    deep[dqt + 4] = 0x10
    assert multimodal.decode_jpeg(bytes(deep)) is None
    # non-zero restart interval before SOS
    dri = b"\xff\xdd\x00\x04\x00\x08"
    with_dri = good[:sof] + dri + good[sof:]
    assert multimodal.decode_jpeg(with_dri) is None
    # corrupt entropy data must reject, never raise
    eoi = len(good) - 2
    for flip in range(max(eoi - 6, 0), eoi):
        mutated = bytearray(good)
        mutated[flip] ^= 0xFF
        out = multimodal.decode_jpeg(bytes(mutated))
        assert out is None or isinstance(out, tuple)


def test_jpeg_decode_generic_ac_path():
    """The decoder's AC run-length path is generic, not fixture-shaped:
    a hand-built scan with a real AC coefficient (run of 2 zeros, then
    +24 at zigzag index 3) decodes through dequant + full IDCT to the
    independently-computed float IDCT of those coefficients."""
    import math

    # tables: reuse the encoder's DC table; AC table with EOB and the
    # (run=2, size=5) symbol 0x25
    dc_bits, dc_vals = multimodal._JPEG_DC_BITS, multimodal._JPEG_DC_VALS
    ac_bits = [0, 2] + [0] * 14          # two 2-bit codes: EOB=00, 0x25=01
    ac_vals = [0x00, 0x25]
    seg = multimodal._jpeg_seg
    dqt = seg(0xDB, bytes([0x00]) + bytes([16] * 64))
    sof0 = seg(0xC0, bytes([8]) + (8).to_bytes(2, "big")
               + (8).to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
           + seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    w = multimodal._JpegBitWriter()
    w.write(0b0001, 4)   # DC category 1
    w.write(1, 1)        # diff = +1 -> DC coef 16 after dequant
    w.write(0b01, 2)     # AC symbol 0x25: skip 2 zeros, 5-bit coefficient
    w.write(24, 5)       # +24 -> zigzag index 3 (natural 16), value 384
    w.write(0b00, 2)     # EOB
    blob = b"\xff\xd8" + dqt + sof0 + dht + sos + w.flush() + b"\xff\xd9"
    out = multimodal.decode_jpeg(blob)
    assert out is not None and out[1:4] == (8, 8, 1)
    # independent reference: f(x,y) over the two nonzero coefficients
    def c(u):
        return math.sqrt(0.5) if u == 0 else 1.0
    total = 0
    for y in range(8):
        for x in range(8):
            s = 0.25 * (
                c(0) * c(0) * 16.0
                + c(2) * c(0) * 384.0  # natural index 16 = (u=2, v=0)
                * math.cos((2 * y + 1) * 2 * math.pi / 16)
            )
            total += min(max(int(round(s)) + 128, 0), 255)
    assert out[4] == total


def test_multimodal_decode_jpeg_via_spark(spark):
    """JPEGs through the mapInPandas plumbing: real metadata + pixel
    checksum for baseline payloads, explicit NULLs for non-image rows."""
    rows = [
        (1, bytearray(multimodal.encode_jpeg(8, 16, [40, 42]))),
        (2, bytearray(b"definitely not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in multimodal.decode_jpeg_blobs(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["n_components"],
            got[1]["pixel_sum"]) == (8, 16, 1, 64 * (40 + 42))
    assert got[2]["width"] is None and got[2]["pixel_sum"] is None


def test_jpeg_color_roundtrip_and_rejections():
    """YCbCr 4:4:4 color path: neutral-chroma fixtures decode to exactly
    3x the grayscale checksum (interleaved MCUs, per-component DC
    predictors); a LYING sampling declaration (the entropy stream does
    not tile to the declared MCU layout), sampling factors beyond 2,
    and duplicate component ids are rejected."""
    vals = [28, 30, 254, 0]
    gray = multimodal.encode_jpeg(16, 16, vals)
    color = multimodal.encode_jpeg(16, 16, vals, n_components=3)
    g = multimodal.decode_jpeg(gray)
    c = multimodal.decode_jpeg(color)
    assert g == (len(gray), 16, 16, 1, 64 * sum(vals))
    assert c == (len(color), 16, 16, 3, 3 * 64 * sum(vals))
    # SOF0 body: marker(2) len(2) prec(1) h(2) w(2) ncomp(1), then
    # (id, sampling, qtab) per component from sof+10
    sof = color.index(b"\xff\xc0")
    # r10: 0x22 Y sampling is now a SUPPORTED layout (4:2:0), so
    # patching it onto a 4:4:4 entropy stream must fail the
    # stream-tiles-to-layout check (leftover blocks before EOI), never
    # half-decode
    sub = bytearray(color)
    sub[sof + 11] = 0x22
    assert multimodal.decode_jpeg(bytes(sub)) is None
    # sampling factors beyond 2 stay outside the envelope
    deep = bytearray(color)
    deep[sof + 11] = 0x33
    assert multimodal.decode_jpeg(bytes(deep)) is None
    # duplicate component id in SOF -> rejected
    dup = bytearray(color)
    dup[sof + 13] = dup[sof + 10]  # comp 2's id := comp 1's id
    assert multimodal.decode_jpeg(bytes(dup)) is None


def test_jpeg_420_roundtrip_and_phash_parity():
    """4:2:0 chroma-subsampled decode (r10): the quant-exact 4:2:0
    fixture reproduces its Y block values bit-for-bit on all three RGB
    channels (2x2-Y MCU traversal, chained Y DC predictor, chroma box
    upsample), matches the 4:4:4 rendering of the same content exactly
    (neutral chroma makes the layouts pixel-identical), and therefore
    pHashes identically — a 4:2:0 crawl dedups against a 4:4:4 one."""
    import numpy as np

    vals = [28, 64, 100, 252, 30, 42, 88, 200]
    b420 = multimodal.encode_jpeg(32, 16, vals, n_components=3,
                                  subsampling="420")
    b444 = multimodal.encode_jpeg(32, 16, vals, n_components=3)
    px420 = multimodal.decode_jpeg_pixels(b420)
    px444 = multimodal.decode_jpeg_pixels(b444)
    want = np.kron(
        np.array(vals).reshape(2, 4), np.ones((8, 8), dtype=np.int64)
    )
    assert px420.shape == (16, 32, 3)
    for ch in range(3):
        assert (px420[:, :, ch] == want).all(), ch
    assert (px420 == px444).all()
    h1 = multimodal.phash64(multimodal._pixels_to_luma(px420))
    h2 = multimodal.phash64(multimodal._pixels_to_luma(px444))
    assert h1 == h2
    # meta kernel agrees with the pixel kernel's sum
    meta = multimodal.decode_jpeg(b420)
    assert meta == (len(b420), 32, 16, 3, int(px420.sum(dtype="int64")))
    # truncating the (smaller) 4:2:0 stream keeps the strict contract
    assert multimodal.decode_jpeg(b420[:-3]) is None


def test_decode_kernels_reject_crafted_allocation_bombs():
    """A decoder inside a mapInPandas task must never let a CRAFTED
    HEADER choose the allocation: a ~150-byte JPEG declaring 65535x65535
    and a PNG whose tiny IDAT inflates far past its declared dims must
    both return None quickly (MemoryError is not a ValueError and would
    kill the task) — the round-8 review findings."""
    import zlib

    # JPEG: take a valid fixture and patch SOF dims to 65535x65535
    good = multimodal.encode_jpeg(8, 8, [100])
    sof = good.index(b"\xff\xc0")
    bomb = bytearray(good)
    bomb[sof + 5:sof + 7] = (65535).to_bytes(2, "big")
    bomb[sof + 7:sof + 9] = (65535).to_bytes(2, "big")
    assert multimodal.decode_jpeg(bytes(bomb)) is None
    # PNG: valid 4x4 pixel stream but IHDR claiming huge dims — the
    # bounded inflate must stop at expected+1, and the envelope gate
    # must reject dims whose raw size exceeds the decode budget
    px = bytes(16)
    good_png = multimodal.encode_png(4, 4, px, 1)
    ihdr = bytearray(good_png[16:29])
    ihdr[0:4] = (60000).to_bytes(4, "big")
    ihdr[4:8] = (60000).to_bytes(4, "big")
    chunk = (13).to_bytes(4, "big") + b"IHDR" + bytes(ihdr)
    crc = (zlib.crc32(chunk[4:]) & 0xFFFFFFFF).to_bytes(4, "big")
    huge = good_png[:8] + chunk + crc + good_png[33:]
    assert multimodal.decode_png(huge) is None
    # PNG: dims INSIDE the envelope but a deflate bomb lying about size —
    # inflate stops at expected+1 and the length mismatch rejects it
    ihdr2 = bytearray(good_png[16:29])
    ihdr2[0:4] = (100).to_bytes(4, "big")   # claims 100x100 gray
    ihdr2[4:8] = (100).to_bytes(4, "big")
    chunk2 = (13).to_bytes(4, "big") + b"IHDR" + bytes(ihdr2)
    crc2 = (zlib.crc32(chunk2[4:]) & 0xFFFFFFFF).to_bytes(4, "big")
    # IDAT holding 10 MB of zeros compressed to ~10 KB
    idat = zlib.compress(bytes(10_000_000))
    ich = len(idat).to_bytes(4, "big") + b"IDAT" + idat
    ich += (zlib.crc32(ich[4:]) & 0xFFFFFFFF).to_bytes(4, "big")
    iend = (0).to_bytes(4, "big") + b"IEND"
    iend += (zlib.crc32(iend[4:]) & 0xFFFFFFFF).to_bytes(4, "big")
    bomb_png = good_png[:8] + chunk2 + crc2 + ich + iend
    assert multimodal.decode_png(bomb_png) is None


def test_bmp_pixel_roundtrip_pure():
    """encode_bmp_pixels/decode_bmp_pixels exact content roundtrip:
    stride padding (widths not multiples of 4), bottom-up storage
    un-flipped to raster order, BGR->RGB unpack — and the top-down
    (negative height) variant decodes to the same raster order."""
    import numpy as np

    for w, h in [(1, 1), (3, 2), (7, 5), (32, 32)]:
        gray = bytes((i * 37 + 11) % 256 for i in range(w * h))
        blob = multimodal.encode_bmp_pixels(w, h, gray)
        px = multimodal.decode_bmp_pixels(blob)
        assert px.shape == (h, w, 3)
        want = np.frombuffer(gray, dtype=np.uint8).reshape(h, w)
        for c in range(3):
            assert (px[:, :, c] == want).all(), (w, h, c)
    # negative-height top-down storage: flip rows in the body, negate
    # height -> decode must produce the identical raster-order array
    w, h = 4, 6
    gray = bytes(range(w * h))
    blob = bytearray(multimodal.encode_bmp_pixels(w, h, gray))
    off = 54
    stride = (w * 3 + 3) & ~3
    body = blob[off:]
    flipped = b"".join(
        bytes(body[(h - 1 - y) * stride:(h - y) * stride]) for y in range(h)
    )
    blob[off:] = flipped
    blob[22:26] = (-h).to_bytes(4, "little", signed=True)
    px = multimodal.decode_bmp_pixels(bytes(blob))
    want = np.frombuffer(gray, dtype=np.uint8).reshape(h, w)
    assert (px[:, :, 0] == want).all()
    # malformed payloads keep the strict-fallback contract
    assert multimodal.decode_bmp_pixels(b"BM not a bitmap " * 8) is None


def test_phash_brightness_contrast_invariance():
    """pHash drops DC and thresholds AC coefficients at their median, so
    a global brightness shift / positive contrast scale must leave the
    hash EXACTLY unchanged, while an independent pattern must differ in
    many bits (this is the q158 oracle's entire correctness argument)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randint(0, 97, (32, 32)).astype(np.float64)
    h0 = multimodal.phash64(base)
    assert h0 == multimodal.phash64(base + 40)          # brightness
    assert h0 == multimodal.phash64(base * 2)           # contrast
    assert h0 == multimodal.phash64(base * 2 + 37)      # both
    other = np.random.RandomState(8).randint(0, 97, (32, 32))
    d = bin(h0 ^ multimodal.phash64(other)).count("1")
    assert d >= 10, d
    # non-32x32 input goes through the documented downsample
    big = np.kron(base, np.ones((2, 2)))
    assert multimodal.phash64(big) == h0


def test_phash_blobs_rejects_non_bmp(spark):
    """phash_blobs must fail loudly on payloads the real kernel cannot
    decode instead of hashing garbage."""
    import pytest

    df = spark.createDataFrame(
        [(1, bytearray(b"not a bitmap at all"))], "doc_id long, blob binary"
    )
    with pytest.raises(Exception, match="well-formed"):
        multimodal.phash_blobs(df).collect()


def test_png_pixel_roundtrip_pure():
    """encode_png/decode_png_pixels exact content roundtrip across all
    four channel layouts (the y%5 filter schedule exercises every PNG
    filter reconstruction), consistency with the checksum kernel, and
    the strict-fallback contract on malformed payloads."""
    import numpy as np

    for w, h, ch in [(1, 1, 1), (7, 5, 1), (6, 6, 2), (5, 7, 3), (4, 9, 4)]:
        content = bytes((i * 29 + 3) % 256 for i in range(w * h * ch))
        blob = multimodal.encode_png(w, h, content, n_channels=ch)
        px = multimodal.decode_png_pixels(blob)
        assert px.shape == (h, w, ch) and px.tobytes() == content
        meta = multimodal.decode_png(blob)
        assert meta[5] == int(px.sum(dtype="int64"))
    assert multimodal.decode_png_pixels(b"\x89PNG\r\n\x1a\n garbage") is None


def test_jpeg_pixel_roundtrip_pure():
    """decode_jpeg_pixels reproduces the quant-exact block construction
    bit-for-bit: gray decodes to a (h, w, 1) plane of the block values,
    neutral-chroma color to the same values on all three RGB channels,
    and malformed payloads keep the strict-fallback contract."""
    import numpy as np

    vals = [28, 64, 100, 252, 30, 42, 88, 200]
    blob = multimodal.encode_jpeg(32, 16, vals)
    px = multimodal.decode_jpeg_pixels(blob)
    assert px.shape == (16, 32, 1)
    want = np.kron(
        np.array(vals).reshape(2, 4), np.ones((8, 8), dtype=np.int64)
    )
    assert (px[:, :, 0] == want).all()
    color = multimodal.encode_jpeg(16, 8, [50, 220], n_components=3)
    cpx = multimodal.decode_jpeg_pixels(color)
    assert cpx.shape == (8, 16, 3)
    for c in range(3):
        assert (cpx[:, :8, c] == 50).all() and (cpx[:, 8:, c] == 220).all()
    assert multimodal.decode_jpeg_pixels(b"\xff\xd8 not a jpeg") is None


def test_decode_image_pixels_cross_codec_phash():
    """The magic-byte dispatch feeds all four codecs into ONE luma
    convention, so the same content rendered as BMP, PNG, quant-exact
    JPEG, and GIF (both row orders) must produce the identical pHash —
    the q158c/q158d correctness argument at the kernel level, including
    through the per-member brightness/contrast transform."""
    import numpy as np

    base = 28 + 2 * np.random.RandomState(42).randint(0, 40, (7, 7))
    hashes = set()
    for scale, off in [(1, 0), (2, 40), (1, 30)]:
        vals = base * scale + off
        img = bytes(
            np.kron(vals, np.ones((8, 8), dtype=np.int64))
            .astype(np.uint8).ravel()
        )
        renders = [
            multimodal.encode_bmp_pixels(56, 56, img),
            multimodal.encode_png(56, 56, img, n_channels=1),
            multimodal.encode_jpeg(56, 56, [int(v) for v in vals.ravel()]),
            multimodal.encode_gif_pixels(56, 56, img),
            multimodal.encode_gif_pixels(56, 56, img, interlace=True),
        ]
        for blob in renders:
            px = multimodal.decode_image_pixels(blob)
            assert px is not None and px.dtype.name == "uint8"
            hashes.add(multimodal.phash64(multimodal._pixels_to_luma(px)))
    assert len(hashes) == 1, hashes


def test_phash_blobs_robust_ingest(spark):
    """strict=False is the quarantine-not-kill corpus shape: bad rows
    yield NULL hash + a reason, clean rows hash byte-identically to
    strict mode, and a batch that mixes good and garbage never
    raises."""
    import numpy as np

    img = bytes(
        np.random.RandomState(3).randint(0, 256, 32 * 32)
        .astype(np.uint8)
    )
    good_bmp = multimodal.encode_bmp_pixels(32, 32, img)
    good_png = multimodal.encode_png(32, 32, img, n_channels=1)
    rows = [
        (1, bytearray(good_bmp)),
        (2, bytearray(b"BM but torn off")),          # bad BMP magic path
        (3, bytearray(good_png)),
        (4, bytearray(b"\x00\x01\x02 unknown format")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {
        r["doc_id"]: r
        for r in multimodal.phash_blobs(df, strict=False).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    strict_ref = {
        r["doc_id"]: r["phash"]
        for r in multimodal.phash_blobs(
            df.filter("doc_id in (1, 3)")
        ).collect()
    }
    for d in (1, 3):
        assert out[d]["phash"] == strict_ref[d] and out[d]["reason"] is None
    for d in (2, 4):
        assert out[d]["phash"] is None
        assert "undecodable" in out[d]["reason"]


def test_afp_blobs_robust_ingest(spark):
    """Audio twin of the robust-ingest contract, including the
    well-formed-but-too-short quarantine reason."""
    import numpy as np

    good = multimodal.encode_wav_samples(
        np.arange(-500, 500, dtype=np.int16)
    )
    short = multimodal.encode_wav_samples(np.arange(10, dtype=np.int16))
    rows = [
        (1, bytearray(good)),
        (2, bytearray(b"RIFF but not a wav")),
        (3, bytearray(short)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {
        r["doc_id"]: r
        for r in multimodal.afp_blobs(df, strict=False).collect()
    }
    strict_ref = multimodal.afp_blobs(df.filter("doc_id = 1")).collect()
    assert out[1]["afp"] == strict_ref[0]["afp"] and out[1]["reason"] is None
    assert out[2]["afp"] is None and "undecodable" in out[2]["reason"]
    assert out[3]["afp"] is None and "too short" in out[3]["reason"]
    # strict mode still fails loudly on the same short clip
    import pytest

    with pytest.raises(Exception, match="too short"):
        multimodal.afp_blobs(df.filter("doc_id = 3")).collect()


def test_knn_join_lsh_banded_recall(spark):
    """The banded batch k-NN join must recover >=80% of the exact
    knn_join's (qid, neighbor) pairs on the same 20-query batch — the
    same corpus/operating point the q27b single-query bar uses (measured
    0.82-0.88 across sf0.001/0.01/0.1; APPROX_EVIDENCE records the
    per-sf numbers)."""
    e = emb(spark)
    queries = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        similarity.as_double(F.col("embedding")).alias("qv"),
    )
    exact = {
        (r["qid"], r["vec_id"])
        for r in similarity.knn_join(e, queries, k=5).collect()
    }
    banded = {
        (r["qid"], r["vec_id"])
        for r in similarity.knn_join_lsh_banded(e, queries, k=5).collect()
    }
    assert len(exact & banded) >= int(0.8 * len(exact)), (
        len(exact & banded), len(exact)
    )


def test_knn_lsh_band_widening_on_clustered_corpus(spark):
    """The SCALE.md round-10 claim: on a clustered corpus (the geometry
    real embedding corpora have) AND-widening the bands to 8 bits
    prunes the candidate join several-fold while keeping recall perfect
    — same-cluster neighbors still collide with near-certainty, while
    cross-cluster admission drops ~2^-8 per band. (On uniform data the
    same widening destroys recall, which is why b=5 stays the
    default.)"""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((8, 64)) * 3.0
    n = 800
    base = centers[np.arange(n) % 8] + rng.standard_normal((n, 64)) * 0.05
    vecs = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    queries = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        similarity.as_double(F.col("embedding")).alias("qv"),
    )
    exact = {
        (r["qid"], r["vec_id"])
        for r in similarity.knn_join(vecs, queries, k=5).collect()
    }
    wide = {
        (r["qid"], r["vec_id"])
        for r in similarity.knn_join_lsh_banded(
            vecs, queries, k=5, band_bits=8
        ).collect()
    }
    assert len(exact & wide) >= int(0.9 * len(exact))
    # pruning really happened: the widened candidate set admits well
    # under half of the corpus per query
    n_cand = similarity.knn_join_lsh_banded(
        vecs, queries, k=n + 1, band_bits=8
    ).count()
    assert n_cand / (10 * (n - 1)) < 0.3, n_cand


def test_wav_sample_roundtrip_pure():
    """encode_wav_samples/decode_wav_samples exact content roundtrip
    (16-bit little-endian PCM, mono and stereo interleave), and the
    strict-fallback contract on malformed payloads."""
    import numpy as np

    samples = np.arange(-500, 500, dtype=np.int16)
    blob = multimodal.encode_wav_samples(samples, sample_rate=8000)
    rate, arr = multimodal.decode_wav_samples(blob)
    assert rate == 8000 and arr.shape == (1000, 1)
    assert (arr[:, 0] == samples).all()
    # stereo interleave: frame i = (L[i], R[i])
    inter = np.empty(200, dtype=np.int16)
    inter[0::2] = np.arange(100)       # L
    inter[1::2] = -np.arange(100)      # R
    blob2 = multimodal.encode_wav_samples(inter, n_channels=2)
    rate2, arr2 = multimodal.decode_wav_samples(blob2)
    assert arr2.shape == (100, 2)
    assert (arr2[:, 0] == np.arange(100)).all()
    assert (arr2[:, 1] == -np.arange(100)).all()
    assert multimodal.decode_wav_samples(b"RIFFjunkWAVEnope" * 4) is None
    # the metadata kernel agrees with the sample kernel
    assert multimodal.decode_wav(blob) == (len(blob), 1, 8000, 1000)
    # 8-bit payloads pass the metadata kernel but must be REJECTED by
    # the 16-bit sample extractor, regardless of chunk order
    b8 = multimodal.encode_wav(100, bits=8)
    assert multimodal.decode_wav(b8) is not None
    assert multimodal.decode_wav_samples(b8) is None


def test_afp_gain_invariance():
    """The energy-difference AFP compares adjacent frame energies, which
    scale together under positive gain with EXACT integer arithmetic in
    float64 — so gain must leave the hash unchanged while an independent
    pattern differs in many bits (the q160 oracle's correctness
    argument). DC offset is NOT claimed invariant (energy is not
    centered) — that is the documented contract difference vs pHash."""
    import numpy as np

    base = np.random.RandomState(3).randint(-4096, 4096, 2048)
    h0 = multimodal.afp64(base)
    assert h0 == multimodal.afp64(base * 2)
    assert h0 == multimodal.afp64(base * 3)
    other = np.random.RandomState(4).randint(-4096, 4096, 2048)
    assert bin(h0 ^ multimodal.afp64(other)).count("1") >= 10
    import pytest

    with pytest.raises(ValueError, match="afp64"):
        multimodal.afp64(np.arange(10))


def test_compressibility_separates_quality_regimes(spark):
    """The Gopher-style zlib signal must order the three regimes:
    degenerate repetition compresses lowest, natural-ish prose sits in
    the middle, and high-entropy noise barely compresses — and the
    byte accounting must be exact and deterministic. The measured
    ratio bands + full-corpus byte accounting at sf0.01 AND sf0.1 are
    recorded in APPROX_EVIDENCE.json under q163_compressibility
    (round 15 — the checked-in counterpart of this synthetic pin)."""
    import random
    import zlib

    rep = "spam " * 400
    prose = (
        "the quick brown fox jumps over the lazy dog and then wanders "
        "through a long meadow full of slightly varied sentences about "
        "joins windows and hash tables "
    ) * 12
    rng = random.Random(9)
    noise = "".join(chr(rng.randint(0x21, 0x7E)) for _ in range(2000))
    df = spark.createDataFrame(
        [(1, rep), (2, prose), (3, noise)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in text.compressibility(df).collect()}
    assert rows[1]["comp_ratio"] < rows[2]["comp_ratio"] < rows[3]["comp_ratio"]
    assert rows[1]["comp_ratio"] < 0.2 and rows[3]["comp_ratio"] > 0.8
    # exact byte accounting against stdlib zlib on the driver
    for did, t in [(1, rep), (2, prose), (3, noise)]:
        assert rows[did]["n_bytes"] == len(t.encode())
        assert rows[did]["n_compressed"] == len(zlib.compress(t.encode(), 6))
    # deterministic across runs
    again = {r["doc_id"]: r["comp_ratio"]
             for r in text.compressibility(df).collect()}
    assert all(again[d] == rows[d]["comp_ratio"] for d in again)
    # NULL text propagates null metrics instead of crashing the task
    # (review-2 finding), and a custom id column keeps its name/type
    withnull = spark.createDataFrame(
        [("a", "some text here"), ("b", None)], "cid string, text string"
    )
    nr = {r["cid"]: r for r in text.compressibility(
        withnull, id_col="cid").collect()}
    assert nr["b"]["n_bytes"] is None and nr["b"]["comp_ratio"] is None
    assert nr["a"]["n_bytes"] == len("some text here")


def test_knn_join_lsh_max_bucket_caps_degenerate_corpus(spark):
    """Adversarial skew: a block of IDENTICAL vectors collapses into one
    band bucket per band, making the candidate join quadratic in it.
    With max_bucket the hot buckets drop from the key space (both
    sides), bounding candidates, while normal rows' recall is untouched
    (their buckets stay below the ceiling)."""
    import numpy as np

    rng = np.random.RandomState(11)
    normal = [(i, [float(x) for x in rng.standard_normal(64)])
              for i in range(40)]
    clone = [float(x) for x in rng.standard_normal(64)]
    degenerate = [(1000 + i, list(clone)) for i in range(300)]
    df = spark.createDataFrame(
        normal + degenerate, "vec_id long, embedding array<double>"
    )
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        similarity.as_double(F.col("embedding")).alias("qv"),
    )
    capped = similarity.knn_join_lsh_banded(
        df, queries, k=3, max_bucket=100
    )
    rows = capped.collect()
    # the clone block never reaches any query's candidates: every one of
    # its buckets holds 300 > 100 rows
    assert all(r["vec_id"] < 1000 for r in rows), rows[:5]
    # normal-row results match the uncapped join restricted to normal
    # rows AT THESE SEEDS (a normal row colliding with a hot clique's
    # band value would lose that one band — bounded, not impossible;
    # this assertion pins the fixture's behavior, the docstring states
    # the probabilistic bound)
    uncapped = {
        (r["qid"], r["vec_id"])
        for r in similarity.knn_join_lsh_banded(
            df.filter(F.col("vec_id") < 1000), queries, k=3
        ).collect()
    }
    assert {(r["qid"], r["vec_id"]) for r in rows} == uncapped


def test_band_signature_udf_matches_local_reference(spark):
    """The Arrow banded-signature UDF must reproduce the straight numpy
    computation bit-for-bit (same planes, same pack order) — this is
    the contract that lets the q27b/q159 parameter sweeps be tuned in
    numpy and shipped to Spark unchanged."""
    import numpy as np

    from kstreamjs_spark.operators.similarity import _band_signature_udf

    rng = np.random.RandomState(21)
    V = rng.standard_normal((50, 64))
    planes = np.random.RandomState(42).standard_normal((100, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(50)],
        "vec_id long, v array<double>",
    )
    sig = _band_signature_udf(planes.tolist(), 5, 64, "'v'")
    got = {
        r["vec_id"]: list(r["s"])
        for r in df.select("vec_id", sig(F.col("v")).alias("s")).collect()
    }
    bits = (V @ planes.T) >= 0.0
    weights = (2 ** np.arange(5)).astype(np.int64)
    want = bits.reshape(50, 20, 5).astype(np.int64) @ weights
    for i in range(50):
        assert got[i] == list(want[i]), i


# --------------------------------- Gram matrix + power-iteration PCA (q172/b)


def test_gram_upper_matches_numpy_and_is_partition_invariant(spark):
    """gram_upper's quantize-before-sum cells equal a straight numpy
    reference exactly, and repartitioning the input (different Arrow
    batch boundaries, different partial split) changes NOTHING — the
    int64 quantization makes the sum order-free by construction."""
    import numpy as np

    e = emb(spark)
    X = np.stack(
        e.orderBy("vec_id").toPandas()["embedding"].to_numpy()
    ).astype(np.float64)
    ref = np.floor(
        np.einsum("ni,nj->nij", X, X) * 1_000_000 + 0.5
    ).astype(np.int64).sum(axis=0)

    got = {
        (r["i"], r["j"]): r["cell_q"]
        for r in similarity.gram_upper(e).collect()
    }
    assert len(got) == 64 * 65 // 2
    for (i, j), q in got.items():
        assert q == ref[i, j], (i, j, q, ref[i, j])

    again = {
        (r["i"], r["j"]): r["cell_q"]
        for r in similarity.gram_upper(e.repartition(13, "label")).collect()
    }
    assert again == got


def test_power_iteration_converges_to_leading_eigenvector(spark):
    """96 inf-norm power steps recover the true leading eigenvector of
    the real sf-smoke Gram matrix (cos >= 0.99 vs numpy eigh) — and this
    fixture's 1.0x spectral-gap ratio is the SLOW-convergence regime, so
    the bar is meaningful, not a gimme."""
    import numpy as np

    cells = {
        (r["i"], r["j"]): r["cell_q"]
        for r in similarity.gram_upper(emb(spark)).collect()
    }
    M = np.zeros((64, 64))
    for (i, j), q in cells.items():
        M[i, j] = q
        M[j, i] = q
    v = np.array(similarity.power_iteration_infnorm(cells, 64, iters=96))
    v = v / np.linalg.norm(v)
    top = np.linalg.eigh(M)[1][:, -1]
    assert abs(float(v @ top)) >= 0.99


def test_project_quantized_matches_python_mirror(spark):
    """The codegen quantized projection fold equals the per-row Python
    mirror exactly (same floor-per-term idiom the oracle uses)."""
    import math

    e = emb(spark)
    d = [((k * 37) % 19 - 9) / 10.0 for k in range(64)]
    got = {
        r["vec_id"]: r["pc_q"]
        for r in similarity.project_quantized(e, d).select(
            "vec_id", "pc_q"
        ).collect()
    }
    for row in e.select("vec_id", "embedding").collect():
        want = sum(
            int(math.floor(float(x) * d[j] * 1_000_000 + 0.5))
            for j, x in enumerate(row["embedding"])
        )
        assert got[row["vec_id"]] == want


# ------------------------------------------------- Z-order layout (q173)


def test_zvalue_matches_python_morton_mirror(spark):
    """The codegen shift/and/or chain equals a straight Python Morton
    interleave on adversarial bit patterns (all-ones, alternating,
    single-bit, boundary values)."""
    from kstreamjs_spark.operators import layout

    vals = [0, 1, 2, 3, 0xFFFF, 0xAAAA, 0x5555, 0x8000, 12345, 54321]
    rows = [(x, y) for x in vals for y in vals]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", layout.zvalue(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }

    def morton(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for x, y in rows:
        assert got[(x, y)] == morton(x, y), (x, y)


def test_zorder_buckets_bound_both_dims(spark):
    """The layout claim, measured: bucketing the Morton curve bounds
    BOTH quantized dimensions (small avg per-bucket range in x AND y),
    while bucketing an x-sort at the SAME bucket count bounds only x —
    its per-bucket y range stays ~the full 16-bit domain. This is
    exactly the min-max-pruning property a lakehouse writer buys with
    ZORDER."""
    from kstreamjs_spark.operators import layout

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    x = layout.quantize16(F.col("o_custkey"))
    y = layout.quantize16(F.floor(F.col("o_totalprice")))
    proj = orders.select(
        x.alias("x16"), y.alias("y16"),
        F.shiftright(layout.zvalue(x, y), 22).alias("zb"),
        # x-sorted baseline at a comparable bucket count: top 6 bits of
        # x16 -> 64 buckets (sf-smoke orders ~1.5k rows; z uses the same
        # data so sparse-bucket effects hit both layouts alike).
        F.shiftright(F.col("x16"), 10).alias("xb"),
    )

    def spreads(bucket_col):
        r = (
            proj.groupBy(bucket_col)
            .agg(
                (F.max("x16") - F.min("x16")).alias("rx"),
                (F.max("y16") - F.min("y16")).alias("ry"),
                F.count(F.lit(1)).alias("n"),
            )
            .filter(F.col("n") >= 2)
            .agg(F.avg("rx"), F.avg("ry"))
            .collect()[0]
        )
        return r[0], r[1]

    zx, zy = spreads("zb")
    xx, xy = spreads("xb")
    # x-sort: x tightly bounded, y unbounded (~full domain)
    assert xx < 2048 and xy > 32768, (xx, xy)
    # z-order: BOTH bounded, far below the x-sort's y spread
    assert zx < 16384 and zy < 16384, (zx, zy)
    assert zy < xy / 4, (zy, xy)


# ------------------------------------------- MJPEG video frame decode (q174)


def test_mjpeg_frame_decode_equals_standalone_jpeg():
    """Seek-and-decode through the container must yield the EXACT pixel
    array of the standalone JPEG frame; wrong codec, bad index, and
    non-MP4 payloads return None (total kernel)."""
    frames = [
        multimodal.encode_jpeg(
            56, 56, [28 + 2 * ((13 * f + b) % 114) for b in range(49)]
        )
        for f in range(4)
    ]
    v = multimodal.encode_mp4(
        4, width=56, height=56, frames=frames, codec=b"jpeg"
    )
    assert multimodal.mp4_codec(v) == b"jpeg"
    for f in range(4):
        px = multimodal.decode_mjpeg_frame(v, f)
        ref = multimodal.decode_jpeg_pixels(frames[f])
        assert px is not None and (px == ref).all(), f
    assert multimodal.decode_mjpeg_frame(v, 4) is None
    assert multimodal.decode_mjpeg_frame(v, -1) is None
    # default (non-MJPEG) container: codec mp4v -> pixel decode refuses
    plain = multimodal.encode_mp4(4)
    assert multimodal.mp4_codec(plain) == b"mp4v"
    assert multimodal.decode_mjpeg_frame(plain, 0) is None
    assert multimodal.decode_mjpeg_frame(b"\x00garbage", 0) is None


def test_mjpeg_phash_separates_groups(spark):
    """The q174 invariant, measured: same-group videos hash identically
    (hamming 0) and the minimum CROSS-group pHash distance stays far
    beyond the <=3 join cut."""
    d = docs(spark).limit(60)
    hashed = multimodal.mjpeg_phash_blobs(
        multimodal.synth_mjpeg_blobs(d)
    ).collect()
    by_group = {}
    for r in hashed:
        by_group.setdefault(r["doc_id"] // 3, []).append(r["vhash"])
        assert r["n_frames"] == 3 + (r["doc_id"] // 3) % 3
    for g, hs in by_group.items():
        assert len(set(hs)) == 1, g
    reps = {g: hs[0] for g, hs in by_group.items()}
    keys = sorted(reps)
    min_cross = min(
        bin(reps[a] ^ reps[b]).count("1")
        for i, a in enumerate(keys)
        for b in keys[i + 1:]
    )
    assert min_cross > 3, min_cross


def test_substring_dedup_merges_misaligned_spans(spark):
    """dedup.substring_dup_spans on a handcrafted corpus: a 10-token run
    shared between two docs at DIFFERENT offsets (the case q112's aligned
    chunks miss) must merge its three overlapping 8-token windows into
    ONE maximal island per doc; a unique doc must not appear at all."""
    from kstreamjs_spark.operators.dedup import substring_dup_spans

    run = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            # doc 1: run at tokens 3..12 (two leading filler tokens)
            (1, "pre1 pre2 " + run + " tail1 tail2", "en"),
            # doc 2: SAME run at tokens 1..10 (misaligned vs doc 1)
            (2, run + " other trailing words here", "en"),
            # doc 3: unique text, no 8-token window repeats
            (3, "one two three four five six seven eight nine ten", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["n_spans"],
                      r["dup_permille"])
        for r in substring_dup_spans(docs, width=8).collect()
    }
    # doc 3 is clean; docs 1 and 2 each carry ONE merged 10-token island
    # (windows at st 3,4,5 resp. 1,2,3 merged), 10*1000 DIV 14 = 714
    assert got == {
        1: (14, 10, 1, 714),
        2: (14, 10, 1, 714),
    }


def test_dsir_prefers_target_like_docs(spark):
    """q177's scoring core on a handcrafted corpus: a raw doc sharing the
    target's bigrams must outscore a raw doc with alien vocabulary (the
    importance-ratio sign check), with the exact integer micro-nat
    arithmetic mirrored in Python."""
    import math
    import pyspark.sql.functions as F
    from kstreamjs_spark.operators import text as text_ops

    B = 64
    target_text = "the cat sat on the mat and the dog ran"
    docs = spark.createDataFrame(
        [
            (1, target_text, "en", "s"),
            (2, "the cat sat on the mat quite often", "es", "s"),
            (3, "zzq qqz zqz qzz zzz qzq zqq qqq", "es", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    d = docs.select("doc_id", "lang", F.split("text", " ").alias("ts"))
    bg = (
        d.filter(F.size("ts") >= 2)
        .select(
            "doc_id", "lang",
            F.explode(F.sequence(F.lit(1), F.size("ts") - 1, F.lit(1)))
            .alias("i"), "ts")
        .select(
            "doc_id", "lang",
            F.concat_ws(" ", F.element_at("ts", F.col("i")),
                        F.element_at("ts", F.col("i") + 1)).alias("b"))
    )
    fb = bg.select(
        "doc_id", "lang", (text_ops.fingerprint("b") % B).alias("f")
    )
    is_t = F.col("lang") == "en"
    stats = fb.groupBy("f").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("cr"))
    tot = stats.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    lam = stats.crossJoin(F.broadcast(tot)).select(
        "f",
        F.floor(F.ln(((F.col("ct") + 1.0) * (F.col("tr") + B))
                     / ((F.col("cr") + 1.0) * (F.col("tt") + B)))
                * 1000000 + 0.5).cast("long").alias("lam"))
    sc = (fb.filter(~is_t).join(F.broadcast(lam), "f")
          .groupBy("doc_id").agg(F.sum("lam").alias("score")))
    got = {r["doc_id"]: r["score"] for r in sc.collect()}
    # doc 2 (shares target bigrams) must outscore doc 3 (alien bigrams)
    assert got[2] > got[3]

    # exact Python mirror of the integer micro-nat arithmetic
    def fp(b):
        acc = 0
        for t in b.split(" "):
            acc = (acc * 31 + (len(t) * 131 + ord(t[0]) * 7
                               + ord(t[-1]))) % 1000000007
        return acc

    def bigrams(s):
        ws = s.split(" ")
        return [ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)]

    ct, cr = [0] * B, [0] * B
    for txt, lang in [(target_text, "en"),
                      ("the cat sat on the mat quite often", "es"),
                      ("zzq qqz zqz qzz zzz qzq zqq qqq", "es")]:
        for b in bigrams(txt):
            (ct if lang == "en" else cr)[fp(b) % B] += 1
    tt, tr = sum(ct), sum(cr)
    lam_py = [math.floor(math.log(((c + 1.0) * (tr + B))
                                  / ((r + 1.0) * (tt + B))) * 1e6 + 0.5)
              for c, r in zip(ct, cr)]
    exp2 = sum(lam_py[fp(b) % B]
               for b in bigrams("the cat sat on the mat quite often"))
    exp3 = sum(lam_py[fp(b) % B]
               for b in bigrams("zzq qqz zqz qzz zzz qzq zqq qqq"))
    assert (got[2], got[3]) == (exp2, exp3)


def test_power_iteration_degenerate_gram_raises_named_error():
    """All-zero quantized Gram (near-zero embeddings) must fail with a
    named ValueError, not a bare ZeroDivisionError."""
    import pytest
    from kstreamjs_spark.operators.similarity import power_iteration_infnorm

    cells = {(i, j): 0 for i in range(4) for j in range(i, 4)}
    with pytest.raises(ValueError, match="all-zero"):
        power_iteration_infnorm(cells, dim=4, iters=3)


def test_substring_scrub_totality_and_exact_removal(spark):
    """q175b's scrub core via the operators: partial-dup docs lose exactly
    the shared island, clean docs pass through verbatim, and a fully
    duplicated doc survives as an EMPTY row (kept_tokens 0), never a
    dropped row."""
    import kstreamjs_spark.queries.llm as llm_mod
    from kstreamjs_spark.queries.llm import q175b  # registered fn

    run = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    full = "wun too three fore fyve sicks sevn ate"  # 8 tokens, duplicated
    docs = spark.createDataFrame(
        [
            (1, "pre1 pre2 " + run + " tail1 tail2", "en", "s", 1),
            (2, run + " other trailing words here", "en", "s", 1),
            (3, "one two three four five six seven eight nine ten",
             "en", "s", 1),
            (4, full, "en", "s", 1),
            (5, full, "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # drive the registered query body against this frame via the module's
    # own load binding (llm.py binds `load` at import — patching
    # kstreamjs_spark.tables.load would be dead code)
    orig_load = llm_mod.load
    llm_mod.load = lambda spark_, sf_, *names: (docs,)
    try:
        got = {
            r["doc_id"]: (r["kept_tokens"], r["scrubbed_text"])
            for r in q175b(spark, "unused").collect()
        }
    finally:
        llm_mod.load = orig_load
    assert got == {
        1: (4, "pre1 pre2 tail1 tail2"),
        2: (4, "other trailing words here"),
        3: (10, "one two three four five six seven eight nine ten"),
        4: (0, ""),
        5: (0, ""),
    }


def test_gopher_rules_fail_modes(spark):
    """q178's rule verdicts on a handcrafted corpus: one doc per failure
    mode plus one passing doc, funnel counts exact."""
    import kstreamjs_spark.queries.llm as llm_mod
    from kstreamjs_spark.queries.llm import q178

    # doc 1 passes all: 60 tokens, every bigram unique (a unique token
    # between function words), mean word length in range
    t1 = " ".join(
        f"u{i:03d} " + ["the", "of", "and", "to"][i % 4] for i in range(30)
    )
    # doc 2 fails word count ONLY: 40 tokens (< 50), 4-char tokens keep
    # the word-length rule green and unique bigrams keep coverage low
    t2 = ("the of and to "
          + " ".join(f"v{i:03d}" for i in range(36)))
    # doc 3 fails required words ONLY: 60 varied tokens, no function words
    t3 = " ".join(f"q{i:02d} r{i:02d}a s{i:02d}bc t{i:02d}d u{i:02d}"
                  for i in range(12))
    # doc 4 fails top-2-gram ONLY: 'dupx dupx' wall-to-wall (4-char token
    # keeps mean word length >= 3.0)
    t4 = (" ".join(["dupx"] * 46) + " the of and to "
          + " ".join(f"zz{i:02d}x" for i in range(10)))
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t))
         for i, t in ((1, t1), (2, t2), (3, t3), (4, t4))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = llm_mod.load
    llm_mod.load = lambda spark_, sf_, *names: (docs,)
    try:
        row = q178(spark, "unused").collect()[0].asDict()
    finally:
        llm_mod.load = orig
    assert row["n_docs"] == 4
    assert row["fail_wordcount"] == 1   # doc 2
    assert row["fail_required"] == 1    # doc 3
    assert row["fail_topngram"] == 1    # doc 4
    assert row["fail_wordlen"] == 0
    assert row["pass_all"] == 1         # doc 1


def test_bpe_train_matches_python_mirror(spark):
    """q179's merge loop on the classic Sennrich corpus shape (low/lower/
    newest/widest) PLUS a repeated-letter run word: equals a pure-Python
    mirror of textbook greedy BPE (argmax by count DESC then pair ASC;
    leftmost two-at-a-time pairing), the first merge is 'e s' (count 9,
    tie with 's t' broken lexicographically), and the self-overlapping
    run pairs two-at-a-time ('aaaaa' -> aa aa a — the case a sep-anchored
    replace gets wrong, caught by a review pass)."""
    import kstreamjs_spark.queries.llm as llm_mod
    from kstreamjs_spark.queries.llm import q179, _BPE_MERGES

    words = (["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
             + ["aaaaa"] * 4)
    docs = spark.createDataFrame(
        [(1, " ".join(words), "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = llm_mod.load
    llm_mod.load = lambda spark_, sf_, *n: (docs,)
    try:
        got = {
            r["word"]: (r["word_count"], r["n_symbols"], r["segmentation"])
            for r in q179(spark, "unused").collect()
        }
    finally:
        llm_mod.load = orig

    # pure-Python mirror: textbook greedy BPE merge application
    from collections import Counter
    wc = Counter(words)
    seq = {w: list(w) for w in wc}
    merges = []
    for _ in range(_BPE_MERGES):
        pc = Counter()
        for w, syms in seq.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += wc[w]
        if not pc:
            break
        (a, b), _n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append(a + " " + b)
        for w, syms in seq.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seq[w] = out
    exp = {
        w: (wc[w], len(syms), " ".join(syms)) for w, syms in seq.items()
    }
    assert got == exp
    # round 1 is the run pair (16 occurrences); the classic 'e s'
    # tiebreak (count 9, over 's t') still happens in a later round
    assert merges[0] == "a a"
    assert "e s" in merges
    # the self-overlapping run pairs two-at-a-time, leftmost first
    assert got["aaaaa"][2] in ("aa aa a", "aaaa a", "aaaaa")
    assert got["aaaaa"] == exp["aaaaa"]
    # the famous example actually learns multi-char subwords
    assert any(n < len(w) for w, (_, n, _) in got.items())


def test_misra_gries_bound_completeness_determinism(spark):
    """sketch.misra_gries contracts on a skewed corpus with vocabulary >>
    k (so decrements actually fire): (a) never over-counts, (b) never
    under-counts by more than N/(k+1), (c) every item above the N/(k+1)
    frequency threshold is PRESENT, (d) deterministic across runs, and
    the bound holds at two different partition counts."""
    import pyspark.sql.functions as F
    from collections import Counter
    from kstreamjs_spark.operators.sketch import misra_gries

    # skewed stream: 3 heavy items + 200 distinct light items, k = 8
    items = (["hot1"] * 400 + ["hot2"] * 250 + ["hot3"] * 120
             + [f"cold{i:03d}" for i in range(200) for _ in (0, 1)])
    true = Counter(items)
    n = len(items)
    k = 8
    bound = n // (k + 1)
    rows = [(i, t) for i, t in enumerate(items)]
    for parts in (2, 8):
        df = spark.createDataFrame(rows, "rid long, token string") \
            .repartition(parts, "rid")
        got = {
            r["item"]: r["est_count"]
            for r in misra_gries(df, "token", k=k,
                                 sort_cols=("rid",)).collect()
        }
        for item, est in got.items():
            assert est <= true[item], (parts, item)
            assert est >= true[item] - bound, (parts, item)
        for item, c in true.items():
            if c > bound:
                assert item in got, (parts, item)
        # decrements really fired: the summary is not the exact table
        assert any(got[i] < true[i] for i in got)
        # determinism: a second run returns the identical summary
        got2 = {
            r["item"]: r["est_count"]
            for r in misra_gries(df, "token", k=k,
                                 sort_cols=("rid",)).collect()
        }
        assert got == got2


def test_semdedup_max_cell_caps_degenerate_hot_cell(spark):
    """Adversarial all-one-cell geometry (the q115 failure mode: a botched
    embedder emits one direction, so k-means assigns EVERYTHING to cell
    0) — without a ceiling the cid equi-join is quadratic in N with
    nothing to stop it. With max_cell the hot cell sub-splits into
    ceil(n/max_cell) hash sub-cells, so the CANDIDATE row count is
    bounded by the sub-cell pair sum, far below C(n, 2); drops are still
    found inside every sub-cell (each collapses to one keeper), and
    every emitted drop remains a true >= theta pair."""
    import numpy as np

    n, cap = 600, 50
    rng = np.random.RandomState(23)
    base = rng.standard_normal(16)
    base /= np.linalg.norm(base)
    # tiny per-row jitter: one direction (all cosines ~1.0), distinct rows
    rows = [
        (i, 0, [float(x) for x in base + 1e-6 * rng.standard_normal(16)])
        for i in range(n)
    ]
    a = spark.createDataFrame(rows, "vec_id long, cid long, v array<double>")

    # the ceiling's bound surface is the GROUP SIZE the scoring kernel
    # sees (pair work and task memory are both ~size^2): uncapped, one
    # group of n; capped, ceil(600/50)=12 hash sub-cells whose largest
    # must sit well under n (3x headroom over the even split for hash
    # imbalance)
    sub, key = similarity._semdedup_subsplit(a, max_cell=cap)
    sizes = [
        r["c"] for r in
        sub.groupBy(*key).agg(F.count(F.lit(1)).alias("c")).collect()
    ]
    assert sum(sizes) == n and len(sizes) == 12, (len(sizes), sum(sizes))
    assert max(sizes) <= 3 * cap, max(sizes)

    dropped = similarity.semdedup_drops(a, theta=0.4, max_cell=cap)
    got = {r["vec_id"] for r in dropped.collect()}
    full = {
        r["vec_id"]
        for r in similarity.semdedup_drops(a, theta=0.4).collect()
    }
    # subset property: candidates shrink, scoring doesn't — no false drops
    assert got <= full
    assert full == set(range(1, n))  # uncapped: everything but vec 0 drops
    # each sub-cell keeps exactly one representative (all pairs >= theta
    # within a sub-cell), so survivors == number of NON-EMPTY sub-cells
    # <= ceil(n/cap) + hash-imbalance; pin the order of magnitude
    survivors = n - len(got)
    assert survivors <= 3 * 12, survivors
    # determinism: the id-hash sub-split is partition-count-invariant
    got2 = {
        r["vec_id"]
        for r in similarity.semdedup_drops(
            a.repartition(7), theta=0.4, max_cell=cap
        ).collect()
    }
    assert got == got2


def test_semdedup_max_cell_leaves_cold_cells_exact(spark):
    """Cells at/below the ceiling never sub-split: drops(max_cell) equals
    drops(None) exactly when no cell exceeds the cap — the guard is
    invisible until the degenerate geometry actually appears."""
    import numpy as np

    rng = np.random.RandomState(31)
    rows = []
    for cid in range(4):
        base = rng.standard_normal(16)
        for i in range(20):  # 20 <= max_cell=50
            v = base + 0.05 * rng.standard_normal(16)
            rows.append((cid * 100 + i, cid, [float(x) for x in v]))
    a = spark.createDataFrame(rows, "vec_id long, cid long, v array<double>")
    exact = {
        (r["cid"], r["vec_id"])
        for r in similarity.semdedup_drops(a, theta=0.4).collect()
    }
    capped = {
        (r["cid"], r["vec_id"])
        for r in similarity.semdedup_drops(a, theta=0.4, max_cell=50).collect()
    }
    assert capped == exact


def test_gif_lzw_table_overflow_and_clear():
    """A stream growing the LZW table past 4096 forces the encoder's
    clear-and-reset path; the decoder must resynchronize through the
    clear code and reproduce the content exactly (the width-bump
    lockstep rule is exercised at every size 9..12)."""
    import numpy as np

    gray = bytes(
        np.random.RandomState(5).randint(0, 256, 500 * 500, dtype=np.uint8)
    )
    blob = multimodal.encode_gif_pixels(500, 500, gray)
    px = multimodal.decode_gif_pixels(blob)
    assert px is not None and bytes(px[:, :, 0].ravel()) == gray


def test_gif_frame_composition_and_strictness():
    """First-frame composition: a frame smaller than the logical screen
    paints onto a background-color canvas at its (left, top) offset —
    and the strict gates reject the malformed variants (frame outside
    the screen, truncated LZW, missing palette, wrong index count)
    rather than guessing."""
    import numpy as np

    # hand-build: 6x4 screen, bg index 200, 2x2 frame at (3, 1)
    frame = bytes([10, 20, 30, 40])
    lzw = multimodal._gif_lzw_encode(frame, 8)
    gct = bytes(v for i in range(256) for v in (i, i, i))
    def build(left=3, top=1, iw=2, ih=2, data=lzw, with_gct=True, bg=200):
        out = bytearray(b"GIF89a")
        out += (6).to_bytes(2, "little") + (4).to_bytes(2, "little")
        out += bytes((0xF7 if with_gct else 0x77, bg, 0))
        if with_gct:
            out += gct
        out += b"\x2c" + left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += iw.to_bytes(2, "little") + ih.to_bytes(2, "little") + b"\x00"
        out.append(8)
        for i in range(0, len(data), 255):
            block = data[i:i + 255]
            out.append(len(block))
            out += block
        out += b"\x00\x3b"
        return bytes(out)

    px = multimodal.decode_gif_pixels(build())
    assert px is not None and px.shape == (4, 6, 3)
    expect = np.full((4, 6), 200, dtype=np.uint8)
    expect[1:3, 3:5] = np.array([[10, 20], [30, 40]], dtype=np.uint8)
    assert (px[:, :, 0] == expect).all()
    # strict gates
    assert multimodal.decode_gif_pixels(build(left=5)) is None   # overflows
    assert multimodal.decode_gif_pixels(build(with_gct=False)) is None
    assert multimodal.decode_gif_pixels(build(data=lzw[:1])) is None
    assert multimodal.decode_gif_pixels(
        build(data=multimodal._gif_lzw_encode(frame[:3], 8))
    ) is None  # 3 indices for a 4-pixel frame
    # extension blocks are walked, first frame still decodes
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    blob = build()
    with_ext = blob[:13 + 768] + ext + blob[13 + 768:]
    px2 = multimodal.decode_gif_pixels(with_ext)
    assert px2 is not None and (px2 == px).all()


def test_kll_quantiles_bound_mergeability_determinism(spark):
    """q181's contracts, the q180 pattern transposed to ranks:
    (1) BOUND — for every reported quantile, the estimate's true rank
        sits within the sketch's own reported err_bound of the target
        (checked on uniform AND heavily-skewed data, and at two
        partition counts — the merge path is exercised because every
        partition contributes an independent summary whose errors ADD);
    (2) USEFULNESS — the bound is a small fraction of N, not vacuous;
    (3) DETERMINISM — same data, same partitioning, pinned traversal
        order => identical rows;
    (4) exactness on data smaller than one buffer (no compaction ever
        fires: err_bound == the discretization weight 1, estimates are
        exact order statistics)."""
    import numpy as np

    from kstreamjs_spark.operators import sketch

    rng = np.random.RandomState(17)
    n = 40_000
    for name, vals in [
        ("uniform", rng.uniform(0, 1e6, n)),
        ("pareto", rng.pareto(1.2, n) * 100),
    ]:
        xs = np.sort(vals)
        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(vals)],
            "rid long, x double",
        )
        for parts in (4, 13):
            rows = sketch.kll_quantiles(
                df.repartition(parts, "rid"), "x",
                quantiles=(0.1, 0.5, 0.9, 0.99), k=128,
                sort_cols=("rid",),
            ).collect()
            for r in rows:
                target = max(1, int(np.ceil(r["q"] * n)))
                lo = int(np.searchsorted(xs, r["est"], side="left"))
                hi = int(np.searchsorted(xs, r["est"], side="right"))
                dev = max(lo - target, target - hi, 0)
                assert dev <= r["err_bound"], (name, parts, r, dev)
                assert r["n"] == n
            assert rows[0]["err_bound"] <= n // 8, (name, parts, rows[0])
        one = sketch.kll_quantiles(
            df.repartition(7, "rid"), "x", quantiles=(0.5,), k=128,
            sort_cols=("rid",),
        ).collect()
        two = sketch.kll_quantiles(
            df.repartition(7, "rid"), "x", quantiles=(0.5,), k=128,
            sort_cols=("rid",),
        ).collect()
        assert one == two, name
    # (4) sub-buffer data: exact
    small = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(rng.permutation(100))],
        "rid long, x double",
    ).coalesce(1)
    rows = sketch.kll_quantiles(
        small, "x", quantiles=(0.5, 0.9), k=128, sort_cols=("rid",)
    ).collect()
    assert [r["est"] for r in rows] == [49.0, 89.0], rows
    assert all(r["err_bound"] == 1 for r in rows), rows


def test_hamming_pairs_combination_scheme_exact_vs_bruteforce(spark):
    """Round-11 radius-6 pigeonhole: pairs planted at every distance
    0..8 over a random hash population — the operator must return
    EXACTLY the brute-force hamming<=6 pair set (the 2-of-8-chunk
    combination keys guarantee every such pair is a candidate; the
    verify step drops everything else, including the planted 7s/8s),
    and the radius-3 path must be byte-identical to before (the 4x16
    single-chunk geometry is untouched)."""
    import numpy as np

    rng = np.random.RandomState(29)
    hs = [int(x) for x in rng.randint(-2**63, 2**63, 200, dtype=np.int64)]
    for d in range(9):  # distances 0..8: 7 and 8 must NOT come back
        v = np.int64(hs[d])
        for b in rng.choice(64, d, replace=False):
            v = np.int64(v ^ np.int64(np.uint64(1) << np.uint64(int(b))))
        hs.append(int(v))
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hs)], "doc_id long, h long"
    )
    exact = set()
    for i in range(len(hs)):
        for j in range(i + 1, len(hs)):
            d = bin((hs[i] ^ hs[j]) & (2**64 - 1)).count("1")
            if d <= 6:
                exact.add((i, j, d))
    got = {
        (r["d1"], r["d2"], r["hamming"])
        for r in dedup.hamming_neardup_pairs(df, max_hamming=6).collect()
    }
    assert got == exact
    got3 = {
        (r["d1"], r["d2"], r["hamming"])
        for r in dedup.hamming_neardup_pairs(df, max_hamming=3).collect()
    }
    assert got3 == {t for t in exact if t[2] <= 3}
    # radius > 6 still refuses rather than under-recalls
    import pytest

    with pytest.raises(ValueError, match="max_hamming <= 6"):
        dedup.hamming_neardup_pairs(df, max_hamming=7)


def test_simhash_radius6_recalls_all_fixture_neardups(spark):
    """q26c's recall floor, closed (the r9/r10 verdicts' 0.6-recall
    watch item): every exact-Jaccard>=0.5 pair whose SimHash distance
    is ACTUALLY within the radius must be recalled — the operator may
    only miss pairs SimHash itself places far apart (the smoke corpus
    has two such: distances 31 and 53, short docs where token-set
    overlap does not imply angular similarity — the proxy's honest
    limit, unreachable at ANY blocking radius), and those must be the
    ONLY misses. On the evidence corpus (sf0.01, distances <= 5) this
    means recall 1.0 — APPROX_EVIDENCE.json."""
    d = docs(spark)
    exact = {
        (r["d1"], r["d2"])
        for r in dedup.jaccard_pairs(
            d, threshold=0.5, partition_col=None
        ).collect()
    }
    hs = {
        r["doc_id"]: r["h"]
        for r in d.select(
            "doc_id", dedup.simhash64("text").alias("h")
        ).collect()
    }
    sh = {
        (r["d1"], r["d2"])
        for r in dedup.simhash_neardup_pairs(d, max_hamming=6).collect()
    }
    for a, b in exact - sh:  # every miss is a true far-in-simhash pair
        assert bin(hs[a] ^ hs[b]).count("1") > 6, (a, b)
    within = {p for p in exact
              if bin(hs[p[0]] ^ hs[p[1]]).count("1") <= 6}
    assert within <= sh, f"missed in-radius: {within - sh}"
    assert len(exact & sh) / len(exact) >= 0.9


def test_gif_anim_roundtrip_frame_table_and_middle_frame():
    """Animated-GIF surface (round 11): the frame table reports every
    frame's geometry/delay without decoding; sequential composition
    reproduces each full-screen frame exactly; out-of-range indices are
    None."""
    import numpy as np

    rng = np.random.RandomState(41)
    frames = [
        bytes(rng.randint(0, 256, 40 * 30, dtype=np.uint8)) for _ in range(5)
    ]
    anim = multimodal.encode_gif_anim(40, 30, frames, delay_cs=7)
    table = multimodal.gif_frame_table(anim)
    assert [t[:6] for t in table] == [
        (i, 0, 0, 40, 30, 7) for i in range(5)
    ]
    for i, f in enumerate(frames):
        px = multimodal.decode_gif_frame(anim, i)
        assert bytes(px[:, :, 0].ravel()) == f, i
    assert multimodal.decode_gif_frame(anim, 5) is None
    assert multimodal.decode_gif_frame(anim, -1) is None


def test_gif_anim_disposal_and_transparency_composition():
    """Hand-built two-frame GIF: frame 0 full-screen with disposal 2
    (restore to background), frame 1 a 2x2 patch — the composed second
    frame must show background everywhere except the patch; disposal 3
    (restore to previous) is rejected rather than approximated; a
    transparent index leaves the underlying canvas visible."""
    import numpy as np

    gct = bytes(v for i in range(256) for v in (i, i, i))

    def build(disp0, transp1=None):
        lzw0 = multimodal._gif_lzw_encode(bytes([50] * 16), 8)
        patch = bytes([99, 77, 77, 99])
        lzw1 = multimodal._gif_lzw_encode(patch, 8)
        out = bytearray(b"GIF89a")
        out += (4).to_bytes(2, "little") + (4).to_bytes(2, "little")
        out += bytes((0xF7, 200, 0)) + gct
        out += b"\x21\xf9\x04" + bytes([disp0 << 2])
        out += (5).to_bytes(2, "little") + b"\x00\x00"
        out += b"\x2c" + bytes(4)
        out += (4).to_bytes(2, "little") + (4).to_bytes(2, "little")
        out += b"\x00\x08" + bytes([len(lzw0)]) + lzw0 + b"\x00"
        gp1 = 0x04 | (1 if transp1 is not None else 0)
        out += b"\x21\xf9\x04" + bytes([gp1]) + (5).to_bytes(2, "little")
        out += bytes([transp1 or 0]) + b"\x00"
        out += b"\x2c" + (1).to_bytes(2, "little") * 2
        out += (2).to_bytes(2, "little") * 2
        out += b"\x00\x08" + bytes([len(lzw1)]) + lzw1 + b"\x00\x3b"
        return bytes(out)

    px = multimodal.decode_gif_frame(build(2), 1)
    expect = np.full((4, 4), 200)
    expect[1:3, 1:3] = [[99, 77], [77, 99]]
    assert (px[:, :, 0] == expect).all()
    # disposal 1: frame 0 persists under the patch
    px1 = multimodal.decode_gif_frame(build(1), 1)
    expect1 = np.full((4, 4), 50)
    expect1[1:3, 1:3] = [[99, 77], [77, 99]]
    assert (px1[:, :, 0] == expect1).all()
    # transparency: index 77 pixels don't paint -> frame 0's 50 shows
    pxt = multimodal.decode_gif_frame(build(1, transp1=77), 1)
    expectt = np.full((4, 4), 50)
    expectt[1, 1] = expectt[2, 2] = 99
    assert (pxt[:, :, 0] == expectt).all()
    assert multimodal.decode_gif_frame(build(3), 1) is None  # disposal 3


def test_gif_anim_phash_separates_groups_and_middle_frame_matters(spark):
    """q182's correctness argument at the operator level: same-group
    docs (different brightness/contrast) hash identically from the
    middle frame; a DIFFERENT frame index of the same animation hashes
    differently (per-(group, frame) independent content makes the
    middle-frame pick load-bearing)."""
    from kstreamjs_spark.queries.llm import _synth_gif_anim_blobs

    ids = spark.createDataFrame(
        [(i,) for i in range(6)], "doc_id long"
    )
    blobs = {
        r["doc_id"]: bytes(r["blob"])
        for r in _synth_gif_anim_blobs(ids).collect()
    }
    h = {
        r["doc_id"]: (r["n_frames"], r["vhash"])
        for r in multimodal.gif_anim_phash_blobs(
            spark.createDataFrame(
                [(d, b) for d, b in blobs.items()],
                "doc_id long, blob binary",
            )
        ).collect()
    }
    assert h[0] == h[1] == h[2]      # group 0 collapses
    assert h[3] == h[4] == h[5]      # group 1 collapses
    assert h[0][1] != h[3][1]        # groups separate
    # middle frame is load-bearing: frame 0 of doc 0 hashes differently
    mid = len(multimodal.gif_frame_table(blobs[0])) // 2
    assert mid != 0
    px0 = multimodal.decode_gif_frame(blobs[0], 0)
    alt = multimodal.phash64(multimodal._pixels_to_luma(px0))
    assert alt != h[0][1]


def test_gif_truncated_extension_returns_none():
    """Review-pass regression (round 11): a graphic-control extension
    whose declared sub-block length runs past the end of the buffer
    must decode to None on every GIF surface — the GCE parse indexes
    up to 4 bytes into the sub-block, so a missing bounds check was an
    IndexError (task-killing) instead of a quarantine."""
    import numpy as np

    gray = bytes(np.random.RandomState(0).randint(0, 256, 16, dtype=np.uint8))
    blob = multimodal.encode_gif_pixels(4, 4, gray)
    trunc = blob[:13 + 768] + b"\x21\xf9\x04\x09"  # GCE cut mid-payload
    assert multimodal.decode_gif_pixels(trunc) is None
    assert multimodal.gif_frame_table(trunc) is None
    assert multimodal.decode_gif_frame(trunc, 0) is None


def test_apng_roundtrip_frame_table_and_middle_frame():
    """APNG surface (round 11): frame table from the strict chunk walk;
    full-screen frames reproduce exactly through per-frame DEFLATE +
    the shared five-filter reconstruction; the default image (IDAT) is
    frame 0, so the STILL kernel on the same blob returns it."""
    import numpy as np

    rng = np.random.RandomState(43)
    frames = [
        bytes(rng.randint(0, 256, 40 * 30, dtype=np.uint8)) for _ in range(5)
    ]
    blob = multimodal.encode_apng(40, 30, frames, delay_num=3)
    table = multimodal.apng_frame_table(blob)
    assert [t[:7] for t in table] == [
        (i, 0, 0, 40, 30, 3, 100) for i in range(5)
    ]
    for i, f in enumerate(frames):
        px = multimodal.decode_apng_frame(blob, i)
        assert bytes(px[:, :, 0].ravel()) == f, i
    assert multimodal.decode_apng_frame(blob, 5) is None
    still = multimodal.decode_png_pixels(blob)
    assert bytes(still[:, :, 0].ravel()) == frames[0]


def test_apng_dispose_blend_composition():
    """Hand-built APNGs pin the spec semantics: region paint over a
    persisting canvas, dispose background (region to transparent),
    dispose previous (region restored), and Porter-Duff OVER blending
    of a half-alpha RGBA patch with the documented deterministic
    rounding; sequence-number gaps are rejected."""
    import zlib

    import numpy as np

    def raw(pix, w, h, nch):
        stride = w * nch
        rows = bytearray()
        for y in range(h):
            rows.append(0)
            rows += pix[y * stride:(y + 1) * stride]
        return zlib.compress(bytes(rows))

    def build(frames, W=4, H=4, nch=1, break_seq=False):
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
        out = bytearray(multimodal._PNG_SIG)
        out += multimodal._png_chunk(
            b"IHDR",
            W.to_bytes(4, "big") + H.to_bytes(4, "big")
            + bytes((8, color_type, 0, 0, 0)),
        )
        out += multimodal._png_chunk(
            b"acTL", len(frames).to_bytes(4, "big") + bytes(4)
        )
        seq = 0
        for fi, (x, y, w, h, pix, disp, blend) in enumerate(frames):
            fctl = (
                seq.to_bytes(4, "big")
                + w.to_bytes(4, "big") + h.to_bytes(4, "big")
                + x.to_bytes(4, "big") + y.to_bytes(4, "big")
                + (1).to_bytes(2, "big") + (10).to_bytes(2, "big")
                + bytes((disp, blend))
            )
            out += multimodal._png_chunk(b"fcTL", fctl)
            seq += 1
            comp = raw(pix, w, h, nch)
            if fi == 0:
                out += multimodal._png_chunk(b"IDAT", comp)
            else:
                if break_seq:
                    seq += 1  # gap in the shared sequence: must reject
                out += multimodal._png_chunk(
                    b"fdAT", seq.to_bytes(4, "big") + comp
                )
                seq += 1
        out += multimodal._png_chunk(b"IEND", b"")
        return bytes(out)

    full, patch = bytes([50] * 16), bytes([99, 77, 77, 99])
    px = multimodal.decode_apng_frame(
        build([(0, 0, 4, 4, full, 0, 0), (1, 1, 2, 2, patch, 0, 0)]), 1
    )
    exp = np.full((4, 4), 50)
    exp[1:3, 1:3] = [[99, 77], [77, 99]]
    assert (px[:, :, 0] == exp).all()
    px = multimodal.decode_apng_frame(
        build([(0, 0, 4, 4, full, 1, 0), (1, 1, 2, 2, patch, 0, 0)]), 1
    )
    exp = np.zeros((4, 4))
    exp[1:3, 1:3] = [[99, 77], [77, 99]]
    assert (px[:, :, 0] == exp).all()
    px = multimodal.decode_apng_frame(
        build([(0, 0, 4, 4, full, 0, 0), (0, 0, 2, 2, bytes([99] * 4), 2, 0),
               (3, 3, 1, 1, bytes([7]), 0, 0)]), 2
    )
    exp = np.full((4, 4), 50)
    exp[3, 3] = 7
    assert (px[:, :, 0] == exp).all()
    fg = bytes([200, 0, 0, 128] * 4)
    bg = bytes([0, 0, 100, 255] * 16)
    px = multimodal.decode_apng_frame(
        build([(0, 0, 4, 4, bg, 0, 0), (1, 1, 2, 2, fg, 0, 1)], nch=4), 1
    )
    assert tuple(px[1, 1]) == (100, 0, 50, 255), px[1, 1]
    assert tuple(px[0, 0]) == (0, 0, 100, 255)
    assert multimodal.decode_apng_frame(
        build([(0, 0, 4, 4, full, 0, 0), (1, 1, 2, 2, patch, 0, 0)],
              break_seq=True), 1
    ) is None


def test_apng_anim_phash_separates_groups_and_middle_frame_matters(spark):
    """q183's correctness argument at the operator level — the q182
    test transposed to the APNG container."""
    from kstreamjs_spark.queries.llm import _synth_apng_anim_blobs

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    blobs = {
        r["doc_id"]: bytes(r["blob"])
        for r in _synth_apng_anim_blobs(ids).collect()
    }
    h = {
        r["doc_id"]: (r["n_frames"], r["vhash"])
        for r in multimodal.apng_phash_blobs(
            spark.createDataFrame(
                [(d, b) for d, b in blobs.items()],
                "doc_id long, blob binary",
            )
        ).collect()
    }
    assert h[0] == h[1] == h[2]
    assert h[3] == h[4] == h[5]
    assert h[0][1] != h[3][1]
    mid = len(multimodal.apng_frame_table(blobs[0])) // 2
    assert mid != 0
    px0 = multimodal.decode_apng_frame(blobs[0], 0)
    alt = multimodal.phash64(multimodal._pixels_to_luma(px0))
    assert alt != h[0][1]


def test_pq_topk_recall_and_rank1(spark):
    """PQ/ADC with exact rerank at q191's operating point (m=16,
    rerank=8) must contain the self-match at rank 1 and overlap the
    exact top-10 by >= 8 on the near-uniform worst-case corpus —
    the bar the banded-LSH and IVF paths carry."""
    e = emb(spark)
    qv = e.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    exact = [r["vec_id"] for r in similarity.topk_cosine(e, qv, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.pq_topk(e, qv, k=10, m=16, rerank=8).collect()
    ]
    assert approx[0] == 0
    assert len(set(exact) & set(approx)) >= 8


def test_pq_encode_shape_and_determinism(spark):
    """Codes carry m entries in [0, n_cent); encoding the same table
    twice with the same codebooks is bit-identical (deterministic
    training + argmin tie-break toward the lower index)."""
    e = emb(spark).limit(64)
    books = similarity.pq_codebooks(e, m=8, n_cent=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    got = similarity.pq_encode(e, books).select("vec_id", "codes").collect()
    again = similarity.pq_encode(e, books).select("vec_id", "codes").collect()
    assert sorted((r["vec_id"], tuple(r["codes"])) for r in got) == sorted(
        (r["vec_id"], tuple(r["codes"])) for r in again
    )
    for r in got:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])


def test_pq_adc_approximates_cosine(spark):
    """The ADC score (sum of LUT lookups on the normalized query) must
    track true cosine: mean |adc - cosine| under 0.1 over the corpus —
    the quantization-error contract that makes the rerank window
    meaningful. Computed via the same codebooks/encoding pq_topk uses."""
    import numpy as np

    e = emb(spark)
    rows = e.collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q = X[0] / np.linalg.norm(X[0])
    books = similarity.pq_codebooks(e, m=16, n_cent=16)
    sub = 64 // 16
    codes_rows = similarity.pq_encode(
        e, books, dim=64
    ).select("vec_id", "codes").collect()
    lut = np.array(
        [[float(np.dot(q[s * sub:(s + 1) * sub], np.asarray(c)))
          for c in books[s]] for s in range(16)]
    )
    by_id = {r["vec_id"]: r["codes"] for r in codes_rows}
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    true_cos = Xn @ q
    errs = []
    for i, r in enumerate(rows):
        codes = by_id[r["vec_id"]]
        adc = sum(lut[s][codes[s]] for s in range(16))
        errs.append(abs(adc - true_cos[i]))
    assert float(np.mean(errs)) < 0.1


def test_pq_guards(spark):
    """m must divide dim; wrong-length vectors fail loudly at encode;
    a multi-row query frame is rejected."""
    import pytest as _pytest

    e = emb(spark)
    with _pytest.raises(ValueError, match="must divide"):
        similarity.pq_codebooks(e, m=7)
    books = similarity.pq_codebooks(e, m=8)
    bad = e.select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding")
    )
    with _pytest.raises(Exception, match="length 32"):
        similarity.pq_encode(bad, books).collect()
    two = e.limit(2).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    with _pytest.raises(ValueError, match="exactly one query row"):
        similarity.pq_topk(e, two, k=5)


def test_kmv_distinct_exact_estimator_and_determinism(spark):
    """sketch.kmv_distinct contracts: EXACT when distinct < k (the
    sketch holds the whole set), estimator within 5x the standard
    error 1/sqrt(k-2) when distinct >> k, and identical output across
    partitionings (the summary is a pure function of the input set —
    KMV's edge over order-pinned MG/KLL)."""
    from kstreamjs_spark.operators.sketch import kmv_distinct

    # exact regime: 300 distinct < k=1024
    small = spark.range(3000).select((F.col("id") % 300).alias("v"))
    est, n_kept = kmv_distinct(small, "v", k=1024)
    assert (est, n_kept) == (300, 300)

    # estimator regime: 50k distinct >> k=256
    big = spark.range(50_000).select(F.col("id").alias("v"))
    k = 256
    est, n_kept = kmv_distinct(big, "v", k=k)
    assert n_kept == k
    rel = abs(est - 50_000) / 50_000
    assert rel < 5.0 / (k - 2) ** 0.5, f"rel err {rel:.4f} too large"

    # determinism across partitionings (and with duplicates folded in)
    dup = big.unionByName(big.limit(1000))
    for parts in (2, 16):
        est2, _ = kmv_distinct(dup.repartition(parts), "v", k=k)
        assert est2 == est


def test_kmv_guards(spark):
    import pytest as _pytest

    from kstreamjs_spark.operators.sketch import kmv_distinct

    df = spark.range(10).select(F.col("id").alias("v"))
    with _pytest.raises(ValueError, match="k >= 16"):
        kmv_distinct(df, "v", k=4)
    # empty input: zero kept, zero estimate
    assert kmv_distinct(df.filter("v < 0"), "v", k=64) == (0, 0)


def test_ivfpq_recall_and_all_probe_identity(spark):
    """IVFADC at q194's operating point must contain the self-match at
    rank 1 and overlap the exact top-10 by >= 8; probing ALL cells must
    reproduce the PQ-only result exactly (the cell filter is the only
    difference by construction)."""
    e = emb(spark)
    qv = e.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    exact = [r["vec_id"] for r in similarity.topk_cosine(e, qv, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.ivfpq_topk(e, qv, k=10).collect()]
    assert approx[0] == 0
    assert len(set(exact) & set(approx)) >= 8
    full = [
        r["vec_id"]
        for r in similarity.ivfpq_topk(e, qv, k=10, n_probe=16).collect()
    ]
    pq = [
        r["vec_id"]
        for r in similarity.pq_topk(e, qv, k=10, m=16, rerank=8).collect()
    ]
    assert full == pq


def test_kmv_set_relations_exact_and_estimator(spark):
    """sketch.kmv_set_relations contracts: EXACT (every field) when the
    union fits in k; in the estimator regime each relation estimate
    lands within 5x the standard error 1/sqrt(k-2) of truth on a
    planted-overlap key space."""
    from kstreamjs_spark.operators.sketch import kmv_set_relations

    # exact regime: A = 0..299, B = 200..499 -> union 500 < k
    a = spark.range(300).select(F.col("id").alias("v"))
    b = spark.range(200, 500).select(F.col("id").alias("v"))
    rel = kmv_set_relations(a, "v", b, "v", k=1024)
    assert rel["exact"]
    assert (rel["est_a"], rel["est_b"]) == (300, 300)
    assert (rel["est_union"], rel["est_intersection"]) == (500, 100)
    assert abs(rel["est_jaccard"] - 100 / 500) < 1e-9

    # estimator regime: |A| = |B| = 30k, overlap 20k, union 40k >> k
    k = 256
    a = spark.range(30_000).select(F.col("id").alias("v"))
    b = spark.range(10_000, 40_000).select(F.col("id").alias("v"))
    rel = kmv_set_relations(a, "v", b, "v", k=k)
    assert not rel["exact"]
    tol = 5.0 / (k - 2) ** 0.5
    for key, truth in (
        ("est_a", 30_000), ("est_b", 30_000),
        ("est_union", 40_000), ("est_intersection", 20_000),
    ):
        assert abs(rel[key] - truth) / truth < tol, (key, rel[key])
    assert abs(rel["est_jaccard"] - 0.5) < tol


def test_kmv_null_semantics_documented(spark):
    """KMV counts NULL as one distinct value (xxhash64(NULL) is the
    seed constant) — unlike countDistinct, which excludes NULLs. The
    documented contract: est(values + nulls) == est(values) + 1."""
    from kstreamjs_spark.operators.sketch import kmv_distinct

    vals = spark.range(100).select(F.col("id").alias("v"))
    with_null = vals.unionByName(
        spark.range(1).select(F.lit(None).cast("long").alias("v"))
    )
    assert kmv_distinct(vals, "v", k=256) == (100, 100)
    assert kmv_distinct(with_null, "v", k=256) == (101, 101)


def test_kneser_ney_matches_python_mirror_and_orders_fluency(spark):
    """q196's KN arithmetic vs a pure-Python integer mirror on a
    hand-built corpus, plus the ranking property the filter exists
    for: a document of corpus-frequent bigrams outscores one built
    from bigrams seen only once."""
    import math

    from kstreamjs_spark.queries import all_queries
    import kstreamjs_spark.queries.llm as llm_mod
    from kstreamjs_spark.tables import load as real_load

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the rug"),
        (2, "the cat sat on the mat"),
        (3, "zq xv qy vw"),          # every bigram unique
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def fake_load(spark_, sf_, *names):
        assert names == ("documents",)
        return [df]

    orig = llm_mod.load
    llm_mod.load = fake_load
    try:
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_logprob_kn"])
            for r in all_queries()["q196_kneser_ney_score"]
            .fn(spark, "unused").collect()
        }
    finally:
        llm_mod.load = orig

    # pure-Python mirror with the same integer formulation
    from collections import Counter, defaultdict

    bgs_per_doc = {}
    allbg = Counter()
    for d, text in docs:
        ts = text.split(" ")
        bgs = list(zip(ts, ts[1:]))
        bgs_per_doc[d] = bgs
        allbg.update(bgs)
    cw1 = defaultdict(int)
    n1l = defaultdict(int)
    n1r = defaultdict(int)
    for (w1, w2), c in allbg.items():
        cw1[w1] += c
        n1l[w1] += 1
        n1r[w2] += 1
    B = len(allbg)
    expected = {}
    for d, bgs in bgs_per_doc.items():
        qs = []
        for w1, w2 in bgs:
            num = B * (4 * allbg[(w1, w2)] - 3) + 3 * n1l[w1] * n1r[w2]
            den = 4 * cw1[w1] * B
            qs.append(math.floor(math.log(num / den) * 1_000_000 + 0.5))
        expected[d] = (len(bgs), round(sum(qs) / (len(bgs) * 1e6), 6))
    assert got == expected
    # fluent (repeated) bigrams outscore the all-singleton doc
    assert got[0][1] > got[3][1]


def test_exact_heavy_hitters_superset_guarantee(spark):
    """q198's two-pass correctness on a crafted corpus where vocabulary
    >> k': the MG candidate pass must still contain every true top-k
    item (their counts clear N/(k'+1)), so the recount returns the
    exact top-k."""
    import kstreamjs_spark.queries.llm as llm_mod
    from kstreamjs_spark.queries import all_queries

    # 20 heavy tokens (x200 each) + 4000 singletons; N = 8000,
    # N/(k'+1) = 8000/65 ~ 123 < 200 -> superset guaranteed
    rows = []
    did = 0
    for h in range(20):
        for _ in range(20):  # 20 docs x 10 tokens = 200 occurrences
            rows.append((did, " ".join([f"hv{h:02d}"] * 10))); did += 1
    singles = [f"s{i}" for i in range(4000)]
    for i in range(0, 4000, 10):
        rows.append((did, " ".join(singles[i:i + 10]))); did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def fake_load(spark_, sf_, *names):
        assert names == ("documents",)
        return [df]

    orig = llm_mod.load
    llm_mod.load = fake_load
    try:
        got = [
            (r["token"], r["cnt"])
            for r in all_queries()["q198_exact_heavy_hitters"]
            .fn(spark, "unused").collect()
        ]
    finally:
        llm_mod.load = orig
    expected = [(f"hv{h:02d}", 200) for h in range(10)]  # ties -> token asc
    assert got == expected


def test_cdc_chunks_resynchronize_after_insertion():
    """q207's defining property (why CDC beats fixed-size blocks): a
    prefix insertion shifts every byte offset, yet all chunks after
    the first boundary re-synchronize — pure-python mirror of the
    exact windowed-hash arithmetic the query pins cross-engine."""
    W, D = 8, 71

    def chunks(text):
        ends = [
            i
            for i in range(W, len(text) + 1)
            if sum(
                ord(text[j - 1]) * (j - i + W)
                for j in range(i - W + 1, i + 1)
            ) % D == 0
        ]
        if not ends or ends[-1] != len(text):
            ends.append(len(text))
        out, s = [], 1
        for e in ends:
            out.append(text[s - 1:e])
            s = e + 1
        return out

    import random

    rng = random.Random(5)
    s = "".join(rng.choice("abcdefgh ") for _ in range(2000))
    base = chunks(s)
    assert len(base) > 10  # boundaries actually fire at this density
    assert "".join(base) == s  # chunks partition the text exactly
    shifted = chunks("QQQQ" + s)
    assert "".join(shifted) == "QQQQ" + s
    # everything after the first post-insertion boundary is identical:
    # the two chunk SETS share all but a constant number of chunks
    missing = set(base) - set(shifted)
    assert len(missing) <= 2, (len(base), len(missing))
    # a fixed-size blocker would share ZERO blocks after a 4-char shift


def test_gopher_repetition_short_docs_no_crash(spark):
    """Regression (round-12 review find): Spark's sequence(1, 0) is the
    DESCENDING [1, 0], so a document with fewer tokens than the max
    gram order n=10 used to explode position 0 (slice-start crash) and
    a partial gram at i=1. Short docs must contribute ZERO grams for
    every n > their length — verified against a hand mirror."""
    from unittest import mock

    import kstreamjs_spark.queries.llm as llm
    from kstreamjs_spark.queries import all_queries

    docs = spark.createDataFrame(
        [
            (1, "a b c", "en", 5),                    # 3 tokens < all n>3
            (2, "x " * 11 + "y", "en", 23),           # 12 tokens, heavy dup
            (3, "", "en", 0),                          # empty text
        ],
        "doc_id long, text string, lang string, n_chars long",
    )
    spec = all_queries()["q203_gopher_repetition"]
    with mock.patch.object(llm, "load", lambda _s, _sf, *_t: (docs,)):
        rows = spec.fn(spark, "ignored").collect()
    (r,) = rows
    assert r["n_docs"] == 3
    # the empty doc has zero grams for every n => passes all nine
    # rules; the 3-token doc legitimately FAILS the top-coverage
    # ceilings (any single gram dominates a tiny doc — faithful
    # Gopher); the x-run doc fails everything
    assert r["pass_all"] == 1
    # and the ORACLE agrees on the same short-doc fixture — the actual
    # regression gate (pre-fix the engine crashed; a partial-gram bug
    # would diverge from the empty generate_series here)
    import duckdb

    con = duckdb.connect()
    con.register(
        "documents",
        docs.toPandas(),
    )
    (orow,) = con.execute(spec.oracle).fetchall()
    cols = [d[0] for d in con.description]
    got = {c: r[c] for c in cols}
    want = dict(zip(cols, orow))
    assert got == want, (got, want)


def test_lakehouse_zorder_write_skips_files_on_y_band(spark, tmp_path):
    """The WRITE path's data-skipping contract, measured on real
    parquet footers (round 13, q211): write the z-partitioned layout
    and an x-sorted layout at comparable file counts with the
    clustering keys materialized, then count the files whose footer
    min/max intersect a narrow y band — the skipping decision a
    lakehouse catalog makes from exactly these stats. The x-sorted
    layout cannot skip on y (every file spans ~the full y domain);
    the z layout must skip a strict majority of its files."""
    import glob

    import pyarrow.parquet as pq

    from kstreamjs_spark.operators import layout

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    x = layout.quantize16(F.col("o_custkey"))
    y = layout.quantize16(F.floor(F.col("o_totalprice")))
    proj = orders.select("o_orderkey", x.alias("x16"), y.alias("y16"))

    zdir = str(tmp_path / "zlayout")
    layout.write_zorder_partitioned(
        proj, zdir, F.col("x16"), F.col("y16"), file_bits=3
    )
    # x-sorted baseline at the same file count: 8 equal-width x
    # buckets over the ACTUAL x domain (sf-smoke custkeys are small,
    # so fixed high-bit bucketing would collapse to one file)
    xdir = str(tmp_path / "xlayout")
    max_x = proj.agg(F.max("x16")).collect()[0][0]
    (
        proj.withColumn(
            "xfile", (F.col("x16") * 8 / F.lit(max_x + 1)).cast("long")
        )
        .repartition("xfile")
        .sortWithinPartitions("x16")
        .write.mode("overwrite").partitionBy("xfile").parquet(xdir)
    )

    def hit_files(root, lo, hi):
        """(all files, files whose y16 footer range intersects [lo, hi])."""
        all_paths, hit_paths = [], []
        for p in glob.glob(root + "/**/*.parquet", recursive=True):
            md = pq.ParquetFile(p).metadata
            names = [md.schema.column(i).name
                     for i in range(md.num_columns)]
            ci = names.index("y16")
            stats = [md.row_group(rg).column(ci).statistics
                     for rg in range(md.num_row_groups)]
            all_paths.append(p)
            if not (max(s.max for s in stats) < lo
                    or min(s.min for s in stats) > hi):
                hit_paths.append(p)
        return all_paths, hit_paths

    # a 1/16-domain y band (predicate on the SECOND dimension only —
    # the case a 1-D x sort cannot help with)
    lo, hi = 20480, 24575
    z_all, z_hit = hit_files(zdir, lo, hi)
    x_all, x_hit = hit_files(xdir, lo, hi)
    assert len(z_all) >= 8 and len(x_all) >= 8, (len(z_all), len(x_all))
    # x-sort: every file intersects the y band (no skipping)
    assert len(x_hit) == len(x_all)
    # z-order: a strict majority of files are skipped
    assert len(z_hit) <= len(z_all) // 2, (len(z_hit), len(z_all))
    # and the skipped files lose no rows: reading only hit files
    # returns exactly the band's rows
    hit_paths = z_hit
    band_from_hits = (
        spark.read.parquet(*hit_paths)
        .filter((F.col("y16") >= lo) & (F.col("y16") <= hi))
        .count()
    )
    band_full = proj.filter(
        (F.col("y16") >= lo) & (F.col("y16") <= hi)
    ).count()
    assert band_from_hits == band_full > 0


def test_q94_manifest_matches_written_shard_files(spark, tmp_path):
    """q94's manifest is the plan for `write.partitionBy(shard)`; round
    13 closes the loop: actually write the sharded layout, recompute
    the manifest FROM THE WRITTEN FILES (per-directory row/char totals
    and id extrema), and require it to equal q94's answer row for row."""
    from kstreamjs_spark.operators import sampling
    from kstreamjs_spark.queries import all_queries
    from kstreamjs_spark.queries.pipeline import _SHARD_N, _SHARD_SEED

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = str(tmp_path / "shards")
    shard = (
        sampling.hash_bucket("doc_id", _SHARD_SEED) % F.lit(_SHARD_N)
    ).alias("shard")
    (
        docs.select(shard, "doc_id", "n_chars")
        .repartition("shard")
        .write.mode("overwrite").partitionBy("shard").parquet(out)
    )
    from_files = {
        tuple(r)
        for r in spark.read.parquet(out)
        .groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .collect()
    }
    manifest = {
        tuple(r)
        for r in all_queries()["q94_shard_manifest"]
        .fn(spark, SF_SMOKE).collect()
    }
    assert from_files == manifest


def test_unigram_lm_train_equals_pure_python_mirror(spark):
    """q212's hard contract: the distributed Viterbi-EM (word-count
    table + broadcast vocab + Arrow E-step) reproduces the pure-Python
    single-process mirror EXACTLY — same final vocabulary, same
    segmentation for every word. Integer micro-log-prob quantization is
    what makes this equality exact rather than approximate."""
    import duckdb

    from kstreamjs_spark.queries import all_queries
    from kstreamjs_spark.queries.llm import (
        _UNI_MAX_WORD,
        _unigram_mirror,
    )

    con = duckdb.connect()
    wc = {
        w: int(c)
        for w, c in con.execute(
            f"""SELECT word, COUNT(*) FROM (
                  SELECT unnest(string_split(text, ' ')) AS word
                  FROM '{SF_SMOKE}/documents.parquet')
                WHERE len(word) BETWEEN 1 AND {_UNI_MAX_WORD}
                GROUP BY word"""
        ).fetchall()
    }
    _vocab, segs = _unigram_mirror(wc)
    expected = {
        (w, wc[w], len(seg), " ".join(seg)) for w, seg in segs.items()
    }
    got = {
        (r["word"], r["word_count"], r["n_pieces"], r["segmentation"])
        for r in all_queries()["q212_unigram_lm_train"]
        .fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # the vocabulary must be bounded (the broadcast-artifact policy)
    assert len(_vocab) <= 96


def test_stream_unigram_tokenize_equals_mirror(spark):
    """q212b's hard contract: streamed per-doc piece counts under the
    batch-trained final vocabulary equal the pure-Python mirror (train
    with _unigram_mirror, score the final vocab, Viterbi every word)."""
    import duckdb

    from kstreamjs_spark.queries import all_queries
    from kstreamjs_spark.queries.llm import (
        _UNI_MAX_WORD,
        _unigram_mirror,
        _unigram_scores,
        _unigram_viterbi,
    )

    con = duckdb.connect()
    wc = {
        w: int(c)
        for w, c in con.execute(
            f"""SELECT word, COUNT(*) FROM (
                  SELECT unnest(string_split(text, ' ')) AS word
                  FROM '{SF_SMOKE}/documents.parquet')
                WHERE len(word) BETWEEN 1 AND {_UNI_MAX_WORD}
                GROUP BY word"""
        ).fetchall()
    }
    vocab, _segs = _unigram_mirror(wc)
    score = _unigram_scores(vocab)
    expected = {}
    for doc_id, text in con.execute(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall():
        ws = text.split(" ")
        expected[doc_id] = (
            sum(len(_unigram_viterbi(w, score)) if w else 0 for w in ws),
            len(ws),
        )
    got = {
        r["doc_id"]: (r["n_pieces"], r["n_words"])
        for r in all_queries()["q212b_stream_unigram_tokenize"]
        .fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_unigram_viterbi_oov_unk_fallback():
    """The DP must be TOTAL on arbitrary ingest input (the q212b
    contract): a char the vocabulary never covered segments through the
    UNK floor instead of raising, UNK never outranks a real
    segmentation, and in-vocabulary words are untouched by the
    fallback's existence."""
    from kstreamjs_spark.queries.llm import (
        _unigram_scores,
        _unigram_viterbi,
    )

    score = _unigram_scores({"a": 5, "b": 3, "ab": 4})
    # in-vocab word: multi-char piece wins (fewer pieces at equal or
    # better score), unaffected by the UNK branch
    assert _unigram_viterbi("ab", score) == ["ab"]
    # fully OOV word (e.g. a CJK char arriving at a Latin-trained
    # ingest tokenizer): one UNK piece per char, no crash
    assert _unigram_viterbi("你好", score) == ["你", "好"]
    # mixed: known chars keep their pieces, the OOV char rides UNK
    assert _unigram_viterbi("a你b", score) == ["a", "你", "b"]
    # UNK is single-char only — an OOV BIGRAM never becomes one piece
    assert _unigram_viterbi("你你", score) == ["你", "你"]
    # empty score table (degenerate): still total via the UNK floor
    assert _unigram_viterbi("xy", {}) == ["x", "y"]


def test_cosine_neardup_lsh_max_bucket_ceiling(spark):
    """The hot-bucket ceiling drops whole buckets deterministically:
    with a ceiling of 1 no bucket can pair, so the result is empty;
    with the ceiling off the fixture's near-dup pairs appear; and the
    ceiling never ADDS pairs (subset of the unceilinged result)."""
    import numpy as np

    from kstreamjs_spark.operators.similarity import (
        cosine_neardup_pairs_lsh,
    )

    rng = np.random.RandomState(5)
    rows = []
    for i in range(6):
        if i % 2 == 1:
            v = base + rng.standard_normal(64) * 0.05
        else:
            base = rng.standard_normal(64)
            v = base
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = {
        (r["v1"], r["v2"])
        for r in cosine_neardup_pairs_lsh(df, threshold=0.4).collect()
    }
    assert full
    capped1 = cosine_neardup_pairs_lsh(
        df, threshold=0.4, max_bucket=1
    ).collect()
    assert capped1 == []
    capped = {
        (r["v1"], r["v2"])
        for r in cosine_neardup_pairs_lsh(
            df, threshold=0.4, max_bucket=2
        ).collect()
    }
    assert capped <= full


def _planted_neardup_fixture(
    spark,
    sf_dir: str,
    levels: tuple[float, ...] = (0.92, 0.95, 0.97, 0.99),
    per_level: int = 25,
    seed: int = 7,
):
    """The SF's embeddings plus planted near-dup copies at EXACT target
    cosines — ground truth for the production-regime (threshold 0.9,
    band_bits=16) recall measurement the r13 verdict asked for.

    Each planted vector is built at an exact angle to its base: take a
    random direction ``g`` orthogonalized against the base ``v``, then
    ``w = cos * v/|v| + sqrt(1-cos^2) * g/|g|`` (rescaled to |v|), so
    cos(v, w) == level up to fp rounding — no noise-magnitude guessing.
    Returns (DataFrame[vec_id, embedding], truth) with truth mapping
    (base_id, dup_id) -> level. Shared by the pytest gate and
    scripts/approx_evidence.py (one fixture home)."""
    import numpy as np

    base = [
        (int(r["vec_id"]), np.asarray(r["embedding"], dtype=np.float64))
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .collect()
    ]
    rng = np.random.RandomState(seed)
    picks = rng.choice(
        len(base), size=per_level * len(levels), replace=False
    )
    rows = [(i, [float(x) for x in v]) for i, v in base]
    next_id = max(i for i, _ in base) + 1
    truth: dict[tuple[int, int], float] = {}
    k = 0
    for lvl in levels:
        for _ in range(per_level):
            bid, v = base[picks[k]]
            k += 1
            g = rng.standard_normal(v.shape[0])
            g -= (g @ v) / (v @ v) * v
            w = (
                lvl * v / np.linalg.norm(v)
                + np.sqrt(1.0 - lvl * lvl) * g / np.linalg.norm(g)
            ) * np.linalg.norm(v)
            cos = float(
                (v @ w) / (np.linalg.norm(v) * np.linalg.norm(w))
            )
            assert abs(cos - lvl) < 1e-9
            truth[(bid, next_id)] = lvl
            rows.append((next_id, [float(x) for x in w]))
            next_id += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    return df, truth


def test_cosine_neardup_lsh_production_regime_recall(spark):
    """The r13 verdict's ask: the docstring's band_bits=16 /
    0.9-threshold operating point claimed ~0.99 recall ANALYTICALLY —
    measure it. Planted pairs at exact cosines 0.92-0.99 (the regime a
    production near-dup threshold of 0.9 actually targets: re-encodes
    and mirrors cluster at 0.95+) must be recalled at >= 0.95 overall
    by cosine_neardup_pairs_lsh(threshold=0.9, band_bits=16), with
    zero false positives (exact verify) as always."""
    from kstreamjs_spark.operators.similarity import (
        cosine_neardup_pairs_lsh,
    )

    df, truth = _planted_neardup_fixture(spark, SF_SMOKE)
    got = {
        (r["v1"], r["v2"])
        for r in cosine_neardup_pairs_lsh(
            df, threshold=0.9, band_bits=16, n_bands=20
        ).collect()
    }
    # no false positives vs exact cosine — spot-check via truth scores:
    # every emitted pair must score >= 0.9 (operator verifies exactly;
    # planted pairs all sit >= 0.92, natural >=0.9 pairs are also valid)
    hit = {p for p in truth if p in got}
    recall = len(hit) / len(truth)
    assert recall >= 0.95, f"production-regime recall {recall:.4f}"
    # boundary honesty: the 0.92 band alone may droop below the overall
    # gate (analytic 1-(1-p^16)^20 = 0.905 at cos 0.92) but must still
    # clear the banding curve minus sampling noise
    lvl_hit: dict[float, list[int]] = {}
    for p, lvl in truth.items():
        lvl_hit.setdefault(lvl, []).append(1 if p in hit else 0)
    import math

    for lvl, hits in sorted(lvl_hit.items()):
        p_bit = 1.0 - math.acos(lvl) / math.pi
        analytic = 1.0 - (1.0 - p_bit**16) ** 20
        measured = sum(hits) / len(hits)
        # 3-sigma binomial slack on per_level=25 samples
        sigma = math.sqrt(analytic * (1 - analytic) / len(hits))
        assert measured >= analytic - 3 * sigma - 1e-9, (
            lvl, measured, analytic
        )


def test_compact_partitions_prunes_and_preserves(spark, tmp_path):
    """q215's compaction contract, pinned adversarially: a table with
    one MULTI-FILE partition and one SINGLE-FILE partition is
    compacted with max_files=1 — the multi-file partition collapses to
    one file holding identical rows, the single-file partition's file
    is PHYSICALLY untouched (same path, same bytes by mtime+size), and
    total row content is unchanged."""
    import glob
    import os as _os

    from kstreamjs_spark.operators.layout import compact_partitions

    root = str(tmp_path / "tbl")
    # partition p=1 gets 3 append files; p=2 gets exactly one
    for vals in ([1, 2], [1], [1]):
        df = spark.createDataFrame(
            [(v * 10 + i, v) for i, v in enumerate(vals)],
            "k long, p int",
        )
        df.coalesce(1).write.mode("append").partitionBy("p").parquet(root)
    n1 = glob.glob(root + "/p=1/*.parquet")
    n2 = glob.glob(root + "/p=2/*.parquet")
    assert len(n1) == 3 and len(n2) == 1
    before_rows = sorted(
        (r["k"], r["p"]) for r in spark.read.parquet(root).collect()
    )
    p2_stat = _os.stat(n2[0])

    done = compact_partitions(spark, root, "p", max_files=1)
    assert done == [("1", 3, 1)]
    assert len(glob.glob(root + "/p=1/*.parquet")) == 1
    # untouched partition: same file, same bytes (mtime + size pin)
    assert _os.path.exists(n2[0])
    st = _os.stat(n2[0])
    assert (st.st_mtime_ns, st.st_size) == (
        p2_stat.st_mtime_ns,
        p2_stat.st_size,
    )
    after_rows = sorted(
        (r["k"], r["p"]) for r in spark.read.parquet(root).collect()
    )
    assert after_rows == before_rows
    # idempotence: a second pass finds nothing over the threshold
    assert compact_partitions(spark, root, "p", max_files=1) == []


def test_compact_partitions_recovers_crash_between_swap_renames(
    spark, tmp_path
):
    """Round-15 crash-window fix: a process dying between
    rename(old -> trash) and rename(staged -> old) used to leave the
    partition missing from the table AND a 'p=1__old' dir under the
    table root that the next census parsed as a ghost partition
    (partition-type inference flipped to string). Now the trash slot
    lives under the staging dir and the next compact_partitions call
    RECOVERS it: a trash slot whose partition is absent is renamed
    back before the census, so no rows are ever lost and no ghost
    partition is ever seen."""
    import glob
    import os as _os
    import shutil as _shutil

    from kstreamjs_spark.operators.layout import compact_partitions

    root = str(tmp_path / "tbl")
    for _ in range(3):
        spark.createDataFrame(
            [(1, 1), (2, 2)], "k long, p int"
        ).coalesce(1).write.mode("append").partitionBy("p").parquet(root)
    before_rows = sorted(
        (r["k"], r["p"]) for r in spark.read.parquet(root).collect()
    )

    # Simulate the crash window by hand: stage nothing, just move the
    # live partition into the staging trash slot exactly as the swap's
    # first rename does, then "die" before the second rename.
    staging = root + "__compact_staging"
    _os.makedirs(staging, exist_ok=True)
    _os.rename(
        _os.path.join(root, "p=1"),
        _os.path.join(staging, "__trash__p=1"),
    )
    # also leave a COMPLETED swap's stale trash (partition present):
    # recovery must drop it, not resurrect it over live data
    _os.makedirs(_os.path.join(staging, "__trash__p=2"))
    assert not _os.path.isdir(_os.path.join(root, "p=1"))

    # next maintenance pass: recovery restores p=1 BEFORE the census,
    # then compaction proceeds normally over the full table
    done = compact_partitions(spark, root, "p", max_files=1)
    assert sorted(v for v, _, _ in done) == ["1", "2"]
    assert not _os.path.isdir(staging)  # staging fully cleared
    # the ghost-partition dir never exists under the table root
    assert glob.glob(root + "/*__old") == []
    after_rows = sorted(
        (r["k"], r["p"]) for r in spark.read.parquet(root).collect()
    )
    assert after_rows == before_rows
    # partition column type stayed int (no string flip from a ghost)
    assert dict(spark.read.parquet(root).dtypes)["p"] == "int"
    _shutil.rmtree(root)


def test_greedy_pieces_matches_python_reference(spark):
    """q216's fold expression vs an independent pure-Python greedy
    longest-match: identical (n_pieces, segmentation) on vocab hits,
    multi-piece words, full-OOV words (UNK per char), the empty word
    (Spark's descending sequence(1,0) guard), and mixed cases."""
    from kstreamjs_spark.operators.text import (
        WORDPIECE_UNK,
        greedy_pieces,
    )

    vocab = {1: ["a", "b", "c", "d"], 2: ["ab", "cd"],
             3: ["abc"], 4: ["abcd"]}

    def py_greedy(w):
        pos, n, seg = 0, 0, []
        while pos < len(w):
            for l in (4, 3, 2, 1):
                p = w[pos:pos + l]
                if len(p) == l and p in vocab.get(l, []):
                    seg.append(("##" if n else "") + p)
                    pos += l
                    n += 1
                    break
            else:
                seg.append(("##" if n else "") + WORDPIECE_UNK)
                pos += 1
                n += 1
        return n, " ".join(seg)

    words = ["abcd", "abcda", "ababab", "xyz", "", "a", "dcba",
             "abcabd", "zab", "cdcd"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: (r["g"]["n_pieces"], r["g"]["seg"])
        for r in df.select(
            "w", greedy_pieces("w", vocab).alias("g")
        ).collect()
    }
    assert got == {w: py_greedy(w) for w in words}


def test_wpt_score_decimal_exact_past_int64_overflow(spark):
    """Round-15 ADVICE fix: q216c's argmax score (n_ab * 1e12) DIV
    (n_a * n_b) runs in DECIMAL (_WPT_SCORE_SQL). The old long*long
    form wrapped silently past n_ab ~9.2e6 under non-ANSI Spark while
    the DuckDB oracle's HUGEINT kept going — a wrong-argmax divergence
    at corpus scale. Pin: the expression equals Python's unbounded-int
    arithmetic in BOTH regimes — small counts (the sf-test regime) and
    counts far past the int64 product bound (the 100 TB regime, where
    n_ab*1e12 ~ 1e30) — and the wrapped long*long value differs there,
    proving the regime is actually exercised."""
    from kstreamjs_spark.queries.llm import _WPT_SCALE, _WPT_SCORE_SQL

    rows = [
        (3, 7, 5),                      # tiny
        (10_000_000, 9_300_000, 9_100_000),     # just past the old bound
        (5 * 10**17, 8 * 10**17, 9 * 10**17),   # deep 100 TB regime
        (10**18, 10**18, 10**18),               # score == 1e12 exactly
    ]
    df = spark.createDataFrame(rows, "n_ab long, n_a long, n_b long")
    got = [
        r["score"]
        for r in df.select(F.expr(_WPT_SCORE_SQL).alias("score"))
        .collect()
    ]
    want = [(ab * _WPT_SCALE) // (a * b) for ab, a, b in rows]
    assert got == want
    # the big rows really sit past int64: the two's-complement wrap
    # (what non-ANSI long*long computes) disagrees with the true
    # product there, so the DECIMAL path is load-bearing, not idle
    def wrap64(v: int) -> int:
        v &= (1 << 64) - 1
        return v - (1 << 64) if v >= (1 << 63) else v

    for ab, a, b in rows[1:]:
        assert wrap64(ab * _WPT_SCALE) != ab * _WPT_SCALE


def test_nn_descent_converges_on_planted_manifold(spark):
    """q218's descent loop on a PLANTED manifold: 4 orthogonal cluster
    centers (cross-cluster cosine ~0, in-cluster ~1) with 12 members
    each. Pins (a) recall vs the exact q58-style top-3 graph >= 0.9
    after 3 rounds, (b) the init graph alone is NOT already there
    (iterations are load-bearing, not decorative), (c) descent never
    regresses the init, (d) every converged neighbor stays inside its
    node's cluster, and (e) the plan is iterative equi-joins only —
    no CartesianProduct anywhere (the standing no-cross-join policy)."""
    import numpy as np

    from kstreamjs_spark.operators import similarity

    rng = np.random.RandomState(7)
    centers = np.eye(4, 8) * 10.0
    n = 48
    base = centers[np.arange(n) % 4] + rng.standard_normal((n, 8)) * 0.05
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    qall = df.select(
        F.col("vec_id").alias("qid"),
        similarity.as_double(F.col("embedding")).alias("qv"),
    )
    exact = {
        (r["qid"], r["vec_id"])
        for r in similarity.knn_join(df, qall, k=3).collect()
    }

    def run(iters):
        g = similarity.nn_descent(df, k=3, iters=iters)
        ap = {(r["src"], r["dst"]) for r in g.collect()}
        return len(ap & exact) / len(exact), g

    r0, _ = run(0)
    r3, g3 = run(3)
    assert r3 >= 0.9, (r0, r3)
    assert r0 < 0.9, r0          # init alone must not satisfy the gate
    assert r3 >= r0, (r0, r3)    # descent never regresses
    for row in g3.collect():     # orthogonal centers: no cluster leaks
        assert row["src"] % 4 == row["dst"] % 4, row
    plan = g3._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_nn_descent_rejects_sparse_ids(spark):
    """The dense-id precondition fails LOUDLY (the init modular
    arithmetic would silently skew otherwise)."""
    import pytest as _pytest

    from kstreamjs_spark.operators import similarity

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (5, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="dense unique ids"):
        similarity.nn_descent(df, k=1, iters=1)
    # round-15 review: max==n-1 alone admitted duplicate ids — pinned
    dup = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (1, [0.5, 0.5]),
         (3, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="dense unique ids"):
        similarity.nn_descent(dup, k=1, iters=1)


def test_nn_descent_shipped_config_recall_gate(spark):
    """The r14 verdict's q218 'Done' gate: graph recall vs the exact
    all-pairs k-NN graph >= 0.9 with the SHIPPED q218 configuration
    (k=20, iters=8 — k=5 measured 0.16, the starved regime the
    evidence sweep documents). Runs on the smoke corpus (500 vectors,
    the same embedding fixture family as the driver's sf0.01);
    APPROX_EVIDENCE records the same measurement at sf0.01 and sf0.1."""
    from kstreamjs_spark.queries.pipeline import _Q218_ITERS, _Q218_K

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qall = emb.select(
        F.col("vec_id").alias("qid"),
        similarity.as_double(F.col("embedding")).alias("qv"),
    )
    ex = {
        (r["qid"], r["vec_id"])
        for r in similarity.knn_join(emb, qall, k=_Q218_K).collect()
    }
    ap = {
        (r["src"], r["dst"])
        for r in similarity.nn_descent(
            emb, k=_Q218_K, iters=_Q218_ITERS
        ).collect()
    }
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.9, recall


def _tie_aware_search_recall(emb, nq, k, beam, hops, n_entries):
    """Search recall where a hit is a kept item whose rounded score >=
    the exact k-th rounded score (id-set recall double-counts rounding
    ties: in the clustered regime the 10th/11th items round identically
    and either choice is a correct answer)."""
    from kstreamjs_spark.operators import similarity

    qs = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    kth: dict = {}
    for r in similarity.knn_join(emb, qs, k=k).collect():
        s = round(r["score"], 6)
        kth[r["qid"]] = min(kth.get(r["qid"], 2.0), s)
    g = similarity.nn_descent(emb, k=20, iters=8).drop("rn")
    vv = emb.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("vec")
    )
    kept = similarity.graph_ann_topk(
        g, vv, qs, k=k, beam=beam, hops=hops, n_entries=n_entries
    ).collect()
    hits = sum(1 for r in kept if round(r["score"], 6) >= kth[r["qid"]])
    return hits / (nq * k)


def test_graph_ann_search_on_planted_manifold(spark):
    """q219's beam walk on the q218 planted manifold: 4 orthogonal
    cluster centers, 12 members each. Pins (a) every kept neighbor is
    in the QUERY's cluster (orthogonal centers: a single cross-cluster
    leak would tank the score), (b) tie-aware search recall 1.0 vs the
    exact top-3, (c) the walk never emits more than k rows per query,
    and (d) the plan is equi-joins only — no CartesianProduct (the
    query batch is broadcast on qid, never crossed)."""
    import numpy as np

    from kstreamjs_spark.operators import similarity

    rng = np.random.RandomState(7)
    centers = np.eye(4, 8) * 10.0
    n = 48
    base = centers[np.arange(n) % 4] + rng.standard_normal((n, 8)) * 0.05
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    g = similarity.nn_descent(df, k=3, iters=3).drop("rn")
    qs = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    vv = df.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("vec")
    )
    out = similarity.graph_ann_topk(g, vv, qs, k=3, beam=6, hops=3)
    rows = out.collect()
    per_q: dict = {}
    for r in rows:
        assert r["node"] % 4 == r["qid"] % 4, r   # no cluster leaks
        per_q[r["qid"]] = per_q.get(r["qid"], 0) + 1
    assert set(per_q) == {0, 1, 2, 3} and all(
        v == 3 for v in per_q.values()
    ), per_q
    kth: dict = {}
    for r in similarity.knn_join(df, qs, k=3).collect():
        s = round(r["score"], 6)
        kth[r["qid"]] = min(kth.get(r["qid"], 2.0), s)
    hits = sum(1 for r in rows if round(r["score"], 6) >= kth[r["qid"]])
    assert hits == len(rows), (hits, len(rows))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_graph_ann_shipped_config_recall_gate(spark):
    """q219's 'Done' gate: tie-aware search recall >= 0.9 with the
    SHIPPED knobs (beam=16, hops=4, entries=4 — beam=12/hops=3
    measured 0.84 at sf0.1, the sweep APPROX_EVIDENCE documents) on
    the smoke corpus; the evidence script repeats the measurement at
    sf0.01, sf0.1, and the 16-center clustered corpus (all 1.0)."""
    from kstreamjs_spark.queries.pipeline import (
        _Q219_BEAM,
        _Q219_ENTRIES,
        _Q219_HOPS,
        _Q219_K,
        _Q219_NQ,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    recall = _tie_aware_search_recall(
        emb, _Q219_NQ, _Q219_K, _Q219_BEAM, _Q219_HOPS, _Q219_ENTRIES
    )
    assert recall >= 0.9, recall


def test_chunk_dedup_rebuild_semantics(spark, tmp_path):
    """q221's reconstruction contract on a planted corpus (W=8 chunks):
    doc 0 owns chunks A B, doc 1 repeats A then contributes C, doc 2 is
    ALL repeats. Pins (a) first occurrence kept by (doc_id, position),
    (b) later docs' rebuilt text drops exactly the repeated chunks while
    preserving in-doc order, (c) the all-repeats doc rebuilds to the 0
    sentinel with n_kept=0, and (d) an in-doc repeat (same chunk twice
    in one doc) keeps only its first position."""
    import os

    from kstreamjs_spark.queries import all_queries
    from kstreamjs_spark.operators import text as _text

    A = " ".join(f"a{i}" for i in range(8))
    B = " ".join(f"b{i}" for i in range(8))
    C = " ".join(f"c{i}" for i in range(8))
    docs = [
        (0, f"{A} {B}", "en", "s", 0),
        (1, f"{A} {C} {C}", "en", "s", 0),   # repeats A, and C in-doc
        (2, f"{B} {A}", "en", "s", 0),       # all repeats
    ]
    sf = str(tmp_path / "sf_q221")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    out = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["rebuilt_fp"])
        for r in all_queries()["q221_chunk_dedup_rebuild"]
        .fn(spark, sf)
        .collect()
    }

    def fp(s):
        return (
            spark.range(1)
            .select(_text.fingerprint(F.lit(s)).alias("f"))
            .first()["f"]
        )

    assert out[0] == (2, 2, fp(f"{A} {B}"))       # untouched
    assert out[1] == (3, 1, fp(C))                 # A repeat + C in-doc dup
    assert out[2] == (2, 0, 0)                     # all repeats -> sentinel


def test_domain_mixture_mw_semantics(spark, tmp_path):
    """q222's multiplicative-weights loop on a planted 3-domain corpus:
    (a) the highest-TTR (hardest) domain ends with the LARGEST weight
    and the lowest with the smallest (monotone in loss), (b) weights
    still sum to ~1e9 after 10 fixed-point rounds (normalization is
    load-bearing), and (c) two domains with IDENTICAL losses keep
    IDENTICAL weights (the update is a pure function of loss)."""
    import os

    from kstreamjs_spark.queries import all_queries

    # hard: all-distinct tokens (TTR 1.0); easy: one repeated token
    # (TTR -> 0); mid + mid2: identical half-repeated shape
    def doc(did, src, words):
        return (did, " ".join(words), "en", src, 0)

    docs = [
        doc(0, "hard", [f"h{i}" for i in range(20)]),
        doc(1, "easy", ["x"] * 20),
        doc(2, "mid", ["m"] * 10 + [f"m{i}" for i in range(10)]),
        doc(3, "mid2", ["n"] * 10 + [f"n{i}" for i in range(10)]),
    ]
    sf = str(tmp_path / "sf_q222")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    rows = {
        r["source"]: (r["loss_ppm"], r["weight_ppb"])
        for r in all_queries()["q222_domain_mixture_mw"]
        .fn(spark, sf)
        .collect()
    }
    assert rows["hard"][0] > rows["mid"][0] > rows["easy"][0]
    assert rows["hard"][1] > rows["mid"][1] > rows["easy"][1]
    assert rows["mid"] == rows["mid2"]
    total = sum(w for _l, w in rows.values())
    assert abs(total - 10**9) <= 4          # fixed-point rounding slack


def test_perceptron_train_separates_planted_corpus(spark, tmp_path):
    """q223's full-batch perceptron on a linearly separable planted
    corpus: 'en' docs use one token family, others a disjoint one
    (disjoint hash buckets by construction). Pins (a) the trained
    weights reach ZERO training error within the shipped 5 rounds,
    (b) weights moved off the zero init, and (c) the margin of every
    doc has its label's sign (not just non-negative accuracy)."""
    import os

    from kstreamjs_spark.operators.text import _portable_token_hash
    from kstreamjs_spark.queries import all_queries

    # tokens chosen so the two classes hash to different buckets:
    # 'aa' vs 'zzzz' differ in length and char codes
    docs = [
        (i, " ".join(["aa"] * 10), "en", "s", 0) for i in range(5)
    ] + [
        (5 + i, " ".join(["zzzz"] * 10), "de", "s", 0) for i in range(5)
    ]
    sf = str(tmp_path / "sf_q223")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    w = {
        r["bucket"]: r["weight"]
        for r in all_queries()["q223_perceptron_quality_train"]
        .fn(spark, sf)
        .collect()
    }
    assert any(v != 0 for v in w.values())
    b_en = (
        spark.range(1)
        .select(
            F.pmod(_portable_token_hash(F.lit("aa")), F.lit(64)).alias("b")
        )
        .first()["b"]
    )
    b_de = (
        spark.range(1)
        .select(
            F.pmod(_portable_token_hash(F.lit("zzzz")), F.lit(64)).alias("b")
        )
        .first()["b"]
    )
    assert b_en != b_de
    m_en = 10 * w[b_en] + w[-1]
    m_de = 10 * w[b_de] + w[-1]
    assert m_en > 0 and m_de < 0, (m_en, m_de)


def test_perceptron_nonseparable_corpus_oscillates_bounded(
    spark, tmp_path
):
    """q223 on a NON-separable corpus (round-16 verdict ask): every
    doc has IDENTICAL text, labels 3 'en' vs 2 'de' — no weight
    vector separates them, the classic perceptron-cycling regime.
    Full-batch updates are deterministic, so the 5-round trajectory
    is a closed form: w=0 -> (2,1) -> (-2,-1) -> (4,2) -> (0,0) ->
    (2,1). Pins (a) the exact final weights (schedule-independent
    convergence behavior, not divergence), (b) every other bucket
    stays zero, (c) weights stay bounded by T * total token count —
    the docstring's growth bound, on the corpus that stresses it."""
    import os

    from kstreamjs_spark.operators.text import _portable_token_hash
    from kstreamjs_spark.queries import all_queries

    docs = [
        (i, "xx xx", ("en" if i < 3 else "de"), "s", 0)
        for i in range(5)
    ]
    sf = str(tmp_path / "sf_q223ns")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    w = {
        r["bucket"]: r["weight"]
        for r in all_queries()["q223_perceptron_quality_train"]
        .fn(spark, sf)
        .collect()
    }
    b = (
        spark.range(1)
        .select(
            F.pmod(_portable_token_hash(F.lit("xx")), F.lit(64)).alias("b")
        )
        .first()["b"]
    )
    assert w[b] == 2 and w[-1] == 1, (w[b], w[-1])
    assert all(v == 0 for k, v in w.items() if k not in (b, -1))
    total_tokens = 5 * 2
    assert all(abs(v) <= 5 * total_tokens for v in w.values())


def test_graph_ann_filtered_search_gate(spark):
    """q219c's 'Done' gate: tie-aware FILTERED recall >= 0.9 on the
    smoke corpus with the shipped oversearch knobs (beam=48 ~
    k/selectivity; q219's unfiltered beam=16 measures 0.71 at sf0.1 —
    the sweep APPROX_EVIDENCE documents). Also pins that every
    returned node actually PASSES the predicate (the one property a
    recall number cannot certify)."""
    from kstreamjs_spark.operators import similarity
    from kstreamjs_spark.queries.pipeline import (
        _Q219C_BEAM,
        _Q219C_ENTRIES,
        _Q219C_HOPS,
        _Q219C_LABEL,
        _Q219_K,
        _Q219_NQ,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < _Q219_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    lab = emb.filter(F.col("label") == _Q219C_LABEL)
    labels = {r["vec_id"] for r in lab.select("vec_id").collect()}
    kth: dict = {}
    for r in similarity.knn_join(lab, qs, k=_Q219_K).collect():
        s = round(r["score"], 6)
        kth[r["qid"]] = min(kth.get(r["qid"], 2.0), s)
    g = similarity.nn_descent(emb, k=20, iters=8).drop("rn")
    vv = emb.select(
        F.col("vec_id").alias("node"),
        F.col("embedding").alias("vec"),
        (F.col("label") == _Q219C_LABEL).alias("keep"),
    )
    kept = similarity.graph_ann_topk(
        g, vv, qs, k=_Q219_K, beam=_Q219C_BEAM, hops=_Q219C_HOPS,
        n_entries=_Q219C_ENTRIES, filter_col="keep",
    ).collect()
    assert all(r["node"] in labels for r in kept)
    hits = sum(1 for r in kept if round(r["score"], 6) >= kth[r["qid"]])
    assert hits / (_Q219_NQ * _Q219_K) >= 0.9


def _hilbert_xy2d_ref(x, y, bits=15):
    """Reference canonical xy2d (the public rotate-and-accumulate
    form) — the ground truth layout.hilbert_value must match."""
    n = 1 << bits
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_value_matches_reference_both_engines(spark):
    """q227's curve index: Spark fold == DuckDB list_reduce ==
    reference xy2d on corners + a seeded random sample."""
    import random

    import duckdb

    from kstreamjs_spark.operators import layout

    rng = random.Random(11)
    pts = [(0, 0), (1, 0), (1, 1), (0, 1), (32767, 32767),
           (32767, 0), (0, 32767)] + [
        (rng.randrange(32768), rng.randrange(32768)) for _ in range(60)
    ]
    want = [_hilbert_xy2d_ref(x, y) for x, y in pts]
    df = spark.createDataFrame(pts, "x long, y long")
    got = [
        r["h"]
        for r in df.select(
            layout.hilbert_value(F.col("x"), F.col("y")).alias("h")
        ).collect()
    ]
    assert got == want
    con = duckdb.connect()
    sql = layout.hilbert_value_sql("x", "y")
    gd = [
        r[0]
        for r in con.execute(
            f"SELECT {sql} FROM (SELECT UNNEST("
            f"{[p[0] for p in pts]}) x, UNNEST({[p[1] for p in pts]}) y)"
        ).fetchall()
    ]
    assert gd == want


def test_hilbert_beats_zorder_on_range_contiguity():
    """q227's locality claim, pinned quantitatively on the 32x32
    block grid (the top-10-bit file level): (a) EVERY consecutive
    Hilbert index pair is Manhattan-adjacent, while Z has many
    power-of-two jumps; (b) every 8x8 axis-aligned query box is
    covered by FEWER contiguous index runs under Hilbert (fewer scan
    ranges per query). Also documents what Hilbert does NOT buy: the
    block MEMBERSHIP at a fixed prefix depth equals Z's (both are
    quadrant-recursive), so per-file min-max boxes are identical."""
    def z2(x, y, bits=5):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    n = 32
    hcells = {}
    zcells = {}
    for x in range(n):
        for y in range(n):
            hcells[_hilbert_xy2d_ref(x, y, bits=5)] = (x, y)
            zcells[z2(x, y)] = (x, y)
    # (a) adjacency
    def violations(cells):
        v = 0
        for d in range(n * n - 1):
            (x1, y1), (x2, y2) = cells[d], cells[d + 1]
            if abs(x1 - x2) + abs(y1 - y2) != 1:
                v += 1
        return v

    assert violations(hcells) == 0
    assert violations(zcells) > 100
    # (b) covering runs for UNALIGNED 8x8 boxes (stride 5): aligned
    # power-of-two boxes are one contiguous range under BOTH curves
    # (each is a whole quadrant) — misaligned query boxes are where
    # Z fragments and Hilbert's adjacency pays
    def runs(cells, x0, y0, w):
        idx = sorted(
            d for d, (x, y) in cells.items()
            if x0 <= x < x0 + w and y0 <= y < y0 + w
        )
        return 1 + sum(
            1 for a, b in zip(idx, idx[1:]) if b != a + 1
        )

    worse = total_h = total_z = 0
    for x0 in range(0, n - 8, 5):
        for y0 in range(0, n - 8, 5):
            rh = runs(hcells, x0, y0, 8)
            rz = runs(zcells, x0, y0, 8)
            total_h += rh
            total_z += rz
            if rh < rz:
                worse += 1
    assert worse >= 8, (worse, total_h, total_z)
    assert total_h < total_z, (total_h, total_z)


def test_cluster_safe_split_no_neardup_leakage(spark):
    """q228's contract on a planted duplicate-heavy manifold: 4
    orthogonal clusters of 12 near-identical members. Pins (a) ZERO
    near-dup pairs straddle the split (cluster-atomicity, the whole
    point), (b) a row-level hash split on the SAME corpus leaks
    (the contrast that justifies the operator), and (c) the split is
    the deterministic label-hash assignment, not an accident of
    cluster count."""
    import numpy as np

    from kstreamjs_spark.operators import cluster, similarity
    from kstreamjs_spark.operators.sampling import hash_bucket
    from kstreamjs_spark.queries.pipeline import (
        _Q228_SEED,
        _Q228_TRAIN_FRAC,
    )

    rng = np.random.RandomState(7)
    centers = np.eye(4, 8) * 10.0
    n = 48
    base = centers[np.arange(n) % 4] + rng.standard_normal((n, 8)) * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    g = similarity.nn_descent(df, k=5, iters=3).filter(
        F.col("score") >= 0.99
    )
    pairs = g.select(
        F.least("src", "dst").alias("d1"),
        F.greatest("src", "dst").alias("d2"),
    ).distinct()
    pair_rows = [(r["d1"], r["d2"]) for r in pairs.collect()]
    assert pair_rows  # the manifold must actually produce near-dups
    comps = cluster.connected_components(pairs, src="d1", dst="d2")
    lab = (
        df.select(F.col("vec_id").alias("node"))
        .join(comps, "node", "left")
        .select("node", F.coalesce("label", F.col("node")).alias("label"))
    )
    thresh = int(_Q228_TRAIN_FRAC * 4294967296)
    split = {
        r["node"]: r["s"]
        for r in lab.select(
            "node",
            F.when(
                hash_bucket("label", seed=_Q228_SEED) < F.lit(thresh),
                F.lit("train"),
            ).otherwise(F.lit("eval")).alias("s"),
        ).collect()
    }
    # (a) no near-dup pair crosses the cluster split
    assert all(split[a] == split[b] for a, b in pair_rows)
    # (b) the row-level split DOES leak on the same pairs
    row_split = {
        r["node"]: r["s"]
        for r in df.select(
            F.col("vec_id").alias("node"),
            F.when(
                hash_bucket("vec_id", seed=_Q228_SEED) < F.lit(thresh),
                F.lit("train"),
            ).otherwise(F.lit("eval")).alias("s"),
        ).collect()
    }
    leaks = sum(1 for a, b in pair_rows if row_split[a] != row_split[b])
    assert leaks > 0, "row split should leak on a duplicate-heavy corpus"
    # (c) assignment is the label hash, exactly — recompute via the
    # SQL mirror for a sample of nodes
    labs = {r["node"]: r["label"] for r in lab.collect()}
    import duckdb

    from kstreamjs_spark.operators.sampling import hash_bucket_sql

    con = duckdb.connect()
    some = sorted(labs)[:10]
    for node in some:
        b = con.execute(
            f"SELECT {hash_bucket_sql(str(labs[node]), seed=_Q228_SEED)}"
        ).fetchone()[0]
        assert split[node] == ("train" if b < thresh else "eval")


def test_heaps_beta_discriminates_template_from_natural(spark, tmp_path):
    """q230's health-flag claim: a template corpus (tiny fixed
    vocabulary — the synthetic testdata regime, where q230 measures
    beta = 0.0) fits beta ~ 0, while a corpus whose documents keep
    introducing NEW words fits beta well inside (0, 1] — the
    discriminative behavior that makes the metric a curation flag
    rather than a constant."""
    import os
    import random

    from kstreamjs_spark.queries import all_queries

    rng = random.Random(5)

    def corpus(path, docs):
        os.makedirs(path, exist_ok=True)
        spark.createDataFrame(
            [(i, t, "en", "s", 0) for i, t in enumerate(docs)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(f"{path}/documents.parquet")

    fn = all_queries()["q230_heaps_vocab_growth"].fn
    # template: 64 docs over a 5-word vocabulary
    tdir = str(tmp_path / "sf_template")
    corpus(
        tdir,
        [
            " ".join(rng.choice("a b c d e".split()) for _ in range(30))
            for _ in range(64)
        ],
    )
    beta_t = fn(spark, tdir).first()["heaps_beta"]
    # growing: every doc contributes fresh words (heavy-tailed draw
    # from a large id space)
    gdir = str(tmp_path / "sf_growing")
    corpus(
        gdir,
        [
            " ".join(
                f"w{int(rng.paretovariate(1.2) * 10)}" for _ in range(30)
            )
            for _ in range(64)
        ],
    )
    beta_g = fn(spark, gdir).first()["heaps_beta"]
    assert beta_t < 0.1, beta_t
    assert 0.2 < beta_g <= 1.0, beta_g
    assert beta_g > beta_t


def test_weighted_jaccard_catches_what_set_jaccard_misses(spark, tmp_path):
    """q231's reason to exist, pinned: two docs sharing the same few
    TYPES but with very different repetition profiles score HIGH on
    set-Jaccard and LOW on weighted Jaccard, while a true tf-profile
    duplicate scores high on both — the discrimination the multiset
    semantics buys."""
    import os

    from kstreamjs_spark.queries import all_queries

    base = ("a " * 20 + "b " * 20).strip()          # 40 tokens, 2 types
    skew = ("a " * 39 + "b").strip()                # same types, skewed tf
    dup = ("a " * 19 + "x " + "b " * 20).strip()    # near-identical tf
    docs = [
        (0, base, "en", "s", 0),
        (1, skew, "en", "s", 0),
        (2, dup, "en", "s", 0),
    ]
    sf = str(tmp_path / "sf_q231")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    got = {
        (r["d1"], r["d2"]): r["w_jaccard"]
        for r in all_queries()["q231_weighted_jaccard_neardup"]
        .fn(spark, sf)
        .collect()
    }
    # (0,2): identical tf profile minus one token -> well above theta
    assert (0, 2) in got and got[(0, 2)] >= 0.9, got
    # (0,1): same TYPE set (set-Jaccard would be 1.0) but the tf
    # profile disagrees -> below theta, correctly absent
    assert (0, 1) not in got, got


def test_weighted_minhash_recall_gate(spark):
    """q232's 'Done' gate on the smoke corpus: recall >= 0.9 vs the
    exact q231 pair set AND zero unverified extras (precision 1.0 by
    construction — every candidate is exact-verified; an extra would
    mean the verify arithmetic diverged from q231's)."""
    from kstreamjs_spark.queries import all_queries

    q = all_queries()
    sfd = SF_SMOKE
    ex = {
        (r["d1"], r["d2"])
        for r in q["q231_weighted_jaccard_neardup"].fn(spark, sfd).collect()
    }
    ap = {
        (r["d1"], r["d2"])
        for r in q["q232_weighted_minhash_neardup"].fn(spark, sfd).collect()
    }
    assert not (ap - ex), sorted(ap - ex)[:5]
    assert len(ex & ap) / max(len(ex), 1) >= 0.9


def test_heaps_tiny_corpus_matches_oracle(spark, tmp_path):
    """Round-15 review finding, pinned: corpora smaller than the
    checkpoint grid (7 docs) and 1-based doc ids (an empty cp=1
    prefix) used to diverge between the engines — the oracle kept
    duplicate/empty checkpoints the Spark groupBy collapsed. Both
    sides now collapse duplicates and drop empty prefixes."""
    import os

    import duckdb

    from kstreamjs_spark.queries import all_queries

    spec = all_queries()["q230_heaps_vocab_growth"]
    for name, docs in [
        ("7docs", [(i, f"w{i} w{i+1} common", "en", "s", 0)
                   for i in range(7)]),
        ("1based8", [(i, f"w{i} w{i+1} common", "en", "s", 0)
                     for i in range(1, 9)]),
    ]:
        d = str(tmp_path / name)
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame(
            docs,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).coalesce(1).write.parquet(f"{d}/documents.parquet")
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{d}/documents.parquet/*.parquet'"
        )
        duck = sorted(map(tuple, con.execute(spec.oracle).fetchall()))
        got = sorted(tuple(r) for r in spec.fn(spark, d).collect())
        assert duck == got, (name, duck, got)
