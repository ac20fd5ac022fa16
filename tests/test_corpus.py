"""Corpus-curation operators: golden semantics on constructed
frames, group-atomicity and convergence properties, and scan-side plan
shape for the per-row metrics."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kstreamjs_spark.operators import dedup, kmeans, text
from kstreamjs_spark.plans import assert_in_plan, assert_not_in_plan
from kstreamjs_spark.queries import all_queries

SPECS = all_queries()


@pytest.fixture
def q(spark, sf_smoke):
    """Builds a registered query's frame over the sf0.001 fixtures."""
    return lambda name: SPECS[name].fn(spark, sf_smoke)


# ------------------------------------------------------------ normalization
def test_normalize_text_golden(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World! 42"), (2, "  a--b  "), (3, "...")],
        "id long, text string",
    )
    out = {
        r["id"]: r["n"]
        for r in df.select("id", text.normalize_text("text").alias("n")).collect()
    }
    assert out == {1: "hello world 42", 2: "a b", 3: ""}


# ------------------------------------------------------------- repetition
def test_repetition_ratio_golden(spark):
    # "a b a b a b" -> trigrams: [a b a, b a b, a b a, b a b] = 4 total,
    # 2 distinct -> ratio 0.5; a non-repeating doc -> 0.0
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "u v w x")], "doc_id long, text string"
    )
    tri = dedup.shingle_list("text", 3)
    out = {
        r["doc_id"]: (r["n"], r["u"])
        for r in df.select(
            "doc_id",
            F.size(tri).alias("n"),
            F.size(F.array_distinct(tri)).alias("u"),
        ).collect()
    }
    assert out == {1: (4, 2), 2: (2, 2)}


def test_shingle_list_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    row = df.select(F.size(dedup.shingle_list("text", 3)).alias("n")).collect()[0]
    assert row["n"] == 0


# ------------------------------------------------------------- group split
def test_group_split_is_source_atomic(spark, sf_smoke):
    """Every source must land in exactly one split — the leakage guarantee
    a grouped split exists for."""
    from kstreamjs_spark.operators import sampling
    from kstreamjs_spark.tables import load

    (docs,) = load(spark, sf_smoke, "documents")
    split = F.when(
        sampling.hash_bucket(text.portable_string_hash("source"), seed=29)
        < F.lit(int(0.9 * 4294967296)),
        F.lit("train"),
    ).otherwise(F.lit("val"))
    per_source = (
        docs.select("source", split.alias("split"))
        .groupBy("source")
        .agg(F.countDistinct("split").alias("k"))
        .collect()
    )
    assert per_source and all(r["k"] == 1 for r in per_source)


# ---------------------------------------------------------- decontamination
def test_decontamination_flags_shared_shingle(spark):
    """A train doc sharing a 5-gram with an eval doc is contaminated; one
    with no shared 5-gram is not."""
    from kstreamjs_spark.operators.dedup import shingles

    eval_doc = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix the quick brown fox jumps suffix words here"),
            (2, "completely different content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    ev = eval_doc.select(F.explode(shingles("text", 5)).alias("g")).distinct()
    hit = (
        train.select("doc_id", F.explode(shingles("text", 5)).alias("g"))
        .join(F.broadcast(ev), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert {r["doc_id"] for r in hit} == {1}


# ----------------------------------------------------------------- k-means
def test_kmeans_assign_tie_prefers_lowest_cid(spark):
    # two identical centroids: every vector ties -> must pick cid 0
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.6, 0.8])], "vec_id long, embedding array<double>"
    )
    cents = [[1.0, 0.0], [1.0, 0.0]]
    rows = kmeans.assign(df, cents).select("vec_id", "cid").collect()
    assert all(r["cid"] == 0 for r in rows)


def test_kmeans_assign_picks_nearest(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = {
        r["vec_id"]: r["cid"] for r in kmeans.assign(df, cents).collect()
    }
    assert out == {0: 0, 1: 1, 2: 0}


def test_kmeans_lloyd_objective_not_worse(spark, sf_smoke):
    """The mean best-similarity (spherical k-means objective) must not
    decrease across Lloyd iterations (small numeric slack)."""
    from kstreamjs_spark.tables import load

    (emb,) = load(spark, sf_smoke, "embeddings")
    cents0 = kmeans.initial_centroids(emb, 4)

    def objective(cents):
        return (
            kmeans.assign(emb, cents)
            .agg(F.avg("sim").alias("o"))
            .collect()[0]["o"]
        )

    o0 = objective(cents0)
    cents1 = kmeans.lloyd_iterate(emb, cents0, iters=1)
    o1 = objective(cents1)
    assert o1 >= o0 - 1e-9


def test_kmeanspp_beats_first_k_on_clustered_ids(spark):
    """The failure mode first-k init has and kmeans++ fixes: when row ids
    are correlated with content (here: the first k rows all sit in ONE
    tight cluster), first-k seeds collapse into that cluster while the
    D²-sampled seeds spread across clusters — strictly higher assignment
    objective, before any Lloyd step. Also pins determinism: the same
    (data, seed) returns the identical centroid list."""
    rows = []
    for i in range(4):
        rows.append((i, [1.0, 0.01 * i, 0.0]))          # cluster A: ids 0-3
    for i in range(4):
        rows.append((4 + i, [0.0, 1.0, 0.01 * i]))      # cluster B: ids 4-7
    for i in range(4):
        rows.append((8 + i, [0.01 * i, 0.0, 1.0]))      # cluster C: ids 8-11
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def objective(cents):
        return (
            kmeans.assign(df, cents).agg(F.avg("sim").alias("o")).collect()[0]["o"]
        )

    first = kmeans.initial_centroids(df, 3)
    pp = kmeans.initial_centroids(df, 3, method="kmeanspp", seed=7)
    assert pp == kmeans.initial_centroids(df, 3, method="kmeanspp", seed=7)
    assert objective(pp) > objective(first)
    # the spread seeds must come from three DIFFERENT clusters
    argmax_dims = {max(range(3), key=lambda d: c[d]) for c in pp}
    assert len(argmax_dims) == 3


def test_kmeans_lloyd_handles_empty_cluster(spark):
    # k=3 over two tight groups: at least one centroid may go empty and
    # must survive (keeps its previous position, no crash, k preserved)
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.01]), (2, [0.98, 0.02])],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    nxt = kmeans.lloyd_iterate(df, cents, iters=1)
    assert len(nxt) == 3 and all(len(c) == 2 for c in nxt)


# ------------------------------------------------------------ quantization
def test_quantize_golden(spark):
    # absmax 2.0 -> scale 63.5; values map to floor(x*63.5+0.5) clamped
    df = spark.createDataFrame(
        [(0, [2.0, -2.0, 1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    row = SPECS["q85_quantize_embeddings"].fn  # noqa: F841 (query used below)
    from kstreamjs_spark.operators.similarity import as_double

    d = as_double(F.col("embedding"))
    m = F.array_max(F.transform(d, F.abs))
    qv = F.transform(
        d,
        lambda x: F.greatest(
            F.lit(-127).cast("long"),
            F.least(F.lit(127).cast("long"), F.floor(x * (F.lit(127.0) / m) + 0.5)),
        ),
    )
    out = df.select(qv.alias("qv")).collect()[0]["qv"]
    assert out == [127, -127, 64, 0]  # floor(-126.5) = -127


def test_quantize_saturation_counts(q):
    # every real vector saturates at least once: its absmax element maps
    # to +/-127 by construction
    sat = q("q85_quantize_embeddings").agg(F.min("n_sat").alias("m")).collect()
    assert sat[0]["m"] >= 1


# ------------------------------------------------------------- plan shape
def test_per_doc_metrics_have_no_exchange(spark, sf_smoke):
    """q78/q84/q85 are per-row metrics: their plans must contain no
    Exchange (shuffle) at all — at 100 TB these are map-only passes.
    (The trailing orderBy exists for the oracle's total order; assert on
    the plan up to that sort's exchange by dropping it.)"""
    for name in ("q78_repetition_ratio", "q84_normalize_text",
                 "q85_quantize_embeddings"):
        df = SPECS[name].fn(spark, sf_smoke)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # rangepartitioning exchange for the final ORDER BY is expected;
        # any hashpartitioning exchange would mean a real shuffle
        assert "hashpartitioning" not in plan, name


def test_kmeans_assign_query_single_exchange(q):
    """q81: the assignment itself is scan-side; the only hash exchange is
    the final groupBy(cid) on k rows worth of partials."""
    df = q("q81_kmeans_assign")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning") <= 1


def test_vocab_coverage_values(q):
    rows = q("q80_vocab_coverage").collect()
    assert rows, "top tokens must be non-empty"
    shares = [r["cum_share"] for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:]))
    assert 0 < shares[-1] <= 1.0


def test_upsample_exact_budget(q):
    rows = q("q82_upsample_replicate").collect()
    assert rows and all(r["n_rows"] == 200 for r in rows)


# --------------------------------------------------- Gini closed form
def test_gini_histogram_closed_form_matches_naive(spark):
    """q109's histogram block formula vs the naive sorted-rank Gini on
    adversarial shapes: perfectly uniform (gini 0), one mega-key, and a
    mixed distribution with heavy ties."""
    from kstreamjs_spark.queries import all_queries

    def naive_gini(counts):
        xs = sorted(counts)
        n = len(xs)
        s = sum((i + 1) * x for i, x in enumerate(xs))
        return round(2.0 * s / (n * sum(xs)) - (n + 1.0) / n, 6)

    spec = all_queries()["q109_skew_gini"]
    for counts in ([5, 5, 5, 5], [1, 1, 1, 97], [1, 1, 2, 2, 2, 3, 50, 50]):
        rows = []
        eid = 0
        for uid, c in enumerate(counts):
            for _ in range(c):
                rows.append((eid, uid))
                eid += 1
        df = spark.createDataFrame(rows, "event_id long, user_id long")
        df.createOrReplaceTempView("_gini_events")
        # run the query body against this fixture via a monkeypatched load
        import kstreamjs_spark.queries.relational as rel
        from unittest import mock

        with mock.patch.object(
            rel, "load", lambda _s, _sf, *_t: (spark.table("_gini_events"),)
        ):
            got = spec.fn(spark, "ignored").collect()[0]
        assert got["n_keys"] == len(counts)
        assert got["n_events"] == sum(counts)
        assert got["max_per_key"] == max(counts)
        assert abs(got["gini"] - naive_gini(counts)) < 1e-9, counts


def test_unicode_normalize_fingerprint_stability(spark):
    """q84b's composition contract: NFC/NFD variants of the SAME text
    must fingerprint (and therefore dedup) identically once normalized
    through text.unicode_normalize — the reason the operator exists.
    Unnormalized, the variants fingerprint differently (the bug being
    prevented); normalized, NFC(x) == NFC(NFD(x)) byte-for-byte and
    idempotence holds. Also pins NULL propagation and form validation."""
    import unicodedata

    nfc_text = unicodedata.normalize("NFC", "caf\u00e9 jalape\u00f1o \u00c5ngstr\u00f6m")
    nfd_text = unicodedata.normalize("NFD", nfc_text)
    assert nfc_text != nfd_text  # the variants really are distinct bytes
    df = spark.createDataFrame(
        [(1, nfc_text), (2, nfd_text), (3, None)], "id long, t string"
    )
    out = df.select(
        "id",
        text.fingerprint(text.unicode_normalize("t", "NFC")).alias("fp_norm"),
        text.fingerprint("t").alias("fp_raw"),
        text.unicode_normalize("t", "NFC").alias("nfc"),
        text.unicode_normalize(
            text.unicode_normalize("t", "NFC"), "NFC"
        ).alias("nfc2"),
    ).collect()
    rows = {r["id"]: r for r in out}
    # unnormalized variants hash apart; normalized they collide
    assert rows[1]["fp_raw"] != rows[2]["fp_raw"]
    assert rows[1]["fp_norm"] == rows[2]["fp_norm"]
    assert rows[1]["nfc"] == rows[2]["nfc"] == nfc_text
    # idempotence and NULL propagation
    assert all(r["nfc"] == r["nfc2"] for r in out if r["nfc"] is not None)
    assert rows[3]["nfc"] is None and rows[3]["fp_norm"] is None
    with pytest.raises(ValueError):
        text.unicode_normalize("t", "NFX")


def test_unicode_normalize_nfkc_compatibility_folds(spark):
    """NFKC (compatibility) folds ligatures/fullwidth forms that NFC
    preserves — the form real tokenization pipelines use when they
    want 'ﬁ' == 'fi' and fullwidth digits == ASCII digits."""
    df = spark.createDataFrame(
        [(1, "ﬁle ０１２")], "id long, t string"
    )
    r = df.select(
        text.unicode_normalize("t", "NFC").alias("nfc"),
        text.unicode_normalize("t", "NFKC").alias("nfkc"),
    ).collect()[0]
    assert r["nfc"] == "ﬁle ０１２"  # NFC preserves
    assert r["nfkc"] == "file 012"                     # NFKC folds
