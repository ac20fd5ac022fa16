"""Deduplication operators for document-scale corpora: exact, n-gram
Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design (100 TB corpora):
- Exact dedup is a hash groupBy on the key (map-side partial dedup first).
- All-pairs similarity is never computed: candidate generation always goes
  through an equi-join on a bucket key (shingle, MinHash band, SimHash
  chunk, LSH bucket), which Spark executes as a shuffle join on that key.
  Only candidates are verified exactly. Skewed buckets (a shingle shared by
  every doc) are the classic failure mode — we cap bucket width by dropping
  shingles above a document-frequency ceiling, the standard trick.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .text import tokens

MERSENNE_PRIME = (1 << 61) - 1
# Modulus for the minhash permutation family: the Mersenne prime 2^31-1.
# Small enough that a full-range multiplier a in [1, p-1] keeps a*x + b
# under 2^62 (int64-safe), so h(x) = (a*x + b) mod p genuinely wraps and
# mixes. The previous layout (a < 2^30, p = 2^61-1, x < 2^32) made a*x+b
# wrap AT MOST TWICE, i.e. h was near-monotonic in x for every
# permutation — the arg-min was biased toward the globally smallest
# hashed shingle across ALL permutations at once, inflating the per-pair
# estimator variance ~3x over binomial (caught by the banding-curve test
# in tests/test_llm_ops.py). Reducing the 64-bit shingle hash to 31 bits
# costs ~1e-6 collision probability inside a pair's shingle union —
# invisible next to the 1/sqrt(num_perm) estimator noise.
MINHASH_PRIME = (1 << 31) - 1


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition by the id before heavy per-row compute. Small benchmark
    tables arrive as a single parquet row group (one task); signature
    computation is CPU-bound, so fan it out to the full core count. At real
    scale the input already has thousands of splits and AQE coalesces any
    excess, so this stays harmless."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)


# Public alias: other query families (e.g. the q86 bigram-LM scorer) need
# the same fan-out before CPU-heavy per-row work on single-row-group input.
spread = _spread


def bind(col: Column, body) -> Column:
    """Evaluate ``col`` once and pass it to ``body`` as a bound lambda
    variable. Catalyst does not CSE a captured subexpression across
    higher-order-function lambda invocations — referencing e.g.
    ``split(text)`` inside a ``transform`` lambda re-runs the split per
    array element (measured 10x on shingling). Wrapping the value in a
    1-element array and transforming binds it as a real lambda variable,
    evaluated exactly once per row."""
    return F.element_at(F.transform(F.array(col), body), 1)


def shingle_list(text: Column | str, n: int = 3) -> Column:
    """All n-token shingles of ``text`` WITH multiplicity (no distinct) —
    the repetition-analysis variant of :func:`shingles`: the ratio of
    duplicate shingle occurrences is exactly what a repetition filter
    measures, so collapsing duplicates here would erase the signal."""

    def from_toks(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(toks) - n)
        make = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
        )
        # Guard: F.sequence(0, negative) would generate a DESCENDING
        # sequence, so documents shorter than n tokens get an empty shingle
        # set explicitly.
        return F.when(
            F.size(toks) >= n, F.transform(idx, make)
        ).otherwise(F.array().cast("array<string>"))

    return bind(tokens(text), from_toks)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles of a token-separated text column, as an
    array<string> — :func:`shingle_list` with duplicates collapsed (ONE
    definition of the shingle window; the two variants cannot drift).
    Expression-only — no explode until the caller needs one."""
    return F.array_distinct(shingle_list(text, n))


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup on a key subset (reference has no dedup at all; this is
    the north-star baseline op)."""
    return df.dropDuplicates(cols)


def _shingle_pair_counts(
    documents: DataFrame,
    n: int = 3,
    partition_col: str | None = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Shared candidate machinery for the exact set-overlap dedup family
    (:func:`jaccard_pairs`, :func:`containment_pairs`): for every document
    pair sharing at least one distinct n-gram shingle (within the optional
    blocking partition), the frame (d1, d2, common, n1, n2) with
    common = |S(A)∩S(B)| and n1/n2 the (max_df-filtered) per-doc distinct
    shingle counts. One shuffle on the shingle, one aggregation on the
    pair — no cross join anywhere; see :func:`jaccard_pairs` for the
    max_df hot-bucket argument."""
    pcols = [partition_col] if partition_col else []
    sh = _spread(documents, id_col).select(
        F.col(id_col),
        *[F.col(c) for c in pcols],
        shingles(text_col, n).alias("sh"),
    ).withColumn("n_sh", F.size("sh").cast("long"))
    # No materialize_once here: the static plan prints the shingle
    # projection under both self-join sides, but both sides shuffle by
    # the same canonical (shingle, partition) key, so the runtime plan
    # collapses them into ONE exchange + ReusedExchange. A checkpoint
    # measured ~0.2 s slower at sf0.1.
    ex = sh.select(
        F.col(id_col),
        *[F.col(c) for c in pcols],
        F.col("n_sh"),
        F.explode("sh").alias("s"),
    )
    if max_df is not None:
        # Shingles are distinct per doc, so count(*) per shingle == its
        # document frequency. The hot set is bounded by
        # total_shingle_instances / max_df — usually tiny, but at corpus
        # scale with a modest ceiling it can exceed broadcastable size, so
        # the join is left to AQE (which broadcasts it when it is small)
        # rather than force-broadcast.
        hot = (
            ex.groupBy(*pcols, "s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select(*pcols, "s")
        )
        # No materialize_once on ``hot``: it is 2x faster at max_df=50
        # (hot set tiny) but ~0.1-0.2 s slower at the deployed max_df=2
        # (most repeated shingles are hot, so the checkpoint write
        # outweighs the dedup), and the deployed ceilings are all small.
        ex = ex.join(hot, on=[*pcols, "s"], how="left_anti")
        # Per-doc counts must reflect the filtered sets; one shuffle on the
        # doc id. (The scan-side n_sh is stale once shingles are dropped.)
        w = Window.partitionBy(id_col)
        ex = ex.withColumn("n_sh", F.count(F.lit(1)).over(w).cast("long"))
    # Distinct names per side (s1/s2, p1/p2): comparing same-name columns
    # from two frames with shared lineage is the classic silently-wrong
    # self-join ("trivially true equals predicate" warning) — never compare
    # left["x"] == right["x"] on a self-join.
    left = ex.select(
        F.col(id_col).alias("d1"),
        *[F.col(c).alias("p1") for c in pcols],
        F.col("n_sh").alias("n1"),
        F.col("s").alias("s1"),
    )
    right = ex.select(
        F.col(id_col).alias("d2"),
        *[F.col(c).alias("p2") for c in pcols],
        F.col("n_sh").alias("n2"),
        F.col("s").alias("s2"),
    )
    cond = (F.col("d1") < F.col("d2")) & (F.col("s1") == F.col("s2"))
    if partition_col:
        cond = cond & (F.col("p1") == F.col("p2"))
    pairs = left.join(right, cond)
    return pairs.groupBy("d1", "d2").agg(
        F.count(F.lit(1)).alias("common"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
    )


def jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    partition_col: str | None = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle equi-join.

    |A∩B| is counted by joining exploded distinct shingles on the shingle
    string (within ``partition_col`` when given — a blocking key that bounds
    the candidate space); |A∪B| = |A|+|B|-|A∩B| from per-doc shingle counts
    carried through the join (:func:`_shingle_pair_counts`).

    ``max_df`` is the document-frequency ceiling: shingles occurring in more
    than ``max_df`` documents (within the blocking partition) are dropped
    from BOTH the intersection and the per-doc counts, i.e. Jaccard is
    computed over the stop-shingle-filtered sets. This bounds the width of
    any one join bucket at ``max_df`` — without it, a boilerplate shingle
    shared by every document makes its bucket quadratic at corpus scale.
    Cost when enabled: one map-combined aggregation on the shingle (tiny
    output: only shingles over the ceiling), a broadcast anti-join against
    that hot set, and one count-recompute shuffle on the doc id — all linear
    in the exploded shingle count, versus the quadratic bucket they prevent.
    """
    agg = _shingle_pair_counts(
        documents, n=n, partition_col=partition_col, id_col=id_col,
        text_col=text_col, max_df=max_df,
    )
    jac = F.col("common").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("common")
    ).cast("double")
    return (
        agg.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    partition_col: str | None = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-CONTAINMENT pairs: C(A→B) = |S(A)∩S(B)| / |S(A)|.

    The dedup mode Jaccard is blind to: a short document quoted wholesale
    inside a long one has tiny Jaccard (the union is dominated by the long
    side) but containment ≈ 1 for the short side. Emits one row per
    unordered pair with both directions' scores plus the max; the caller
    filters/keeps by policy (e.g. drop the contained side).

    Same single-shuffle shingle equi-join as :func:`jaccard_pairs` — the
    metric is a different projection over the identical
    (common, n1, n2) aggregate, so the 100 TB bucket-bounding story
    (blocking partition + max_df ceiling) carries over unchanged."""
    agg = _shingle_pair_counts(
        documents, n=n, partition_col=partition_col, id_col=id_col,
        text_col=text_col, max_df=max_df,
    )
    c1 = F.col("common").cast("double") / F.col("n1").cast("double")
    c2 = F.col("common").cast("double") / F.col("n2").cast("double")
    return (
        agg.withColumn("c1", F.round(c1, 6))
        .withColumn("c2", F.round(c2, 6))
        .withColumn("containment", F.greatest("c1", "c2"))
        .filter(F.col("containment") >= threshold)
        .select("d1", "d2", "c1", "c2", "containment")
    )


# ------------------------------------------------------------- MinHash LSH

def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing h_i(x)=(a*x+b) mod p.
    Plain LCG so the parameters are reproducible without numpy state."""
    params = []
    state = seed
    for _ in range(num_perm):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_PRIME - 1)) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_PRIME
        params.append((a, b))
    return params


def minhash_signature(
    text: Column | str, num_perm: int = 64, n: int = 3, seed: int = 42
) -> Column:
    """MinHash signature (array<long>, length num_perm) over n-gram shingles.

    Shingle -> 64-bit xxhash64 -> num_perm universal-hash permutations ->
    per-permutation min. All higher-order expressions; the signature is
    computed in the scan projection with zero shuffle.
    """
    sh = shingles(text, n)
    # Overflow-safe universal hashing in int64 over Z_p, p = 2^31-1: x and
    # a both < 2^31 keep a*x + b < 2^62. Full-range multipliers are the
    # point — see the MINHASH_PRIME note for the near-monotonic-map bias a
    # capped multiplier range causes.
    params = [
        (a % (MINHASH_PRIME - 1) + 1, b % MINHASH_PRIME)
        for a, b in _perm_params(num_perm, seed)
    ]
    x32 = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_PRIME)))
    # Single fold over the shingle hashes updating all num_perm minima at
    # once (one O(shingles x perms) pass). num_perm separate
    # array_min(transform(...)) projections would re-evaluate the shingle
    # pipeline per permutation — measured 20x slower.
    ab = F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in params
        ]
    )
    init = F.array_repeat(F.lit(1 << 62).cast("long"), num_perm)
    return F.aggregate(
        x32,
        init,
        lambda acc, x: F.zip_with(
            acc, ab, lambda m, p: F.least(m, (x * p["a"] + p["b"]) % MINHASH_PRIME)
        ),
    )


def minhash_signature_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig) MinHash-signature frame — same bits as
    :func:`minhash_signature`, computed the fast way.

    Why not SQL: the expression fold (`aggregate` + `zip_with`) is a
    higher-order function, and HOFs evaluate INTERPRETED — no
    whole-stage codegen — so the O(shingles x perms) inner loop paid
    ~55 ns/op on the sf0.1 corpus (1.3 s of q205b's bill; same again in
    q26b). Here the shingle HASHING stays an expression in the scan
    projection (xxhash64 must match Spark's bit-for-bit, so it never
    leaves the JVM), and only the integer permutation fold crosses to an
    Arrow-batched numpy kernel: (h x A + B) mod p with a reduceat
    segment-min, ~1 ns/op vectorized. Exactness: int64 arithmetic with
    h, a < 2^31 keeps h*a + b < 2^63 (the same overflow-safety argument
    the expression documents), so results are BIT-IDENTICAL — pinned by
    the equality pytest against the expression version.

    Scale shape: per-row work in the scan stage, zero shuffle; batches
    are processed in <= ~2^18-shingle chunks so the (chunk x num_perm)
    int64 matrix stays ~128 MB regardless of document length skew.
    Works on batch and streaming frames alike (mapInPandas)."""
    import numpy as np
    import pandas as pd

    params = [
        (a % (MINHASH_PRIME - 1) + 1, b % MINHASH_PRIME)
        for a, b in _perm_params(num_perm, seed)
    ]
    A = np.array([p[0] for p in params], dtype=np.int64)
    B = np.array([p[1] for p in params], dtype=np.int64)
    init = np.int64(1) << np.int64(62)
    budget = 1 << 18  # shingle-hash rows per numpy chunk

    hs = F.transform(
        shingles(text_col, n),
        lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_PRIME)),
    )
    hashed = df.select(F.col(id_col), hs.alias("hs"))

    def fold(batches):
        for pdf in batches:
            out = np.full((len(pdf), num_perm), init, dtype=np.int64)
            arrs = pdf["hs"].tolist()
            chunk: list[np.ndarray] = []
            rows: list[int] = []
            size = 0

            def flush():
                if not chunk:
                    return
                h_all = np.concatenate(chunk)
                m = (h_all[:, None] * A[None, :] + B[None, :]) % MINHASH_PRIME
                starts = np.cumsum([0] + [len(c) for c in chunk[:-1]])
                mins = np.minimum.reduceat(m, starts, axis=0)
                out[np.array(rows)] = np.minimum(mins, init)
                chunk.clear()
                rows.clear()

            for i, a in enumerate(arrs):
                if a is None or len(a) == 0:
                    continue  # keeps the fold's init row, like aggregate()
                chunk.append(np.asarray(a, dtype=np.int64))
                rows.append(i)
                size += len(a)
                if size >= budget:
                    flush()
                    size = 0
            flush()
            yield pd.DataFrame(
                {id_col: pdf[id_col], "sig": [r.tolist() for r in out]}
            )

    return hashed.mapInPandas(fold, schema=f"{id_col} long, sig array<bigint>")


def _check_bands(num_perm: int, bands: int) -> int:
    if num_perm % bands:
        # Silent truncation would leave the trailing num_perm % bands
        # permutations out of every band — the caller's (r, b) sizing and
        # the 1-(1-j^r)^b curve would be quietly wrong.
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm})"
        )
    return num_perm // bands


def minhash_bands(sig: Column, num_perm: int, bands: int) -> Column:
    """Band structs (band, bsig) over a minhash signature column — the
    ONE banding home shared by the batch candidate equi-join
    (_lsh_candidate_pairs) and the streaming candidate index (q205):
    band b's key is the comma-joined minima of its rows_per_band
    permutation slots, so a (band, bsig) equality IS the banded-LSH
    collision event on both execution paths."""
    rows_per_band = _check_bands(num_perm, bands)
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.element_at(sig, (b * rows_per_band + j + 1))
                    for j in range(rows_per_band)
                ],
            ).alias("bsig"),
        ),
    )


def _lsh_candidate_pairs(
    documents: DataFrame,
    num_perm: int,
    bands: int,
    n: int,
    id_col: str,
    text_col: str,
    seed: int,
    carry_sigs: bool = True,
) -> DataFrame:
    """Banded-LSH candidate pairs (d1 < d2): an equi-join on (band_id,
    band_signature), deduplicated per pair. Shared by the estimate path
    (minhash_neardup_pairs, carry_sigs=True: sig1/sig2 ride along for the
    matching-fraction estimate) and the exact-verify path
    (minhash_verified_pairs, carry_sigs=False: the ~2*num_perm*8 bytes per
    candidate would cross the dropDuplicates shuffle only to be
    discarded)."""
    rows_per_band = _check_bands(num_perm, bands)
    # Docs with no shingles (< n tokens) would all keep the fold's init
    # value in every signature slot — identical signatures that false-
    # positive as near-dups of each other. Drop them BEFORE the signature:
    # a predicate on the signature itself would make Catalyst evaluate the
    # whole fold twice (once in the filter, once in the projection).
    eligible = documents.filter(F.size(tokens(text_col)) >= n)
    sig = minhash_signature_frame(
        _spread(eligible, id_col), id_col, text_col, num_perm, n, seed
    )
    # The l/r sides below both derive from this projection; without a
    # lineage cut each side replays the O(shingles x perms) signature
    # fold — the most expensive stage of every minhash query — twice
    # (guide §3.3 duplicated subtrees). num_perm longs + id per row, so
    # the materialized frame is small at any corpus size.
    if not documents.isStreaming:
        from kstreamjs_spark.plans import materialize_once

        sig = materialize_once(sig, eager=False)
    band_arr = minhash_bands(F.col("sig"), num_perm, bands)
    banded = sig.select(
        F.col(id_col), F.col("sig"), F.explode(band_arr).alias("bs")
    ).select(
        F.col(id_col), "sig", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig")
    )
    l = banded.select(
        F.col(id_col).alias("d1"), F.col("sig").alias("sig1"), "band", "bsig"
    )
    r = banded.select(
        F.col(id_col).alias("d2"), F.col("sig").alias("sig2"), "band", "bsig"
    )
    keep = ["d1", "d2", "sig1", "sig2"] if carry_sigs else ["d1", "d2"]
    return (
        l.join(r, on=["band", "bsig"])
        .filter(F.col("d1") < F.col("d2"))
        .select(*keep)
        .dropDuplicates(["d1", "d2"])
    )


def minhash_neardup_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidate pairs, verified by signature
    similarity.

    bands=16 x rows=4 over 64 perms -> candidate probability curve with
    ~0.5 jaccard threshold knee. Candidates come from an equi-join on
    (band_id, band_signature); verification is estimated Jaccard =
    matching-minhash fraction. The full exact-verify variant is
    `minhash_verified_pairs`.
    """
    cand = _lsh_candidate_pairs(
        documents, num_perm, bands, n, id_col, text_col, seed
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig1"), F.col("sig2"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(float(num_perm))
    return (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("d1", "d2", "est_jaccard")
    )


def minhash_verified_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """LSH candidates exact-verified: candidate pairs from the banded join,
    then TRUE n-gram Jaccard per candidate via shingle-set intersection.

    Scale design: the exact verify never re-runs the full shingle join —
    each candidate pair is joined back to the per-doc shingle ARRAY (two
    equi-joins on the doc id) and intersected expression-side, so the
    verify cost is O(|candidates| * avg_shingles), linear in the candidate
    count the bands already bounded. No false positives by construction;
    recall is the banding curve at the operating point (the knee sits at
    the threshold: P(candidate) = 1-(1-j^r)^b).
    """
    cand = _lsh_candidate_pairs(
        documents, num_perm, bands, n, id_col, text_col, seed,
        carry_sigs=False,
    )
    sh = _spread(documents, id_col).select(
        F.col(id_col), shingles(text_col, n).alias("sh")
    )
    s1 = sh.select(F.col(id_col).alias("d1"), F.col("sh").alias("sh1"))
    s2 = sh.select(F.col(id_col).alias("d2"), F.col("sh").alias("sh2"))
    joined = cand.join(s1, "d1").join(s2, "d2")
    common = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = (F.size("sh1") + F.size("sh2")).cast("double") - common
    jac = F.round(common / union, 6)
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


# ----------------------------------------------------------------- SimHash

def simhash64(text: Column | str) -> Column:
    """64-bit SimHash over the token multiset: per-bit +/-1 votes weighted by
    token occurrences, sign -> bit. Expression-only (aggregate over a
    64-slot vote array); packed into one BIGINT."""
    toks = tokens(text)
    # One-parse literal arrays: per-element F.lit loops cost 128 py4j
    # round trips per query construction; lit_longs parses each 64-slot
    # array in one call.
    # Same bigint values bit-for-bit (integer literals are exact).
    from .similarity import lit_longs

    zero = lit_longs([0] * 64)
    # Literal array of the 64 bit masks (bit 63 as the sign bit / min-long).
    powers = lit_longs([1 << i for i in range(63)] + [-(1 << 63)])
    # shift amounts cannot be Columns in shiftleft/shiftright, so bits are
    # extracted with per-mask bitwise AND over the literal mask array; the
    # token hash is bound once per token (not recomputed per mask element).
    bits_of = lambda t: bind(  # noqa: E731
        F.xxhash64(t),
        lambda h: F.transform(
            powers,
            lambda p: F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1).cast("long"),
        ),
    )
    votes = F.aggregate(
        toks, zero, lambda acc, t: F.zip_with(acc, bits_of(t), lambda a, v: a + v)
    )
    packed = F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return packed


def hamming_neardup_pairs(
    hashed: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "h",
) -> DataFrame:
    """Near-dup pairs within Hamming distance k over ANY precomputed
    64-bit hash column (SimHash of text, pHash of images, …), using the
    chunk pigeonhole at one of two geometries:

    - k <= 3: 4 chunks of 16 bits, single-chunk keys — a pair within
      distance 3 must agree on >= 1 chunk (4 exploded rows per input).
    - 4 <= k <= 6 (q26c's recall needs it): 8 chunks of 8 bits,
      TWO-CHUNK COMBINATION keys — within distance 6 at most 6 chunks
      are dirty, so >= 2 are clean and some PAIR of chunks matches
      exactly; candidates come from the equi-join on
      (combo_id, chunk_i||chunk_j), a 16-bit value per key like the
      4x16 scheme, so bucket widths are unchanged while the guaranteed
      radius doubles. C(8,2) = 28 exploded rows per input — a constant
      factor on the candidate join, never a wider bucket.

    Either way candidates come from equi-joins, never a cross join, and
    are exact-verified by the true bit_count. Output (d1, d2, hamming),
    d1 < d2. k > 6 is refused rather than silently under-recalled
    (3-of-9+ combination schemes exist but nothing in the inventory
    needs them).

    Scale note: a clique of m EXACT duplicates (hamming 0) legitimately
    yields m*(m-1)/2 pairs — quadratic output is the semantics, not a
    plan defect. When a corpus carries huge identical-content cliques,
    collapse them FIRST with an exact groupBy on the hash (keep one
    representative + member list), run this operator on the
    representatives, then expand — the pair semantics are preserved and
    the candidate join never sees the clique."""
    if max_hamming > 6:
        raise ValueError(
            f"hamming_neardup_pairs guarantees recall for max_hamming <= 6 "
            f"(2-of-8-chunk pigeonhole), got {max_hamming}"
        )
    # Materialize the (id, hash) projection ONCE before the self-join:
    # both join sides otherwise replay the full upstream subtree, and for
    # every caller of this operator that subtree is the most expensive
    # stage in the query (codec synth + entropy decode + pHash — measured
    # 2x the whole query's decode bill on q174/q158c). 16 bytes/row, so
    # the materialized footprint is trivial at any corpus size; guide
    # §3.3 (duplicated subtrees) / §5 (cheap lineage cut).
    from kstreamjs_spark.plans import materialize_once

    sh = hashed.select(F.col(id_col), F.col(hash_col).alias("h"))
    if not hashed.isStreaming:
        sh = materialize_once(sh, eager=False)
    if max_hamming <= 3:
        chunk_structs = [
            F.struct(
                F.lit(c).alias("cid"),
                F.shiftright(F.col("h"), 16 * c)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("cval"),
            )
            for c in range(4)
        ]
    else:
        byte = [
            F.shiftright(F.col("h"), 8 * c).bitwiseAND(F.lit(0xFF))
            for c in range(8)
        ]
        chunk_structs = [
            F.struct(
                F.lit(i * 8 + j).alias("cid"),
                (F.shiftleft(byte[i], 8) + byte[j]).alias("cval"),
            )
            for i in range(8)
            for j in range(i + 1, 8)
        ]
    chunks = F.array(*chunk_structs)
    ex = sh.select(F.col(id_col), "h", F.explode(chunks).alias("c")).select(
        F.col(id_col), "h", F.col("c.cid").alias("cid"), F.col("c.cval").alias("cval")
    )
    l = ex.select(F.col(id_col).alias("d1"), F.col("h").alias("h1"), "cid", "cval")
    r = ex.select(F.col(id_col).alias("d2"), F.col("h").alias("h2"), "cid", "cval")
    cand = (
        l.join(r, on=["cid", "cval"])
        .filter(F.col("d1") < F.col("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def simhash_neardup_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance k: compute the
    64-bit text SimHash expression-side, then delegate to the generic
    chunk-pigeonhole machinery (`hamming_neardup_pairs`)."""
    sh = _spread(documents, id_col).select(
        F.col(id_col), simhash64(text_col).alias("h")
    )
    return hamming_neardup_pairs(
        sh, max_hamming=max_hamming, id_col=id_col, hash_col="h"
    )


# ------------------------------------------- Edit-distance fuzzy dedup

def prefix_chunk_bounds(prefix_len: int, max_dist: int) -> list[tuple[int, int, int]]:
    """(chunk_id, 1-based start, length) triples splitting a
    ``prefix_len``-char prefix into ``max_dist + 1`` contiguous chunks —
    the pigeonhole layout for edit-distance blocking: at most ``max_dist``
    edits can touch at most ``max_dist`` chunks, so at least one of the
    ``max_dist + 1`` chunks is edit-free. Longer chunks come first
    (remainder spread over the leading chunks) so the layout is the same
    constant on the Spark and DuckDB sides."""
    k = max_dist + 1
    base, rem = divmod(prefix_len, k)
    out, start = [], 1
    for cid in range(k):
        ln = base + (1 if cid < rem else 0)
        out.append((cid, start, ln))
        start += ln
    return out


def fuzzy_prefix_pairs(
    documents: DataFrame,
    max_dist: int = 5,
    prefix_len: int = 40,
    partition_col: str | None = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Edit-distance fuzzy-duplicate pairs over the normalized
    ``prefix_len``-char prefix, scale-shaped: candidates come from an
    EQUI-join on pigeonhole prefix chunks (:func:`prefix_chunk_bounds` —
    ``max_dist + 1`` chunks, so any pair within ``max_dist``
    substitution-style edits shares at least one untouched, aligned, hence
    equal chunk), then exact ``levenshtein`` verify. No all-pairs join, no
    corpus broadcast — the same candidate-then-verify contract as
    :func:`simhash_neardup_pairs`/:func:`minhash_verified_pairs`, replacing
    the within-block quadratic join this operator's first version used.

    Recall caveat (documented, recall-tested in tests/test_llm_ops.py):
    alignment-shifting edits (insertions/deletions early in the prefix) can
    move every chunk boundary, so indel-heavy pairs may share no aligned
    chunk; for substitution-dominated noise (typos, OCR) the pigeonhole
    guarantee is exact. Prefixes shorter than the chunk span contribute
    only their non-empty chunks (empty trailing chunks are excluded —
    they would put every short document into one degenerate bucket), so
    short-prefix pairs pigeonhole over proportionally fewer slots;
    identical short prefixes still always match on chunk 0. Output
    columns: (d1, d2, dist), dist <= max_dist.

    ``max_df`` bounds any one candidate bucket: (partition, chunk) values
    occurring in more than ``max_df`` documents are dropped from candidate
    generation (a pure pruning ceiling — the verify metric is unaffected,
    only recall through hot boilerplate prefixes). Empty prefixes are
    excluded: an all-empty-prefix corpus slice would otherwise form one
    quadratic bucket, and empty-prefix duplicates are exact-dedup
    (:func:`exact_dedup`) territory."""
    from .text import normalize_text

    pcols = [partition_col] if partition_col else []
    # Derive the 40-char prefix BEFORE the fan-out shuffle: the spread
    # exchange then carries (id, partition, 40 chars) instead of full
    # document text — at any scale, never shuffle payload bytes you are
    # about to truncate (sf0.1: 0.999 s -> 0.681 s, identical result
    # set). At 100 TB the scan has thousands of splits
    # so the normalize parallelizes in the scan stage itself.
    p = _spread(
        documents.select(
            F.col(id_col),
            *[F.col(c) for c in pcols],
            F.substring(normalize_text(text_col), 1, prefix_len).alias("pre"),
        ),
        id_col,
    ).filter(F.col("pre") != "")
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(cid).alias("cid"),
                F.substring("pre", start, ln).alias("ctext"),
            )
            for cid, start, ln in prefix_chunk_bounds(prefix_len, max_dist)
        ]
    )
    ex = p.select(
        F.col(id_col), *[F.col(c) for c in pcols], "pre",
        F.explode(chunk_arr).alias("c"),
    ).select(
        F.col(id_col), *[F.col(c) for c in pcols], "pre",
        F.col("c.cid").alias("cid"), F.col("c.ctext").alias("ctext"),
    ).filter(
        # Chunks lying wholly beyond a short prefix are empty strings,
        # and EVERY short document would share those (partition, cid, '')
        # keys — one quadratic bucket through the degenerate value, the
        # exact blowup the chunk blocking exists to avoid. Dropping them
        # trades a documented recall clause instead: a prefix spanning
        # only k < max_dist+1 chunks offers only k pigeonholes, so
        # short-prefix pairs need an edit-free chunk among fewer slots
        # (identical short prefixes still always match on chunk 0).
        F.col("ctext") != ""
    )
    if max_df is not None:
        hot = (
            ex.groupBy(*pcols, "cid", "ctext")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select(*pcols, "cid", "ctext")
        )
        ex = ex.join(hot, on=[*pcols, "cid", "ctext"], how="left_anti")
    left = ex.select(
        F.col(id_col).alias("d1"),
        *[F.col(c).alias("p1") for c in pcols],
        F.col("pre").alias("pre1"),
        F.col("cid").alias("c1"),
        F.col("ctext").alias("t1"),
    )
    right = ex.select(
        F.col(id_col).alias("d2"),
        *[F.col(c).alias("p2") for c in pcols],
        F.col("pre").alias("pre2"),
        F.col("cid").alias("c2"),
        F.col("ctext").alias("t2"),
    )
    cond = (F.col("c1") == F.col("c2")) & (F.col("t1") == F.col("t2"))
    for c in pcols:
        cond = cond & (F.col("p1") == F.col("p2"))
    cand = (
        left.join(right, cond & (F.col("d1") < F.col("d2")))
        .dropDuplicates(["d1", "d2"])
    )
    return (
        cand.select(
            "d1", "d2",
            F.levenshtein("pre1", "pre2").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def substring_dup_islands(
    documents: DataFrame,
    width: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """MAXIMAL duplicated-region extents for the exact-substring dedup
    family (Lee et al. 2021, public): fingerprint every STRIDE-1
    ``width``-token window, mark windows whose fingerprint recurs
    ANYWHERE in the corpus, and merge each document's marked spans into
    maximal islands (gaps-and-islands). Returns one row per island:
    (id, *carry, n_tokens, gid, isl_st, isl_en) — the shared
    intermediate of the span REPORT (substring_dup_spans / q175) and the
    span REMOVAL (q175b's scrub).

    Plan (two content exchanges): window fingerprints are computed in the
    scan projection — text never shuffles, the first exchange carries
    fixed-width (wfp, id, pos) rows (the same O(total_tokens) bill the
    suffix-array construction pays) and multiplicity is ONE count-window
    over wfp (bucket = window multiplicity, boilerplate-bounded, q112's
    measured single-pass formulation); the second exchange partitions by
    document for the island windows, and the island aggregate REUSES it.
    Fingerprint equality stands in for string equality (q25/q57's
    contract, shared modulus with the oracle SQL)."""
    from . import text as _text

    d = _spread(documents, id_col).select(
        id_col, *carry, F.split(text_col, " ").alias("ts")
    )
    w = d.select(
        id_col, *carry, F.size("ts").alias("n_tokens"), "ts"
    ).filter(F.col("n_tokens") >= width)
    ex = w.select(
        id_col,
        *carry,
        "n_tokens",
        F.explode(
            F.sequence(F.lit(1), F.col("n_tokens") - F.lit(width - 1),
                       F.lit(1))
        ).alias("st"),
        _text.fingerprint(
            F.array_join(F.slice("ts", F.col("st"), width), " ")
        ).alias("wfp"),
    )
    mult = Window.partitionBy("wfp")
    dup = (
        ex.withColumn("nd", F.count(F.lit(1)).over(mult))
        .filter(F.col("nd") >= 2)
        .select(id_col, *carry, "n_tokens", "st",
                (F.col("st") + F.lit(width - 1)).alias("en"))
    )
    by_doc = Window.partitionBy(id_col).orderBy("st")
    pmax = by_doc.rowsBetween(Window.unboundedPreceding, -1)
    run = by_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        dup.withColumn("pmax", F.max("en").over(pmax))
        .withColumn(
            "gid",
            F.sum(
                F.when(
                    F.col("pmax").isNull()
                    | (F.col("st") > F.col("pmax") + 1),
                    1,
                ).otherwise(0)
            ).over(run),
        )
        .groupBy(id_col, *carry, "n_tokens", "gid")
        .agg(F.min("st").alias("isl_st"), F.max("en").alias("isl_en"))
    )


def substring_dup_spans(
    documents: DataFrame,
    width: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Per-document duplicated-span REPORT over
    :func:`substring_dup_islands` (q175's single home, also driven by the
    behavioral pytest and the century profiler): one row per AFFECTED
    document — (id, *carry, n_tokens, dup_tokens, n_spans, dup_permille
    as integer DIV). Plan shape inherited from the islands builder; the
    per-doc aggregate reuses its document partitioning."""
    isl = substring_dup_islands(documents, width, id_col, text_col, carry)
    per_doc = isl.withColumn(
        "span_tokens", F.col("isl_en") - F.col("isl_st") + 1
    ).groupBy(id_col, *carry, "n_tokens").agg(
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    return per_doc.select(
        id_col,
        *carry,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "dup_tokens",
        "n_spans",
        F.expr("dup_tokens * 1000 DIV n_tokens").cast("long")
        .alias("dup_permille"),
    )
