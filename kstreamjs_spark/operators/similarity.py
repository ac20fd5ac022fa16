"""Similarity search over embedding columns (array<float>).

Two paths, as the north star requires:
- exact brute-force cosine top-k: broadcast the (tiny) query side, compute
  cosine with higher-order array functions JVM-side, TakeOrderedAndProject
  for the top-k. At 100 TB this is a single scan, no shuffle.
- LSH-bucketed (random hyperplane sign bits) approximate path: each vector
  maps to a small bucket signature; candidates are co-bucketed rows only.
  Bucket join replaces the O(N^2)/full-scan cost with a shuffle on bucket
  id — the standard scale path when the query side is also large.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def as_double(vec: Column) -> Column:
    """float32 -> float64 upcast (exact), so downstream math matches the
    oracle bit-for-bit at comparable precision."""
    return F.transform(vec, lambda x: x.cast("double"))


def lit_doubles(values) -> Column:
    """array<double> literal built in ONE expression-parse call.

    Guide §1.2 (per-task -> per-QUERY work): the per-element
    ``F.array(*[F.lit(x) ...])`` idiom costs one py4j round trip PER
    ELEMENT — a k x dim codebook (16 x 64) spent ~0.5 s of DRIVER time
    per query just constructing the plan (measured; half of q42/q81's
    bench bill). A single ``F.expr("array(0.1D, ...)")`` parses on the
    JVM in ~1 ms. Exactness: ``repr(float)`` is Python's shortest
    round-trip decimal and Spark's parser binds the ``D`` suffix to the
    nearest double — bit-identical literals (pinned by a pytest over
    random + extreme values). Non-finite values fall back to the
    per-element path (the SQL parser has no nan/inf literal)."""
    vs = [float(x) for x in values]
    if not vs:
        return F.array().cast("array<double>")
    if all(math.isfinite(x) for x in vs):
        return F.expr("array(" + ",".join(repr(x) + "D" for x in vs) + ")")
    return F.array(*[F.lit(x) for x in vs])


def lit_longs(values) -> Column:
    """array<bigint> literal built in ONE expression-parse call — the
    integer sibling of :func:`lit_doubles` (a per-element ``F.lit``
    loop costs one py4j round trip per slot: dedup.simhash64's two
    64-slot mask arrays were 128 per query construction). Exact by
    construction — bigint literals are
    lossless. ``Long.MIN_VALUE`` cannot be written as one SQL token
    (the parser reads the unsigned digits first, which overflow a
    bigint), so it is emitted as ``(-9223372036854775807L - 1L)`` and
    constant-folded by Catalyst into the same literal."""
    vs = [int(x) for x in values]
    bad = [v for v in vs if not -(1 << 63) <= v < (1 << 63)]
    if bad:
        raise ValueError(f"lit_longs: {bad[:3]} overflow bigint")
    if not vs:
        return F.array().cast("array<bigint>")

    def tok(v: int) -> str:
        return "(-9223372036854775807L - 1L)" if v == -(1 << 63) else f"{v}L"

    return F.expr("array(" + ",".join(tok(v) for v in vs) + ")")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _argmax_cell(vec: Column, cents: list[list[float]]) -> Column:
    """1-based index of the max-cosine centroid for ``vec`` — the IVF
    cell assignment shared by `ivf_topk` and `ivfpq_topk`.

    Guide §4.1: the naive
    ``array_position(sims, array_max(sims))`` inlines the whole
    k-cosine array TWICE per row, and ``cosine`` refolds ``norm(vec)``
    once PER CENTROID — 2 x k x 3 interpreted folds where k+1 suffice.
    Here the vector, its norm, and the sims array are each bound once
    per row (dedup.bind), and centroid norms are Python float literals
    computed with the same sequential sum-of-squares order as the fold
    expression, so every double is bit-identical to the previous shape
    (the kmeans.assign_best precedent)."""
    import math

    from .dedup import bind

    pairs = [
        (
            lit_doubles(c),
            math.sqrt(sum(float(x) * float(x) for x in c)),
        )
        for c in cents
    ]

    def sims_of(v: Column, vn: Column) -> Column:
        return F.array(*[dot(v, cl) / (vn * F.lit(cn)) for cl, cn in pairs])

    cell = bind(
        as_double(vec),
        lambda v: bind(
            norm(v),
            lambda vn: bind(
                sims_of(v, vn),
                lambda s: F.array_position(s, F.array_max(s)),
            ),
        ),
    ).cast("int")
    # coalesce makes the column provably NON-NULLABLE (guide §4.4's
    # duplication problem for plain expressions): a downstream
    # probe filter on a nullable _cell makes Catalyst push an
    # isnotnull(_cell) below the projection, INLINING this whole
    # 16-centroid fold a second time per row (q42's plan showed the
    # argmax under both a Filter and the Project). A null cell can only
    # come from a null embedding; 0 is outside the 1-based probe lists,
    # so null -> 0 filters to the same rows.
    return F.coalesce(cell, F.lit(0))


def topk_cosine(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k of ``vectors`` against a single-row ``query``
    DataFrame holding column ``qv`` (array<double>).

    Plan shape: broadcast nested-loop join (1-row build side) -> projection
    with codegen'd cosine -> TakeOrderedAndProject(k). No shuffle of the
    vector table; scales to any N with O(k) driver memory.
    """
    from .dedup import bind

    # The query norm is folded ONCE on the 1-row build side (guide
    # §4.1): cosine() refolded norm(qv) — a 64-element aggregate
    # — per SCANNED ROW; same fold over the same array, so the score is
    # bit-identical. The row vector is bound once per row so its dot
    # and norm folds don't re-run the as_double transform per element.
    q2 = query.withColumn("_qn", norm(F.col("qv")))
    scored = vectors.crossJoin(F.broadcast(q2)).select(
        F.col(id_col),
        F.round(
            bind(
                as_double(F.col(vec_col)),
                lambda v: dot(v, F.col("qv"))
                / (norm(v) * F.col("_qn")),
            ),
            round_to,
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


# ----------------------------------------------------------- LSH scale path

def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane sign-bit signature packed into a BIGINT. Vectors
    with small angle agree on most bits; equal signatures form candidate
    buckets."""
    bits = [
        F.when(dot(as_double(vec), lit_doubles(p)) >= 0, 1).otherwise(0)
        for p in planes
    ]
    sig = F.lit(0).cast("long")
    for i, b in enumerate(bits):
        sig = sig + (b.cast("long") * F.lit(2 ** i).cast("long"))
    return sig


def _centroids_from_sample(
    vectors: DataFrame,
    n_centroids: int,
    vec_col: str,
    id_col: str,
    iterations: int = 2,
) -> list[list[float]]:
    """Deterministic IVF codebook: seed with the first ``n_centroids``
    vectors by id, then refine with a couple of Lloyd iterations over a
    bounded sample. Runs on a driver-side sample (the codebook is tiny and
    training is a one-off preprocessing step; at 100 TB you train it once
    on a 1e5-row sample and broadcast — exactly what this does)."""
    sample = [
        [float(x) for x in r[0]]
        for r in vectors.select(vec_col).orderBy(id_col).limit(
            max(n_centroids * 64, 512)
        ).collect()
    ]
    if len(sample) < n_centroids:
        raise ValueError(
            f"IVF codebook needs >= {n_centroids} sample vectors, got "
            f"{len(sample)} — lower n_centroids or grow the table"
        )
    cents = np.array(sample[:n_centroids], dtype=np.float64)
    pts = np.array(sample, dtype=np.float64)

    def _unit(m: np.ndarray) -> np.ndarray:
        # zero-norm guard: a zero vector would divide to NaN, NaN
        # propagates through the similarity matrix, and np.argmax then
        # funnels EVERY point into one centroid (kmeans.assign_best
        # guards the same input class on the distributed path)
        n = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.where(n == 0.0, 1.0, n)

    for _ in range(iterations):
        # cosine assignment on normalized rows
        pn = _unit(pts)
        cn = _unit(cents)
        assign = np.argmax(pn @ cn.T, axis=1)
        for c in range(n_centroids):
            members = pts[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents.tolist()


def ivf_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: assign every vector to its
    nearest codebook centroid, probe only the ``n_probe`` centroids nearest
    the query, score candidates exactly.

    At 100 TB: the codebook is trained once on a sample and broadcast as
    literals (no shuffle); assignment is a scan-side expression, so the
    inverted lists can be materialized as a partitioned table
    (partitionBy(cell)) and a query reads only n_probe/n_centroids of the
    data — partition pruning does the candidate cut, unlike LSH which
    filters post-scan.
    """
    cents = _centroids_from_sample(vectors, n_centroids, vec_col, id_col)
    lits = [lit_doubles(c) for c in cents]

    assigned = vectors.withColumn(
        "_cell", _argmax_cell(F.col(vec_col), cents)
    )
    qcells = query.select(
        F.col("qv"),
        F.slice(
            F.transform(
                F.array_sort(
                    F.array(*[
                        F.struct(
                            (-cosine(F.col("qv"), c)).alias("d"),
                            F.lit(i + 1).alias("cell"),
                        )
                        for i, c in enumerate(lits)
                    ])
                ),
                lambda s: s["cell"],
            ),
            1,
            n_probe,
        ).alias("probe"),
    )
    # query norm folded once on the broadcast side; row vector bound
    # once per candidate (guide §4.1 — same fold, same value; see
    # topk_cosine)
    from .dedup import bind

    qcells = qcells.withColumn("_qn", norm(F.col("qv")))
    cand = assigned.crossJoin(F.broadcast(qcells)).filter(
        F.array_contains(F.col("probe"), F.col("_cell"))
    )
    scored = cand.select(
        F.col(id_col),
        F.round(
            bind(
                as_double(F.col(vec_col)),
                lambda v: dot(v, F.col("qv"))
                / (norm(v) * F.col("_qn")),
            ),
            6,
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def ann_topk_lsh(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    probe_hamming: int = 2,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: restrict the exact scoring to vectors whose LSH
    signature is within ``probe_hamming`` of the query's (multi-probe).

    At 100 TB: signatures are computed in the scan projection (no shuffle);
    the candidate filter drops ~(1 - buckets_probed / 2^n_planes) of rows
    before any expensive math. Recall/pruning trade off via n_planes and
    the probe radius — defaults are tuned loose because the test corpus is
    near-uniform (neighbors sit at ~70deg); clustered real-world embeddings
    support far tighter settings. `topk_cosine` is the exact baseline.
    """
    # With a wrong dim, zip_with null-pads the shorter array, the dot
    # fold turns null, every signature bit collapses to 0 and the
    # hamming filter passes the WHOLE table — the op silently degrades
    # to brute force. Guard IN the expression path (not an eager
    # driver-side .first() probe, which re-runs the upstream plan on
    # every call and only sees one row): each row's vector flows through
    # a CASE that raises on length mismatch, so mixed-length tables fail
    # loudly too, at zero extra jobs — the size() check rides the same
    # scan projection that computes the signature.
    guarded = F.when(F.size(F.col(vec_col)) == dim, F.col(vec_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"ann_topk_lsh: dim={dim} but {vec_col!r} has length "),
                F.size(F.col(vec_col)).cast("string"),
            )
        )
    )
    planes = _hyperplanes(dim, n_planes, seed)
    sig = lsh_signature(guarded, planes)
    with_sig = vectors.withColumn("sig", sig)
    # Same guard on the query side: a wrong-length qv would zero every
    # signature bit AND null every cosine score — garbage top-k instead
    # of an error. Replacing qv with the guarded CASE makes both the
    # qsig computation and the downstream scoring fail loudly.
    qv_guarded = F.when(F.size(F.col("qv")) == dim, F.col("qv")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"ann_topk_lsh: dim={dim} but query 'qv' has length "),
                F.size(F.col("qv")).cast("string"),
            )
        )
    )
    qsig = query.withColumn("qv", qv_guarded).withColumn(
        "qsig", lsh_signature(F.col("qv"), planes)
    )
    cand = with_sig.crossJoin(F.broadcast(qsig)).filter(
        F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig"))) <= probe_hamming
    )
    a = as_double(F.col(vec_col))
    scored = cand.select(
        F.col(id_col), F.round(cosine(a, F.col("qv")), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def _band_signature_udf(
    planes: list[list[float]], band_bits: int, dim: int, what: str,
    caller: str = "ann_topk_lsh_banded",
):
    """Arrow-batched banded signatures: ONE numpy matmul per batch turns
    the (batch, dim) vectors into (batch, n_planes) sign bits, packed per
    band into small ints. At 100 planes the equivalent Catalyst
    expression tree is ~6400 fold nodes — past the codegen method-size
    cliff — so this is the documented pandas-UDF exception: the scan-side
    projection stays Arrow-vectorized, never per-row Python."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    n_bands = P.shape[0] // band_bits
    weights = (2 ** np.arange(band_bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def sig(v: pd.Series) -> pd.Series:
        if not len(v):  # empty Arrow batch: matmul below would see ndim-1
            return pd.Series([], dtype=object)
        lens = v.map(len)
        if not (lens == dim).all():
            bad = int(lens[lens != dim].iloc[0])
            raise ValueError(
                f"{caller}: dim={dim} but {what} has length {bad}"
            )
        m = np.array(v.tolist(), dtype=np.float64)  # (batch, dim)
        bits = (m @ P.T) >= 0.0  # (batch, n_planes)
        bands = (
            bits.reshape(len(m), n_bands, band_bits).astype(np.int64) @ weights
        )
        return pd.Series(list(bands))

    return sig


def ann_topk_lsh_banded(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 20,
    band_bits: int = 5,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via BANDED random-hyperplane LSH: ``n_bands``
    independent signature tables of ``band_bits`` sign bits each; a row
    is a candidate iff ANY band matches the query's band at the same
    position (OR-amplification), then candidates are scored exactly.

    Why banded instead of one Hamming-radius table (`ann_topk_lsh`): on
    near-uniform corpora whose true neighbors sit at ~65-75deg, a 6-bit
    signature within Hamming 2 recalls only ~half the exact top-10 — the
    bits a neighbor flips are arbitrary, so widening the radius admits
    the whole table before it admits the neighbors. OR-ed bands recall
    1-(1-p^b)^L for per-bit agreement p, which reaches ~0.9 at p≈0.62
    (70deg) with b=5, L=20 while random rows (p=0.5) pass only
    1-(1-2^-5)^20 ≈ 0.47 — measured at sf0.01/sf0.1: top-10 overlap
    9/10 vs the Hamming path's 4/10, candidates ~0.46-0.51 of N (within
    the 2x budget vs the Hamming path's 0.34).

    At 100 TB: signatures are one Arrow matmul in the scan projection
    (no shuffle); for single queries the band match is a broadcast
    filter; for query BATCHES explode to (band_idx, band_val) and
    equi-join — the same shape `minhash_neardup_pairs` uses for its
    bands."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_bands * band_bits, dim)).tolist()
    sig_v = _band_signature_udf(planes, band_bits, dim, repr(vec_col))
    sig_q = _band_signature_udf(planes, band_bits, dim, "query 'qv'")
    with_sig = vectors.withColumn("sig", sig_v(F.col(vec_col)))
    qsig = query.withColumn("qsig", sig_q(F.col("qv")))
    cand = with_sig.crossJoin(F.broadcast(qsig)).filter(
        F.exists(
            F.zip_with(F.col("sig"), F.col("qsig"), lambda x, y: x == y),
            lambda b: b,
        )
    )
    a = as_double(F.col(vec_col))
    scored = cand.select(
        F.col(id_col), F.round(cosine(a, F.col("qv")), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def knn_join_lsh_banded(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "qid",
    q_vec_col: str = "qv",
    n_bands: int = 20,
    band_bits: int = 5,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 6,
    max_bucket: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate batch k-NN join for query batches TOO LARGE TO
    BROADCAST — the scale path `knn_join` defers to. Both sides compute
    banded signatures (one Arrow matmul per batch), explode to
    (band_idx, band_val) rows, and candidates come from the EQUI-join on
    that 8-byte key — never a broadcast of the batch, never a cross
    join. Candidates are deduped to (qid, vec_id), scored exactly by
    re-joining each side's vector by id, and cut to top-k per query with
    the same WindowGroupLimit rank filter as `knn_join`.

    Like `knn_join`, rows where ``vec_id == qid`` are EXCLUDED by
    default — the self-match guard for the usual corpus-queries-itself
    shape. When query ids and vector ids come from UNRELATED id spaces
    a coincidental id collision would silently drop a valid neighbor:
    pass ``exclude_self=False`` for disjoint id spaces.

    Shuffle volume: n_bands rows per input row for the candidate join
    (ids + one long each), then candidates + the two id-joins — all keyed
    on small columns; the vectors themselves cross the wire only for
    rows that reach scoring. Same recall curve as `ann_topk_lsh_banded`
    (~0.9 per query on the near-uniform test corpus at b=5, L=20),
    measured in APPROX_EVIDENCE.json against the exact `knn_join`.

    ``max_bucket`` is the hot-bucket ceiling (the `max_df` of this
    operator): a degenerate corpus — thousands of zero or duplicated
    vectors — collapses into ONE (band_idx, band_val) bucket and makes
    the candidate join quadratic in it. Buckets holding more than
    ``max_bucket`` VECTOR rows are dropped from the candidate key space
    (both sides), exactly like boilerplate shingles under max_df: a
    bucket that dense is non-discriminative, and a vector with all
    bands hot is equally close to everything sign-LSH can measure.
    Recall cost for normal rows is bounded, not zero: a normal vector
    loses a band only when it COLLIDES with a hot clique's value there
    (~1/2^band_bits per band per clique), and the OR over its remaining
    bands still has to miss — with 20 bands the loss is a fraction of a
    recall point, paid for turning a quadratic join into a capped one."""
    from pyspark.sql import Window

    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_bands * band_bits, dim)).tolist()
    sig_v = _band_signature_udf(planes, band_bits, dim, repr(vec_col))
    sig_q = _band_signature_udf(planes, band_bits, dim, repr(q_vec_col))
    vb = (
        vectors.select(id_col, sig_v(F.col(vec_col)).alias("sig"))
        .select(id_col, F.posexplode("sig").alias("b", "bv"))
    )
    qb = (
        queries.select(q_id_col, sig_q(F.col(q_vec_col)).alias("qsig"))
        .select(q_id_col, F.posexplode("qsig").alias("b", "bv"))
    )
    if max_bucket is not None:
        # hot set bounded by n_vectors * n_bands / max_bucket rows; the
        # anti-join is left to AQE to broadcast when small (max_df's
        # reasoning verbatim — dedup._shingle_pair_counts)
        hot = (
            vb.groupBy("b", "bv")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .select("b", "bv")
        )
        vb = vb.join(hot, ["b", "bv"], "left_anti")
        qb = qb.join(hot, ["b", "bv"], "left_anti")
    cand = vb.join(qb, ["b", "bv"])
    if exclude_self:
        cand = cand.filter(F.col(id_col) != F.col(q_id_col))
    cand = cand.select(q_id_col, id_col).distinct()
    scored = (
        cand.join(vectors.select(id_col, vec_col), id_col)
        .join(queries.select(q_id_col, q_vec_col), q_id_col)
        .select(
            q_id_col,
            id_col,
            F.round(
                cosine(as_double(F.col(vec_col)), F.col(q_vec_col)), round_to
            ).alias("score"),
        )
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def knn_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "qid",
    q_vec_col: str = "qv",
    round_to: int = 6,
    exclude_self: bool = True,
) -> DataFrame:
    """Batch k-NN join: for EVERY row of ``queries`` (q_id_col, q_vec_col
    array<double>), the top-k most-cosine-similar rows of ``vectors``.

    The batch complement of `topk_cosine` (one query) — the shape behind
    embedding-based retrieval and doc-level near-dup at corpus scale.
    Plan: broadcast the query batch, score in one codegen'd projection
    over a single scan of ``vectors``, then rank per query with a
    `row_number <= k` filter — Spark plans WindowGroupLimit, so each scan
    partition keeps only k rows per query before any shuffle. Shuffle
    volume is O(|queries| * k * partitions), never O(N).

    Self-matches (same id on both sides) are excluded by default; pass
    ``exclude_self=False`` when query and vector ids come from disjoint
    id spaces (a coincidental collision would otherwise drop a valid
    neighbor). For query batches too large to broadcast, block both
    sides first (IVF cells / LSH buckets — `ivf_topk`, `lsh_signature`)
    and apply the same rank-limit within blocks.
    """
    from pyspark.sql import Window

    scored = vectors.crossJoin(F.broadcast(queries))
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(q_id_col))
    scored = scored.select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine(as_double(F.col(vec_col)), F.col(q_vec_col)), round_to).alias(
            "score"
        ),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


# Deterministic pseudo-random constants shared by nn_descent and its
# generated SQL oracle: the init strides are r*K+97 (applied mod N at
# runtime so the SQL text stays scale-free), and the reverse-neighbor
# sample ranks by ((id % 1000003) * K) % 2^32 — the id is reduced mod a
# prime FIRST so the product stays far inside int64 on BOTH engines (no
# silent Spark wrap vs loud DuckDB overflow, the q216c lesson).
_NND_K = 2654435761  # Knuth's 2^32 multiplicative-hash constant


def nn_descent(
    vectors: DataFrame,
    k: int = 5,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """NN-Descent approximate k-NN GRAPH construction (Dong, Charikar
    & Li, WWW 2011 — public): the all-pairs complement of the
    query-time ANN family (q27b LSH / q42 IVF / q191 PQ / q159 banded
    join). Those answer "neighbors of THESE queries"; this builds the
    top-k cosine neighbor list of EVERY node — the input shape for
    dedup graphs, diversity sampling, and graph-ANN indexes — without
    the O(N^2) exact bill (q58's broadcast join pays it per query
    batch; exact all-pairs is N^2 cosines).

    Spark-first shape — the algorithm is ITERATIVE EQUI-JOINS, exactly
    the engine's q56/q176 idiom, no UDF anywhere:
    1. INIT: k deterministic pseudo-random out-edges per node,
       dst = (node + stride_r) mod N over dense ids (stride_r =
       r*K+97; collisions/self-hits filtered, so a node may start
       with < k edges — init quality only seeds the descent).
    2. Each round: neighbors-of-neighbors candidate generation as a
       SELF-JOIN of the undirected adjacency on the shared pivot
       (B(p) x B(p), u < w), with the REVERSE degree capped at k by a
       deterministic hash rank (the paper's reverse-sample rho*k,
       rho=1) so a popularity hub cannot blow the join: per-pivot
       bill <= (2k)^2, total N*(2k)^2 candidate cosines per round,
       never N^2.
    3. Union candidate scores (both directions) with the current
       graph, keep top-k per src (WindowGroupLimit rank pushdown, the
       q58 cut), localCheckpoint to reset lineage (the q56 policy).

    Fully deterministic (init strides, hash rank, score-desc/dst-asc
    tiebreaks), so the whole TRAINING loop is SQL-expressible and the
    q218 oracle hash-matches it round for round (the q179/q216c
    category) — recall vs the exact graph is measured separately in
    APPROX_EVIDENCE (it is an approximation of the TRUE graph even
    though the computation is exact/deterministic).

    Requires a DENSE id space [0, N) (the init modular arithmetic);
    raises otherwise rather than silently degrading. N and the per-
    round convergence stay distributed: the only driver-side values
    are the two count/max scalars of the density check.

    At 100 TB: every stage is an equi-join or a bounded window; state
    between rounds is the N*k edge list. The candidate bill N*(2k)^2
    per round is the designed cost; k and iters are the knobs. Skewed
    pivots are impossible by construction (degree <= 2k)."""
    from pyspark.sql import Window

    v = vectors.select(
        F.col(id_col).alias("node"), as_double(F.col(vec_col)).alias("vec")
    )
    n, min_id, max_id, n_distinct = v.agg(
        F.count("*"), F.min("node"), F.max("node"),
        F.countDistinct("node"),
    ).first()
    if n == 0:
        raise ValueError("nn_descent: empty vector table")
    if min_id != 0 or max_id != n - 1 or n_distinct != n:
        # max==n-1 alone admits duplicates ([0,1,1,3]) and negatives
        # ([-1..2,4]) that silently skew the init graph — all three
        # facets checked, one aggregate
        raise ValueError(
            f"nn_descent requires dense unique ids [0, N): N={n}, "
            f"min={min_id}, max={max_id}, distinct={n_distinct}"
        )
    strides = [r * _NND_K + 97 for r in range(1, k + 1)]

    # Norms folded ONCE PER NODE, as in the other scorers: cosine()
    # refolds BOTH 64-element norm aggregates per candidate pair,
    # tripling the interpreted-HOF bill of the N*(2k)^2-pairs-per-round
    # scoring stage. norm() on the same array
    # is the same fold -> the same double bit-for-bit, and
    # dot/(ns*nd) is the identical expression shape cosine() expands
    # to — pinned by the oracle hash (the unrolled CTE computes
    # cosine per pair) and the equality pytest.
    sv = v.select(
        F.col("node").alias("src"),
        F.col("vec").alias("_sv"),
        norm(F.col("vec")).alias("_sn"),
    )
    dv = v.select(
        F.col("node").alias("dst"),
        F.col("vec").alias("_dv"),
        norm(F.col("vec")).alias("_dn"),
    )

    def _score(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(sv, "src")
            .join(dv, "dst")
            .select(
                "src",
                "dst",
                F.round(
                    dot(F.col("_sv"), F.col("_dv"))
                    / (F.col("_sn") * F.col("_dn")),
                    round_to,
                ).alias("score"),
            )
        )

    init = (
        v.select("node")
        .select(
            F.col("node").alias("src"),
            F.explode(
                F.array(*[F.lit(s) for s in strides])
            ).alias("stride"),
        )
        .select(
            "src",
            F.pmod(F.col("src") + F.col("stride"), F.lit(n)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    g = _score(init)

    w_src = Window.partitionBy("src").orderBy(F.col("score").desc(), "dst")
    rev_rank = F.pmod(
        F.pmod(F.col("dst"), F.lit(1000003)) * F.lit(_NND_K),
        F.lit(4294967296),
    )
    w_rev = Window.partitionBy("src").orderBy(rev_rank, "dst")
    # Incremental candidate scoring (the paper's own "new neighbor"
    # optimization, measured: at sf0.1 ~80% of the 2.8M
    # candidate cosines across the 8 rounds re-score pairs already
    # scored in an earlier round, 98% in the last of the 8). A pair scored at
    # round i entered the pool in BOTH directions (sc union scᵀ below)
    # with its deterministic score; if it was kept it is already in g,
    # and if it was cut then score < kth(src) at round i <= kth(src)
    # at any later round (g only improves under the total order
    # score desc / dst asc), so re-scoring it can never change g —
    # the anti-join below drops exactly those pairs. Result identity
    # is pinned by the oracle hash (the unrolled CTE scores every
    # candidate every round) and the cross-SF equality pytest.
    seen = None
    for _ in range(iters):
        fwd = g.select("src", "dst")
        rev = (
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .withColumn("rr", F.row_number().over(w_rev))
            .filter(F.col("rr") <= k)
            .drop("rr")
        )
        adj = fwd.unionByName(rev).dropDuplicates(["src", "dst"])
        cand = (
            adj.select(F.col("src").alias("p"), F.col("dst").alias("u"))
            .join(
                adj.select(F.col("src").alias("p"), F.col("dst").alias("w")),
                "p",
            )
            .filter(F.col("u") < F.col("w"))
            .select(F.col("u").alias("src"), F.col("w").alias("dst"))
            .dropDuplicates(["src", "dst"])
        )
        if seen is not None:
            cand = cand.join(seen, ["src", "dst"], "left_anti")
        # lazy cut: cand feeds BOTH the scorer (this round's g job) and
        # next round's seen union — without it the candidate join
        # replays under each consumer (guide §3.3)
        cand = cand.localCheckpoint(eager=False)
        seen = cand if seen is None else seen.unionByName(cand)
        sc = _score(cand)
        g = (
            g.unionByName(sc)
            .unionByName(
                sc.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    "score",
                )
            )
            .dropDuplicates(["src", "dst"])
            .withColumn("rn", F.row_number().over(w_src))
            .filter(F.col("rn") <= k)
            .drop("rn")
            .localCheckpoint()
        )
    return g.withColumn("rn", F.row_number().over(w_src))


def graph_ann_topk(
    graph: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    beam: int = 12,
    hops: int = 3,
    n_entries: int = 4,
    vec_col: str = "vec",
    id_col: str = "node",
    round_to: int = 6,
    entry_mod: int | None = None,
    filter_col: str | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Greedy BEAM SEARCH over a k-NN graph (the query-time half of the
    graph-ANN family; HNSW layer-0 search, Malkov & Yashunin 2016 —
    public): q218's `nn_descent` builds the neighbor graph, this walks
    it to answer top-k cosine queries without scanning the vector
    table — the scan-side bill per query is O(n_entries + hops * beam
    * 2k) scored candidates instead of N.

    Spark-first shape, the q218/q56 iterative-equi-join idiom with no
    UDF anywhere:
    1. ENTRY: n_entries deterministic pseudo-random seeds per query,
       node = (qid + j*stride) mod N over the dense id space (same
       modular-stride family as the descent init).
    2. Each hop: expand the CURRENT beam through the UNDIRECTED
       adjacency (graph ∪ reversed graph — search quality needs
       in-edges too), score new candidates against the broadcast
       query batch, union with the beam, keep top-``beam`` per query
       (WindowGroupLimit rank pushdown).
    3. After ``hops`` rounds, cut to top-k per query.

    Fully deterministic (entry strides, score-desc/node-asc
    tiebreaks), so — like q218 itself — the whole search is
    SQL-expressible and hash-matched by an unrolled-CTE oracle;
    recall vs the exact top-k (q58's broadcast kNN join) is measured
    separately in APPROX_EVIDENCE (the GRAPH WALK is approximate even
    though the computation is exact).

    ``graph``: (src, dst) edges, e.g. `nn_descent` output.
    ``vectors``: (id_col, vec_col) with DENSE ids [0, N) (the entry
    arithmetic; enforced by the caller building the graph).
    ``queries``: (qid, qv) — a BOUNDED query batch; it is broadcast,
    so the frontier join never shuffles the vector table.

    ``entry_mod`` (q219b): modulus for the entry-stride arithmetic
    when the FULL id space is not dense — the streaming graph-insert
    path keeps entries inside its batch-built seed's dense [0,
    n_seed) range, where every id is guaranteed present, while the
    inserted ids above it are arbitrary. Default: the vector count
    (the q219 batch case, dense [0, N)).

    ``filter_col`` (q219c — FILTERED ANN): name of a boolean column
    in ``vectors``; when set, the TRAVERSAL stays unfiltered (the
    ACORN insight, Patel et al. 2024: pruning the walk to passing
    nodes disconnects the graph at selective predicates) while every
    node SCORED anywhere in the walk accumulates, and the final
    top-k is taken over the accumulated candidates that PASS the
    predicate. The per-query candidate pool is the walk bill itself
    — O(entries + hops·beam·2k) — so effective recall tracks
    pool_size x selectivity vs k.

    ``exclude_self``: when queries are drawn from
    the indexed corpus (qid IS a node id), the query's own node
    occupies a top-k slot at score 1.0; setting this filters
    node == qid before the final cut so the result — and any recall
    measured from it — counts only true neighbors (mirrors
    `knn_join`'s default). Default False: q219's shipped semantics
    (and its hash oracle) keep the self row.

    At 100 TB: the adjacency and vector tables stay partitioned by
    node; each hop is one equi-join on node plus one broadcast join
    on qid. Frontier size is Q*beam rows — driver never sees it.
    """
    from pyspark.sql import Window

    # the beam must hold at least k candidates or the final cut
    # silently under-fills (a caller asking for k=20 neighbors from a
    # beam of 16 gets fewer); +1 when the
    # self row is dropped after the cut
    beam = max(beam, k + 1 if exclude_self else k)
    keep_cols = [F.col(filter_col).alias("_keep")] if filter_col else []
    v = vectors.select(
        F.col(id_col).alias("_n"),
        as_double(F.col(vec_col)).alias("_v"),
        *keep_cols,
    )
    n = entry_mod if entry_mod is not None else v.count()
    if n == 0:
        raise ValueError("graph_ann_topk: empty vector table")
    qs = F.broadcast(queries.select("qid", as_double(F.col("qv")).alias("qv")))
    und = (
        graph.select("src", "dst")
        .unionByName(
            graph.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
    )

    def _score(frontier: DataFrame) -> DataFrame:
        """(qid, node) -> (qid, node, score[, _keep]) via vector +
        query joins."""
        return (
            frontier.join(v, frontier["node"] == v["_n"])
            .join(qs, "qid")
            .select(
                "qid",
                "node",
                F.round(cosine(F.col("_v"), F.col("qv")), round_to).alias(
                    "score"
                ),
                *([F.col("_keep")] if filter_col else []),
            )
        )

    strides = [j * _NND_K + 31 for j in range(1, n_entries + 1)]
    entries = (
        queries.select("qid")
        .select(
            "qid",
            F.explode(F.array(*[F.lit(s) for s in strides])).alias("stride"),
        )
        .select(
            "qid", F.pmod(F.col("qid") + F.col("stride"), F.lit(n)).alias("node")
        )
        .dropDuplicates(["qid", "node"])
    )
    w_q = Window.partitionBy("qid").orderBy(F.col("score").desc(), "node")
    s0 = _score(entries)
    acc = s0
    b = (
        s0.withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= beam)
        .drop("rn")
    )
    for _ in range(hops):
        neigh = (
            b.select("qid", "node")
            .join(und, b["node"] == und["src"])
            .select("qid", F.col("dst").alias("node"))
            .dropDuplicates(["qid", "node"])
        )
        # scores are deterministic per (qid, node): union + dedup is a
        # visited-set-free restatement of best-first expansion
        scored = _score(neigh)
        if filter_col:
            acc = acc.unionByName(scored).localCheckpoint()
        b = (
            b.unionByName(scored)
            .dropDuplicates(["qid", "node"])
            .withColumn("rn", F.row_number().over(w_q))
            .filter(F.col("rn") <= beam)
            .drop("rn")
            .localCheckpoint()
        )
    if filter_col:
        # post-filter over EVERYTHING the walk scored, not just the
        # final beam: the pool is the walk bill, the filter cuts last
        acc = acc.filter(F.col("_keep")).drop("_keep")
        if exclude_self:
            acc = acc.filter(F.col("node") != F.col("qid"))
        return (
            acc.dropDuplicates(["qid", "node"])
            .withColumn("rn", F.row_number().over(w_q))
            .filter(F.col("rn") <= k)
        )
    if exclude_self:
        b = b.filter(F.col("node") != F.col("qid"))
    return (
        b.withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= k)
    )


def _semdedup_subsplit(
    assigned: DataFrame,
    id_col: str = "vec_id",
    max_cell: int | None = None,
) -> tuple[DataFrame, list[str]]:
    """The hot-cell ceiling behind `semdedup_drops`: returns the
    (possibly sub-split) frame and its group key columns. Cells above
    ``max_cell`` rows sub-split by a deterministic id hash into
    ceil(n_c/max_cell) sub-cells, so every scoring group holds
    ~max_cell rows. Factored out so the ceiling's group-size bound is
    directly testable — the adversarial all-one-cell test measures
    THESE group sizes."""
    a = assigned
    key = ["cid"]
    if max_cell is not None:
        if max_cell < 2:
            raise ValueError(f"max_cell must allow pairs (>= 2), got {max_cell}")
        # Per-cell counts are a k-row (cell-count-sized) frame — explicit
        # broadcast, the centroid-collect scale class.
        counts = a.groupBy("cid").agg(F.count(F.lit(1)).alias("_cn"))
        n_sub = F.greatest(
            F.ceil(F.col("_cn") / F.lit(max_cell)), F.lit(1)
        ).cast("long")
        a = (
            a.join(F.broadcast(counts), "cid")
            .withColumn("_sub", F.pmod(F.xxhash64(F.col(id_col)), n_sub))
            .drop("_cn")
        )
        key = ["cid", "_sub"]
    return a, key


def semdedup_drops(
    assigned: DataFrame,
    theta: float,
    id_col: str = "vec_id",
    vec_col: str = "v",
    max_cell: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup's drop set (Abbas et al. 2023, public): given cell-assigned
    vectors (``cid``, ``id_col``, ``vec_col`` array<double>), return the
    (cid, id) rows dropped: a vector is dropped iff ANY smaller-id
    vector in its cell is a >= ``theta`` rounded-cosine neighbor —
    including neighbors that were themselves dropped. NOTE this is NOT
    transitive keep-first greedy: in an A-B, B-C chain with A-C below
    theta, true keep-first would re-keep C (its only >= theta neighbor
    B is already gone); this rule drops both B and C. Deterministic,
    order-free, and what the oracle states — the two rules differ only
    on such chains.

    Execution: ONE hash exchange on the
    cell key feeds an Arrow-batched `applyInPandas` kernel that scores
    each cell's pairwise cosines as a numpy matmul (row-chunked, peak
    memory O(chunk x n_c) on top of the n_c x dim matrix) — the shape
    the SemDeDup paper itself runs, and ~8x faster than the previous
    cid equi-join whose per-pair fold cosine paid an expression-eval
    constant per element (7.8 s -> ~1 s at sf0.1 while
    DuckDB's native list_cosine_similarity kernel runs the same pairs
    in 57 ms — the fold was the slow path, exactly the pyspark guide's
    vectorize-when-per-element-lambdas-dominate rule). Determinism
    across engines rests on the same contract as q27/q58: the 6-dp
    round absorbs summation-order low bits (numpy here, a sequential
    fold in DuckDB/the oracle); rounding is floor(x*10^6+0.5), Spark
    ROUND's HALF_UP for the non-negative thetas dedup uses. Zero-norm
    vectors score 0 against everything (never dropped, never droppers).

    ``max_cell`` is the hot-cell ceiling (q159's ``max_bucket`` /
    ``max_df`` precedent): a degenerate corpus — a botched embedder
    emitting one direction, the q115 failure mode — assigns EVERYTHING
    to one cell, making the kernel's pair work (and at the extreme its
    task) quadratic in N with nothing to stop it. `_semdedup_subsplit`
    caps every scoring group at ~``max_cell`` rows (drop-vs-split: a
    hot SemDeDup cell is where dups LIVE, so the cap SPLITS — q159's
    non-discriminative band buckets could be dropped, these cannot).
    Cross-sub-cell pairs are the recall cost (an s-way split sees ~1/s
    of a cell's pairs; the all-identical degenerate case keeps s
    representatives instead of 1). Every emitted drop remains a TRUE
    >= theta pair (groups shrink, scoring doesn't change) —
    drops(max_cell) is a subset of drops(None), pinned by test. At
    100 TB the primary lever is still k scaling with N (cells of ~1k
    vectors); ``max_cell`` is the guardrail for the geometry where
    assignment degenerates. Default None keeps the exact
    oracle-matched semantics (q170)."""
    import pandas as pd

    a, key = _semdedup_subsplit(assigned, id_col=id_col, max_cell=max_cell)
    id_type = assigned.schema[id_col].dataType.simpleString()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, dropped = _semdedup_dropped_mask(
            pdf, id_col, vec_col, theta, round_to
        )
        out = pdf.iloc[dropped][[id_col]].copy()
        out.insert(0, "cid", pdf["cid"].iloc[0] if len(pdf) else 0)
        return out

    return a.groupBy(*key).applyInPandas(
        kernel, f"cid long, {id_col} {id_type}"
    )


def _semdedup_dropped_mask(pdf, id_col, vec_col, theta, round_to):
    """Shared scoring core: sort the cell by id, score pairwise rounded
    cosines as a row-chunked numpy matmul, return (sorted pdf, boolean
    dropped mask) under the dropped-iff-any-smaller-id-neighbor rule
    (see semdedup_drops: not transitive keep-first)."""
    import numpy as np

    pdf = pdf.sort_values(id_col)
    n = len(pdf)
    if n < 2:
        return pdf, np.zeros(n, dtype=bool)
    scale = float(10 ** round_to)
    th = float(theta)
    m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    norms = np.sqrt((m * m).sum(axis=1))
    inv = np.where(norms > 0.0, 1.0 / np.where(norms == 0, 1, norms), 0.0)
    mn = m * inv[:, None]
    dropped = np.zeros(n, dtype=bool)
    for i0 in range(0, n - 1, 1024):
        i1 = min(i0 + 1024, n - 1)
        sims = mn[i0:i1] @ mn.T  # (chunk, n)
        sims = np.floor(sims * scale + 0.5) / scale
        for r in range(i1 - i0):
            i = i0 + r
            hits = sims[r, i + 1:] >= th
            if hits.any():
                dropped[i + 1:][hits] = True
    return pdf, dropped


def semdedup_cell_stats(
    assigned: DataFrame,
    theta: float,
    id_col: str = "vec_id",
    vec_col: str = "v",
    max_cell: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """q170's rollup FUSED into the scoring kernel: per-cell
    (cid, n_vecs, n_dropped) from the same `_semdedup_dropped_mask`
    pass — the kernel already holds the whole cell, so emitting the
    aggregate costs nothing and the separate totals aggregate + drops
    aggregate + join of `semdedup_drops`-then-rollup (three exchanges,
    two extra Spark jobs of pure scheduling constant on a k-row result)
    collapses to ONE exchange plus a k(-times-sub-split)-row final sum.
    Same determinism contract as `semdedup_drops`."""
    import pandas as pd

    a, key = _semdedup_subsplit(assigned, id_col=id_col, max_cell=max_cell)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, dropped = _semdedup_dropped_mask(
            pdf, id_col, vec_col, theta, round_to
        )
        return pd.DataFrame({
            "cid": [pdf["cid"].iloc[0] if len(pdf) else 0],
            "n_vecs": [len(pdf)],
            "n_dropped": [int(dropped.sum())],
        })

    stats = a.groupBy(*key).applyInPandas(
        kernel, "cid long, n_vecs long, n_dropped long"
    )
    # sub-split rows (if any) fold back to one row per cell — the frame
    # is k-by-sub-split sized, kilobytes at any N
    return stats.groupBy("cid").agg(
        F.sum("n_vecs").cast("long").alias("n_vecs"),
        F.sum("n_dropped").cast("long").alias("n_dropped"),
    )


def gram_upper(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    chunk: int = 512,
) -> DataFrame:
    """Distributed upper-triangle Gram (uncentered second-moment) matrix
    of an embedding column — the one-pass precursor to covariance / PCA
    whitening in embedding-pipeline curation (e.g. before SemDeDup-style
    semantic dedup, q170).

    Returns long-form ``(i, j, cell_q)`` with ``i <= j`` and
    ``cell_q = SUM over rows of floor(x_i * x_j * scale + 0.5)`` (the
    repo's quantize-BEFORE-sum idiom: per-row products are rounded to
    int64 first, so the sum is order-independent and bit-identical on
    any partitioning — and on the DuckDB oracle).

    Plan shape (the textbook distributed Gram): ONE Arrow-batched
    mapInPandas pass emits a dim x dim int64 partial per PARTITION
    (vectorized einsum over ``chunk``-row sub-batches keeps peak memory
    at chunk*dim^2 doubles), so the only exchange carries
    O(partitions * dim^2/2) rows — never O(N). A final groupBy (i, j)
    folds partials. At 100 TB with dim=64 that is ~2080 rows per
    partition regardless of row count; the scan dominates, as it must.
    """
    import numpy as np

    def part(it):
        acc = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            for s in range(0, len(X), chunk):
                sub = X[s : s + chunk]
                prod = np.einsum("ni,nj->nij", sub, sub)
                q = np.floor(prod * scale + 0.5).astype(np.int64).sum(axis=0)
                acc = q if acc is None else acc + q
        if acc is not None:
            iu, ju = np.triu_indices(acc.shape[0])
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "cell_q": acc[iu, ju],
                }
            )

    from kstreamjs_spark.plans import widen_partitions

    # int64 partials are commutative — partition-invariant result; the
    # embedding scan is one split (guide §2.5), widen before the einsum
    partials = widen_partitions(df.select(vec_col)).mapInPandas(
        part, "i int, j int, cell_q long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("cell_q").cast("long").alias("cell_q")
    )


def power_iteration_infnorm(
    cells: dict, dim: int, iters: int = 12
) -> list[float]:
    """Leading eigenvector of a quantized symmetric matrix by power
    iteration with INFINITY-norm scaling — every step is exactly
    reproducible on any engine because no floating-point SUM ever
    happens: the matvec quantizes each term to int64
    (``floor(double(M_ij) * v_j + 0.5)``) and sums exact integers, and
    the scaling divisor is the exact integer max |component|. L2
    normalization would need a 64-term double sum whose value depends
    on summation order (numpy is pairwise, SQL engines unspecified);
    the infinity norm has no such term. Convergence is the classic
    power-method rate either way; the returned vector has |v|_inf = 1.

    ``cells`` maps (i, j) with i <= j to the int64 Gram cell
    (`gram_upper` output, collected — BOUNDED by construction at
    dim*(dim+1)/2 entries, never data-sized; same policy as the k-means
    centroid collects). Pure driver-side Python on a dim x dim matrix.
    """
    import math

    m = [[0.0] * dim for _ in range(dim)]
    for (i, j), q in cells.items():
        m[i][j] = float(q)
        m[j][i] = float(q)
    v = [1.0 / math.sqrt(dim)] * dim  # 1/sqrt(64) == 0.125 exactly in IEEE
    for _ in range(iters):
        w = [
            sum(int(math.floor(m[i][j] * v[j] + 0.5)) for j in range(dim))
            for i in range(dim)
        ]
        mx = max(abs(x) for x in w)
        if mx == 0:
            # Degenerate all-zero matvec: every Gram cell quantized to 0
            # (all |x_i*x_j*scale + 0.5| < 1 — e.g. near-zero embeddings).
            # There is no leading direction to find; fail with a named
            # error instead of a bare ZeroDivisionError.
            raise ValueError(
                "power_iteration_infnorm: quantized matvec is all-zero "
                "(degenerate Gram — embeddings too small for the "
                "quantization scale); no leading direction exists"
            )
        v = [float(x) / float(mx) for x in w]
    return v


def project_quantized(
    df: DataFrame,
    direction: list[float],
    vec_col: str = "embedding",
    out_col: str = "pc_q",
    scale: int = 1_000_000,
) -> DataFrame:
    """Project every embedding onto a literal ``direction`` vector with
    the quantize-per-term idiom: each product x_j * d_j is floored to
    int64 at ``scale`` BEFORE the fold, so the per-row score is an exact
    integer sum — order-independent, oracle-reproducible. One codegen
    projection over the scan; zero shuffle, zero Python in the row path
    (the direction is a plan literal)."""
    d = lit_doubles(direction)
    terms = F.zip_with(
        as_double(F.col(vec_col)),
        d,
        lambda x, y: F.floor(x * y * F.lit(float(scale)) + F.lit(0.5)),
    )
    score = F.aggregate(
        terms, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return df.withColumn(out_col, score.cast("long"))


# ------------------------------------------------ product quantization (PQ)
def pq_codebooks(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    n_cent: int = 16,
    dim: int = 64,
    sample_rows: int = 512,
    iterations: int = 3,
) -> list[list[list[float]]]:
    """Train PQ sub-codebooks (Jegou et al. 2011, "Product Quantization
    for Nearest Neighbor Search", public): split the ``dim`` dimensions
    into ``m`` contiguous subspaces of dim/m each and k-means each
    subspace independently to ``n_cent`` centroids. Training runs on a
    bounded driver-side sample (the `_centroids_from_sample` policy: at
    100 TB you train once on ~1e5 rows and broadcast; the codebook is
    m * n_cent * dim/m floats — kilobytes). Vectors are L2-normalized
    BEFORE subspace split so ADC inner products approximate cosine.
    Deterministic: sample ordered by id, init = first ``n_cent`` sample
    sub-vectors, numpy argmin breaks ties toward the lower index."""
    if dim % m:
        raise ValueError(f"pq: m={m} must divide dim={dim}")
    sub = dim // m
    rows = (
        vectors.select(vec_col)
        .orderBy(id_col)
        .limit(max(sample_rows, n_cent * 4))
        .collect()
    )
    X = np.array([[float(x) for x in r[0]] for r in rows], dtype=np.float64)
    if X.shape[0] < n_cent:
        raise ValueError(
            f"pq: codebook needs >= {n_cent} sample vectors, got {X.shape[0]}"
        )
    if X.shape[1] != dim:
        raise ValueError(f"pq: dim={dim} but sample vectors have {X.shape[1]}")
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = X / np.where(norms == 0.0, 1.0, norms)
    books: list[list[list[float]]] = []
    for s in range(m):
        P = Xn[:, s * sub:(s + 1) * sub]
        C = P[:n_cent].copy()
        for _ in range(iterations):
            # L2 assignment: argmin ||p - c||^2 = argmin (||c||^2 - 2 p.c)
            d = (C * C).sum(axis=1)[None, :] - 2.0 * (P @ C.T)
            assign = np.argmin(d, axis=1)
            for c in range(n_cent):
                members = P[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append(C.tolist())
    return books


def pq_encode(
    vectors: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "codes",
    dim: int = 64,
) -> DataFrame:
    """Encode every vector to ``m`` small-int codes (nearest sub-centroid
    per subspace, L2 on the normalized vector). One Arrow-batched
    pandas_udf — m matmuls per batch, no shuffle: the encoding rides the
    scan projection exactly like the banded-LSH signatures. At 100 TB
    the codes table is m bytes-ish per row (vs dim * 4 for the raw
    vectors) and is what ADC scans; raw vectors are fetched only for
    rerank candidates."""
    from pyspark.sql.functions import pandas_udf

    B = [np.asarray(b, dtype=np.float64) for b in books]
    m = len(B)
    sub = dim // m

    @pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        lens = v.map(len)
        if not (lens == dim).all():
            bad = int(lens[lens != dim].iloc[0])
            raise ValueError(f"pq_encode: dim={dim} but vector has length {bad}")
        X = np.array(v.tolist(), dtype=np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        Xn = X / np.where(norms == 0.0, 1.0, norms)
        codes = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            P = Xn[:, s * sub:(s + 1) * sub]
            C = B[s]
            d = (C * C).sum(axis=1)[None, :] - 2.0 * (P @ C.T)
            codes[:, s] = np.argmin(d, axis=1)
        return pd.Series(list(codes))

    return vectors.withColumn(out_col, enc(F.col(vec_col)))


def pq_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    n_cent: int = 16,
    dim: int = 64,
    rerank: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """PQ/ADC approximate top-k with exact rerank — the memory-bound ANN
    scale path (IVFADC's ADC half; Jegou et al. 2011): vectors live as
    ``m`` sub-quantizer codes, the query builds an m x n_cent lookup
    table of sub-inner-products against the NORMALIZED query, and each
    row's approximate cosine is the sum of m table lookups — a pure
    codegen expression over an int-array column (zip_with + element_at +
    aggregate; no Python, no shuffle). The ADC top ``k * rerank``
    candidates (TakeOrderedAndProject) are then scored EXACTLY by
    re-joining their raw vectors and cut to the final k.

    At 100 TB: the codes table is ~m + id bytes per row — a 30-60x scan
    reduction vs raw float32 vectors — and the rerank join touches only
    k * rerank rows by id (broadcast the candidate id list). The
    codebook is kilobytes, shipped as plan literals. Recall comes from
    rerank width: ADC ordering errors beyond position k * rerank are
    the only misses (measured in APPROX_EVIDENCE.json vs exact q27).

    This convenience form trains + encodes inline (the one-table test
    shape). In production the index build is OFFLINE and amortized:
    call `pq_codebooks` + `pq_encode` once, persist the (id, codes)
    table, and serve queries through `pq_query_encoded` — the query
    cost is then the small-codes scan plus the constant rerank, never
    a re-encode (measured in SCALE.md's century sweep: the encode pass
    dominates this inline form; the served-query path is 4.3x cheaper
    task-seconds than exact brute force at 2M rows and widening with N).
    """
    books = pq_codebooks(
        vectors, vec_col=vec_col, id_col=id_col, m=m, n_cent=n_cent, dim=dim
    )
    encoded = pq_encode(vectors, books, vec_col=vec_col, dim=dim).select(
        id_col, "codes"
    )
    return pq_query_encoded(
        encoded, vectors, books, query, k=k, vec_col=vec_col,
        id_col=id_col, dim=dim, rerank=rerank, round_to=round_to,
        _qv=_query_vec(query, dim, "pq_topk"),
    )


def _query_vec(query: DataFrame, dim: int, what: str) -> np.ndarray:
    """Collect and validate the single-row query frame (bounded: one
    row) — shared by every PQ entry point so the query-side plan runs
    ONCE and error messages name the function the caller actually
    used."""
    qrow = query.limit(2).collect()
    if len(qrow) != 1:
        raise ValueError(
            f"{what} expects exactly one query row, got {len(qrow)}"
        )
    qv = np.array([float(x) for x in qrow[0]["qv"]], dtype=np.float64)
    if qv.shape[0] != dim:
        raise ValueError(
            f"{what}: dim={dim} but query 'qv' has length {qv.shape[0]}"
        )
    return qv


def pq_query_encoded(
    codes_df: DataFrame,
    vectors: DataFrame,
    books: list[list[list[float]]],
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    rerank: int = 4,
    round_to: int = 6,
    _qv: np.ndarray | None = None,
) -> DataFrame:
    """The ONLINE half of PQ ANN: serve one query against a PREBUILT
    (id, codes) table (`pq_encode` output, persisted offline) + the raw
    vector table for rerank. The ADC scan touches only the codes table
    (m small ints per row); the rerank fetches k * rerank raw vectors
    by id — the production serving shape whose cost is independent of
    the encode pass."""
    m = len(books)
    qv = _qv if _qv is not None else _query_vec(
        query, dim, "pq_query_encoded"
    )
    qn = np.linalg.norm(qv)
    qu = qv / (qn if qn > 0.0 else 1.0)
    sub = dim // m
    # LUT[s][j] = <q_sub_s, c_sj>; ADC score = sum_s LUT[s][code_s]
    lut = [
        [float(np.dot(qu[s * sub:(s + 1) * sub], np.asarray(c)))
         for c in books[s]]
        for s in range(m)
    ]
    lut_col = F.array(*[lit_doubles(row) for row in lut])
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            lut_col,
            lambda c, row: F.element_at(row, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = (
        codes_df.select(id_col, adc.alias("adc"))
        .orderBy(F.col("adc").desc(), F.col(id_col))
        .limit(k * rerank)
    )
    qdf = query.select(F.col("qv"))
    rer = (
        vectors.join(F.broadcast(cand.select(id_col)), id_col)
        .crossJoin(F.broadcast(qdf))
        .select(
            F.col(id_col),
            F.round(
                cosine(as_double(F.col(vec_col)), F.col("qv")), round_to
            ).alias("score"),
        )
    )
    return rer.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def ivfpq_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    n_cent: int = 16,
    dim: int = 64,
    rerank: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """IVFADC — the canonical composition (Jegou et al. 2011's actual
    index): IVF cells bound WHICH rows are scanned (partition pruning,
    q42's half) and PQ/ADC bounds WHAT is read per row (the 16x-smaller
    codes, q191's half). Cell assignment and codes are both scan-side
    and offline-able; a query probes ``n_probe`` of ``n_centroids``
    cells, ADC-scores ONLY those rows via the LUT expression, and
    exact-reranks the top k * rerank.

    At 100 TB with the codes table partitioned by cell: a query reads
    n_probe/n_centroids of a codes table that is itself ~16x smaller
    than the raw vectors — the two reductions MULTIPLY (~64x less I/O
    at the defaults) while the rerank stays a constant 80-row fetch.
    This convenience form trains + encodes inline like `pq_topk`; the
    production path persists (cell, id, codes) partitioned by cell and
    serves via the same expressions.

    Recall: the cell probe can exclude true neighbors (q42's error
    source) on top of ADC ordering error (q191's) — measured jointly
    in APPROX_EVIDENCE.json; probing all cells recovers exactly
    q191's recall by construction."""
    cents = _centroids_from_sample(vectors, n_centroids, vec_col, id_col)

    def cell_of(vec: Column) -> Column:
        return _argmax_cell(vec, cents)

    books = pq_codebooks(
        vectors, vec_col=vec_col, id_col=id_col, m=m, n_cent=n_cent, dim=dim
    )
    encoded = pq_encode(vectors, books, vec_col=vec_col, dim=dim).select(
        id_col, "codes", cell_of(F.col(vec_col)).alias("_cell")
    )
    qv = _query_vec(query, dim, "ivfpq_topk")
    # probe cells: top n_probe by cosine(query, centroid), driver-side
    # (the codebook is tiny — same arithmetic as cell_of)
    C = np.asarray(cents, dtype=np.float64)
    qn = np.linalg.norm(qv)
    qu = qv / (qn if qn > 0.0 else 1.0)
    cn = C / np.where(
        (n := np.linalg.norm(C, axis=1, keepdims=True)) == 0.0, 1.0, n
    )
    order = np.argsort(-(cn @ qu), kind="stable")
    probe = [int(c) + 1 for c in order[:n_probe]]  # 1-based like cell_of
    pruned = encoded.filter(F.col("_cell").isin(probe)).select(id_col, "codes")
    return pq_query_encoded(
        pruned, vectors, books, query, k=k, vec_col=vec_col, id_col=id_col,
        dim=dim, rerank=rerank, round_to=round_to, _qv=qv,
    )


def srp_banded_buckets(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 20,
    band_bits: int = 5,
    dim: int = 64,
    seed: int = 42,
    caller: str = "srp_banded_buckets",
) -> DataFrame:
    """Banded SRP bucket keys per vector — the ONE banding home shared
    by the batch embedding near-dup pair join
    (`cosine_neardup_pairs_lsh`) and the streaming bucket index
    (q214b): the signature is `_band_signature_udf`'s Arrow matmul
    (same planes as `ann_topk_lsh_banded` at the same seed), exploded
    to one (id, band, bsig) row per band. A (band, bsig) equality IS
    the OR-amplified collision event on both execution paths.
    ``caller`` flows into the dim-mismatch error so a bad embedding
    length reports the operator the user actually invoked."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_bands * band_bits, dim)).tolist()
    sig = _band_signature_udf(planes, band_bits, dim, repr(vec_col), caller)
    return (
        vectors.select(F.col(id_col), sig(F.col(vec_col)).alias("sig"))
        # posexplode_OUTER, not posexplode: the inner variant makes
        # Catalyst guard the Generate with a `size(sig) > 0` filter
        # BELOW the projection, which extracts the pandas UDF into a
        # second ArrowEvalPython node — doubling the dominant matmul
        # scan. The signature array is always exactly n_bands long for
        # every input row, so outer/inner are value-identical here and
        # outer keeps the plan at ONE UDF evaluation per branch.
        .select(
            id_col,
            F.posexplode_outer("sig").alias("band", "bval"),
        )
        .select(
            id_col, "band", F.col("bval").cast("string").alias("bsig")
        )
    )


def cosine_neardup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 20,
    band_bits: int = 5,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup PAIRS via banded SRP LSH + exact
    verify — the embedding analog of `minhash_verified_pairs` (text)
    and the hamming pair joins (perceptual): candidates from an
    equi-join on (band, bsig) — Sum(bucket^2) cost, never N^2 — then
    every candidate re-scored with TRUE cosine via two id equi-joins
    back to the vectors, thresholded. No false positives by
    construction; recall is the OR-amplified banding curve
    1-(1-p_bit^b)^L at the operating angle (measured against the exact
    pairwise SQL in APPROX_EVIDENCE).

    At 100 TB: signatures are one Arrow matmul in the scan projection;
    candidate cost is Sum(bucket^2) over 2^band_bits buckets per band.
    PARAMETER HONESTY: the defaults (b=5, L=20) are tuned to the
    synthetic corpus's operating point — cosine 0.4, where p_bit is
    only ~0.63, so narrow bands are needed for recall and the bucket
    bill is correspondingly fat. A production NEAR-DUP threshold
    (0.9+: p_bit ~0.9) uses WIDE bands — b=16, L=20 over 65k buckets
    per band, collapsing the candidate bill to ~20*N^2/65536 — so at
    scale the knob to turn is band_bits with the threshold, never a
    wider scan. MEASURED at that operating point (planted exact-cosine
    pairs; APPROX_EVIDENCE `q214_production_regime_b16`):
    overall recall 0.97-0.98 over a 0.92-0.99 cosine mix, candidate
    fraction 0.07-0.14% of all pairs, zero false positives; per-level
    recall tracks the analytic curve 1-(1-p_bit^16)^20 within binomial
    noise, including the honest droop at the 0.92 boundary (analytic
    0.906). The pytest gate pins >= 0.95 overall recall. ``max_bucket``
    is the additional hot-bucket ceiling (the text path's max_df
    analog): buckets with more members than the ceiling are dropped
    WHOLE before the pair join (deterministic, arrival-order-free), so
    candidate cost stays Sum(min(bucket, ceiling)^2). Default None
    (off) so the streaming twin's incremental emission stays exactly
    equal — a stream cannot retract pairs it emitted before a bucket
    crossed the ceiling."""
    banded = srp_banded_buckets(
        vectors, vec_col, id_col, n_bands, band_bits, dim, seed,
        caller="cosine_neardup_pairs_lsh",
    )
    if max_bucket is not None:
        # Bucket-size ceiling as a window count over the banded frame —
        # NOT a groupBy + anti-join back to it, which would evaluate the
        # Arrow matmul signature scan a second time just to learn the
        # hot keys. The window shuffles on (band, bsig), the exact keys
        # the pair equi-join below needs, so the exchange is shared and
        # the dominant scan/projection cost is paid once.
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bsig")
        banded = (
            banded.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    # Guide §3.3: the candidate self-join consumes ``banded`` as both
    # sides, and without a cut the plan replays the Arrow matmul
    # signature scan (the dominant projection) under EACH — 4
    # embeddings scans and a duplicated ArrowEvalPython in q214's plan.
    # (id, band, bsig) is ~20 B/row, so one lazy lineage cut runs the
    # signature pass exactly once at any corpus size.
    from ..plans import materialize_once

    banded = materialize_once(banded, eager=False)
    l = banded.select(
        F.col(id_col).alias("v1"), "band", "bsig"
    )
    r = banded.select(
        F.col(id_col).alias("v2"), "band", "bsig"
    )
    cand = (
        l.join(r, on=["band", "bsig"])
        .filter(F.col("v1") < F.col("v2"))
        .select("v1", "v2")
        .dropDuplicates(["v1", "v2"])
    )
    # Per-vector norm folded ONCE here (guide §4.1): the verify score
    # previously refolded norm(va) and norm(vb) per CANDIDATE PAIR —
    # 3 interpreted 64-element folds per pair where 1 suffices. The
    # norm is the same sequential sqrt(dot(v,v)) fold over the same
    # array, evaluated per vector instead of per pair, and the score
    # keeps the exact expression shape dot/(na*nb) — bit-identical.
    e = vectors.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("v")
    ).select(F.col(id_col), "v", norm(F.col("v")).alias("nv"))
    s1 = e.select(
        F.col(id_col).alias("v1"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    s2 = e.select(
        F.col(id_col).alias("v2"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    joined = cand.join(s1, "v1").join(s2, "v2")
    score = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        joined.select("v1", "v2", score.alias("score"))
        .filter(F.col("score") >= threshold)
    )
