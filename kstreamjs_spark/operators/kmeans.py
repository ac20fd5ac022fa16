"""Spherical k-means for embedding corpora: cluster assignment as a pure
scan-side expression, Lloyd refinement as a bounded driver loop.

The reference has no vector surface at all (SURVEY.md §2A — its closest
notion of state is the window buffer, reference src/stream.ts:137); this is
a north-star extension for training-data curation: cluster-balanced
sampling, semantic dedup blocking, and topic bucketing all start from a
k-means assignment over document embeddings.

Scale design (100 TB of vectors):
- The ASSIGNMENT step embeds the k centroids as literal arrays in the plan
  and computes all k cosines per row inside one codegen'd projection —
  zero shuffle, zero join, no UDF; the scan stays the only pass over the
  data. This is the right physical shape for k up to a few hundred
  (k*dim literals in the plan); beyond that, switch to a broadcast join
  against a centroid table and a map-side `max_by` argmax — still one
  scan, one broadcast.
- The UPDATE step (Lloyd) computes per-(cluster, dimension) means with one
  posexplode + groupBy — a shuffle of k*dim aggregates, not of vectors —
  and collects only the k*dim centroid matrix to the driver per iteration
  (bounded, documented; the same pattern as the IVF codebook,
  similarity.py:87-117). Iterations are a driver-side for-loop over
  ACTIONS, not driver-side data: every pass is a full distributed job.
- Convergence is measured by the quantized assignment objective; the loop
  stops on stability or ``max_iters``.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .dedup import bind
from .similarity import as_double, dot, lit_doubles, norm


def assign_best(vec: Column, centroids: list[list[float]]) -> Column:
    """struct(cid, sim) of the best (max cosine) centroid for ``vec``.

    Ties break to the LOWEST centroid id: the comparison key is
    (sim, -cid), so two equal sims prefer the smaller cid — the same rule
    the SQL oracle spells ORDER BY sim DESC, cid ASC.

    The vector and its norm are bound ONCE per row (dedup.bind) and the k
    centroid norms are folded to Python literals (same sequential
    sum-of-squares order as the fold expression, so the doubles are
    bit-identical) — the per-row cost is k dot products, not k norm
    recomputations. A zero-norm vector scores 0.0 against every centroid
    (deterministic cid 0) instead of NaN.
    """
    cents = []
    for cid, c in enumerate(centroids):
        cn = math.sqrt(sum(float(x) * float(x) for x in c)) or 1.0
        cents.append((cid, lit_doubles(c), cn))

    def scored(v: Column, vn: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.when(vn == 0.0, F.lit(0.0))
                    .otherwise(dot(v, cl) / (vn * F.lit(cn)))
                    .alias("sim"),
                    F.lit(-cid).alias("ncid"),
                )
                for cid, cl, cn in cents
            ]
        )

    best = bind(
        vec, lambda v: bind(norm(v), lambda vn: F.array_max(scored(v, vn)))
    )
    return F.struct(
        (-best.getField("ncid")).cast("long").alias("cid"),
        best.getField("sim").alias("sim"),
    )


def assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """``df`` plus ``cid`` (long) and ``sim`` (double) assignment columns."""
    best = assign_best(as_double(F.col(vec_col)), centroids)
    return df.withColumns({"cid": best.getField("cid"), "sim": best.getField("sim")})


def initial_centroids(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "first",
    seed: int = 7,
) -> list[list[float]]:
    """Deterministic init, two flavors.

    ``method="first"`` (default): the first ``k`` vectors by ``id_col`` —
    a k-row collect, bounded and reproducible; this is the contract q81's
    SQL oracle mirrors, so it stays the default.

    ``method="kmeanspp"``: seeded deterministic k-means++ via hash-based
    D² sampling (:func:`kmeanspp_centroids`) — better-spread seeds (no
    dependence on id order) at the cost of k-1 extra scans, still fully
    reproducible for a fixed (data, seed).
    """
    if method == "kmeanspp":
        return kmeanspp_centroids(df, k, vec_col=vec_col, id_col=id_col, seed=seed)
    if method != "first":
        raise ValueError(f"unknown init method: {method!r}")
    rows = (
        df.select(id_col, as_double(F.col(vec_col)).alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    return [list(r["v"]) for r in rows]


def kmeanspp_centroids(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> list[list[float]]:
    """Deterministic k-means++ seeding by hash-based D² sampling.

    Classic k-means++ draws each next centroid with probability
    proportional to D²(x) (here the spherical distance 1 - best cosine to
    the already-chosen centroids) using an RNG; that breaks run-to-run
    reproducibility. This variant replaces the RNG with an exponential
    race: every row gets key = -ln(u) / D²(x) where u ∈ (0,1] is a seeded
    ``xxhash64(id, seed)`` uniform, and the MINIMUM key wins — for
    independent exponentials, P(row wins) ∝ D²(x), which is exactly the
    kmeans++ distribution, yet the same (data, seed) always picks the
    same centroids in the same order.

    Cost: the first centroid is the min-id row; each of the remaining k-1
    rounds is one scan ending in TakeOrderedAndProject(1) (a 1-row
    collect). The driver never holds more than the k×dim matrix. At
    100 TB you run this on a bounded sample (the codebook pattern,
    similarity.py:_centroids_from_sample) and broadcast the result.
    """
    base = df.select(id_col, as_double(F.col(vec_col)).alias("v"))
    first = base.orderBy(id_col).limit(1).collect()
    if not first:
        raise ValueError("kmeanspp_centroids: empty input")
    cents = [list(first[0]["v"])]
    mod = 1_000_000_007
    # u STRICTLY interior to (0, 1): (pmod(h, M) + 0.5) / M, h seeded and
    # id-keyed. pmod, not abs(h) % M: abs(Long.MIN_VALUE) stays negative
    # (non-ANSI), which would make u <= 0, F.log NULL, and a nulls-first
    # sort key that deterministically wins every D² race.
    # +0.5 rather than +1: u == 1.0 exactly (pmod == M-1 under +1) makes
    # -log(u) == 0, a key of exactly 0 that beats every strictly-positive
    # competitor in EVERY round — one unlucky hash would return k-1
    # duplicate centroids.
    u = (
        (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(mod))
         .cast("double") + 0.5) / F.lit(float(mod))
    )
    for _ in range(1, k):
        sim = assign_best(F.col("v"), cents).getField("sim")
        d2 = F.greatest(F.lit(1e-12), F.lit(1.0) - sim)
        key = -F.log(u) / d2
        nxt = base.orderBy(key.asc(), F.col(id_col)).limit(1).collect()
        cents.append(list(nxt[0]["v"]))
    return cents


def lloyd_iterate(
    df: DataFrame,
    centroids: list[list[float]],
    iters: int = 3,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """``iters`` Lloyd refinements; returns the updated centroid matrix.

    Each pass: assign (scan-side expression) -> per-(cid, dim) mean of the
    UNIT-NORMALIZED vectors via posexplode + groupBy (shuffles k*dim
    aggregate cells, never vectors) -> collect the k*dim matrix ->
    renormalize to unit length. Averaging unit vectors (not raw vectors) is
    the true spherical-k-means update: the unit centroid maximizing the
    summed cosine of a cluster is the renormalized mean of its members'
    DIRECTIONS, so the objective is monotone non-decreasing regardless of
    input magnitudes. Empty clusters keep their previous centroid;
    zero-norm vectors contribute zeros (they score 0 everywhere anyway).

    Determinism: each component is quantized to int64 at 1e-9 BEFORE the
    per-(cid, dim) sum, so the mean is an exact rational — identical
    doubles on any engine at any partitioning (a plain AVG over doubles
    accumulates in shuffle-dependent order, and ulp-level centroid
    differences can flip near-tie assignments, breaking q81b's
    hash-matched oracle). The 5e-10 per-dim perturbation is second-order
    at the objective's optimum (the mean IS the argmax), far inside the
    monotonicity test's slack.
    """
    k = len(centroids)
    unit = bind(
        as_double(F.col(vec_col)),
        lambda v: bind(
            norm(v),
            lambda vn: F.transform(
                v, lambda x: F.when(vn == 0.0, F.lit(0.0)).otherwise(x / vn)
            ),
        ),
    )
    for _ in range(iters):
        assigned = assign(df, centroids, vec_col)
        cells = (
            assigned.select("cid", F.posexplode(unit).alias("dim", "x"))
            .select(
                "cid", "dim",
                F.floor(F.col("x") * 1_000_000_000 + 0.5)
                .cast("long").alias("qx"),
            )
            .groupBy("cid", "dim")
            # decimal sum: a cell with ~1e10 near-unit components passes
            # 2^63 in 1e-9 quanta; the oracle's HUGEINT would not wrap,
            # so the Spark side must not either
            .agg(
                F.sum(F.col("qx").cast("decimal(38,0)")).alias("qs"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in cells:
            by_cid.setdefault(r["cid"], {})[r["dim"]] = (
                int(r["qs"]) / (r["n"] * 1_000_000_000.0)
            )
        nxt = []
        for cid in range(k):
            dims = by_cid.get(cid)
            if not dims:
                nxt.append(centroids[cid])
                continue
            v = [dims[d] for d in sorted(dims)]
            nrm = sum(x * x for x in v) ** 0.5 or 1.0
            nxt.append([x / nrm for x in v])
        centroids = nxt
    return centroids
