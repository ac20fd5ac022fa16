"""Mergeable sketches: Misra-Gries heavy hitters (frequencies) and a
deterministic KLL-style compactor (quantiles).

The distributed pattern the built-in approximate aggregates (HLL++,
GK — q24b/q50) don't demonstrate: a BOUNDED per-partition summary built
imperatively, merged by plain aggregation (MG: groupBy-sum) or union
(KLL: the weighted-item multiset), with a PROVABLE error bound.

Misra-Gries(k) guarantees: for every item t,
    true_count - N/(k+1)  <=  estimate(t)  <=  true_count
and every item with true_count > N/(k+1) appears in the summary.
Summaries are mergeable by SUMMING matching counters: each partition's
summary under-counts by at most N_p/(k+1), and the under-counts add, so
the merged estimate keeps the bound with N = Σ N_p (Agarwal et al. 2012,
"Mergeable Summaries", public). The merge is therefore ONE ordinary
groupBy-sum over <= k x partitions rows — no custom reducer needed.

Scale shape: the item stream never leaves its partition (the Arrow
kernel reduces each partition to <= k fixed-width rows); the only
exchange carries the k x P summary rows — constant in data size for
fixed k and parallelism. Determinism: rows are sorted within each
partition before the kernel (hash partitioning + sort is deterministic
for a deterministic input), and the classic decrement-all step has no
data-dependent tie ambiguity.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def misra_gries(
    df: DataFrame,
    col: str,
    k: int = 16,
    sort_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-partition Misra-Gries(k) summaries over ``df[col]`` merged by
    summation: returns (item, est_count) with <= k x partitions rows,
    where est_count is within [true - N/(k+1), true] for the GLOBAL
    count N = total rows. Callers rank/threshold downstream. Pass
    ``sort_cols`` to pin a deterministic in-partition traversal order —
    the bound holds for ANY order, but the exact estimates only
    reproduce if ``sort_cols`` is a TOTAL order over the rows (ties
    leave the traversal to Spark's scan order; q180 adds a posexplode
    position column for exactly this)."""
    src = df.select(col, *sort_cols)
    if sort_cols:
        src = src.sortWithinPartitions(*sort_cols)
    # the summary's item column carries the INPUT column's type — a
    # numeric key must not silently coerce to string at Arrow conversion
    # (phash_blobs' schema-derivation precedent)
    item_type = df.schema[col].dataType.simpleString()

    def summarize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in it:
            _mg_update(counters, pdf[col], k)
        if counters:
            yield pd.DataFrame(
                {"item": list(counters), "est": list(counters.values())}
            )

    partials = src.mapInPandas(summarize, f"item {item_type}, est long")
    return partials.groupBy("item").agg(
        F.sum("est").cast("long").alias("est_count")
    )


def _mg_update(counters: dict, items, k: int) -> dict:
    """Fold ``items`` into Misra-Gries(k) ``counters`` in place and return
    them (the step shared by the batch per-partition summary and the
    streaming per-key state of q180b): increment a held item, insert a
    new one while fewer than k are held, else decrement all and drop
    zeros."""
    for item in items:
        if item in counters:
            counters[item] += 1
        elif len(counters) < k:
            counters[item] = 1
        else:
            dead = []
            for key in counters:
                counters[key] -= 1
                if counters[key] == 0:
                    dead.append(key)
            for key in dead:
                del counters[key]
    return counters


def _kll_update(levels, toggles, err, n, values, k: int):
    """Fold ``values`` into an existing compactor state (the incremental
    core shared by the batch per-partition summary and the streaming
    per-key state of q181b). Mutates ``levels``/``toggles`` in place and
    returns the updated (levels, toggles, err, n)."""
    for v in values:
        n += 1
        levels[0].append(float(v))
        h = 0
        while len(levels[h]) >= k:
            buf = sorted(levels[h])
            held: list[float] = []
            if len(buf) % 2:
                held = [buf.pop()]  # odd: hold the max back, exactly
            sel = buf[toggles[h]::2]
            toggles[h] ^= 1
            levels[h] = held
            if h + 1 == len(levels):
                levels.append([])
                toggles.append(0)
            levels[h + 1].extend(sel)
            err += 1 << h
            h += 1
    return levels, toggles, err, n


def _kll_partition_summary(values, k: int):
    """Deterministic KLL-style multi-level compactor over one partition's
    value stream (Karnin-Lang-Liberty 2016 / Manku-Rajagopalan-Lindsay
    1998, public; deterministic alternating compaction instead of coin
    flips). Returns (levels, err, n): ``levels[h]`` holds items of
    weight 2^h (each <= k items), ``err`` is the SELF-COMPUTED rank-error
    bound — each compaction of a level-h buffer moves a queried rank by
    at most 2^h (sorted buffer, every other item kept: a rank inside the
    buffer shifts by at most one item's weight), so the bound is the sum
    of 2^h over performed compactions — and ``n`` the item count."""
    levels, _, err, n = _kll_update([[]], [0], 0, 0, values, k)
    return levels, err, n


def kll_quantiles(
    df: DataFrame,
    col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    k: int = 200,
    sort_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Mergeable quantile sketch: per-partition deterministic KLL
    summaries merged by UNION (a weighted-item multiset is its own
    merge — the under/over-counts ADD, so the merged rank error is the
    sum of the per-partition bounds; Agarwal et al. 2012's mergeability
    argument, the q180 pattern for quantiles), then each target
    quantile answered from the merged summary: the smallest value whose
    cumulative weight reaches ceil(q*N).

    Returns one row per quantile: (q, est, n, err_bound) where
    ``err_bound`` is the sketch's own conservative worst-case bound on
    |true_rank(est) - q*N| in ROWS: the summed per-compaction bounds
    plus the largest item weight (rank discretization). For fixed k the
    bound is O(N log(N/k) / k) — measured far tighter in practice
    (APPROX_EVIDENCE.json).

    Scale shape: the value stream never leaves its partition (the
    Arrow kernel reduces each partition to <= k*log2(N_p/k) fixed-width
    rows); the only exchange carries the summary rows — logarithmic in
    the data per partition. The final selection is a bounded driver
    collect (the centroid-collect policy: P * k * levels rows).
    Determinism: pass ``sort_cols`` as a TOTAL order to pin the
    in-partition traversal (the bound holds for any order; the exact
    estimates reproduce only under a pinned order AND fixed
    partitioning)."""
    if k < 8:
        # k=1 would never shrink a buffer (hold-one-back + empty
        # selection); tiny k gives useless bounds anyway
        raise ValueError(f"kll_quantiles needs k >= 8, got {k}")
    spark = df.sparkSession
    src = df.select(col, *sort_cols)
    if sort_cols:
        src = src.sortWithinPartitions(*sort_cols)

    def summarize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def values():
            for pdf in it:
                yield from pdf[col]

        levels, err, n = _kll_partition_summary(values(), k)
        rows = [
            (h, v, 1 << h, 0, 0)
            for h, buf in enumerate(levels)
            for v in buf
        ]
        if n:
            rows.append((-1, 0.0, 0, err, n))  # per-partition meta row
        if rows:
            yield pd.DataFrame(
                rows, columns=["lvl", "value", "weight", "err", "n"]
            )

    summary = src.mapInPandas(
        summarize, "lvl int, value double, weight long, err long, n long"
    ).collect()
    items = sorted(
        (r["value"], r["weight"]) for r in summary if r["lvl"] >= 0
    )
    err_total = sum(r["err"] for r in summary if r["lvl"] < 0)
    n_total = sum(r["n"] for r in summary if r["lvl"] < 0)
    out = _kll_estimate(items, err_total, n_total, quantiles)
    return spark.createDataFrame(
        out, "q double, est double, n long, err_bound long"
    )


def _kll_estimate(items, err_total, n_total, quantiles):
    """Answer ``quantiles`` from a merged weighted-item summary: the
    smallest value whose cumulative weight reaches ceil(q*N), with the
    per-answer bound err_total + max item weight (rank discretization).
    ``items`` must be sorted by value."""
    w_max = max((w for _, w in items), default=0)
    out = []
    for q in quantiles:
        target = max(1, int(math.ceil(q * n_total))) if n_total else 0
        cum = 0
        est = items[-1][0] if items else None
        for v, w in items:
            cum += w
            if cum >= target:
                est = v
                break
        out.append((float(q), est, n_total, err_total + w_max))
    return out


def kmv_summary(
    df: DataFrame,
    col: str,
    k: int = 1024,
) -> DataFrame:
    """Per-partition KMV (k-minimum-values) summaries: the k smallest
    DISTINCT xxhash64 values of ``df[col]`` per partition, <= k rows
    each (Bar-Yossef et al. 2002 / Beyer et al. 2007, public). The
    summary is a pure function of the input SET — no traversal-order
    pin needed (unlike MG/KLL): min-of-hashes commutes, dedup commutes,
    so the merge (union then global k smallest distinct) is exact
    mergeability, not bound-addition.

    The hash rides the scan projection JVM-side (F.xxhash64); the
    Arrow kernel only maintains the bounded k-min set (`_kmv_update`),
    so the per-partition exchange is <= k longs — constant in data
    size.

    NULL semantics: xxhash64(NULL) is the seed constant, so NULLs in
    ``col`` count as ONE distinct value — unlike countDistinct, which
    EXCLUDES them. Filter nulls first when the SQL semantics are
    wanted (q192's scopes are null-free by schema); pinned by test."""
    hashed = df.select(F.xxhash64(F.col(col)).alias("h"))

    def summarize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur = np.empty(0, dtype=np.int64)
        for pdf in it:
            cur = _kmv_update(cur, pdf["h"], k)
        if len(cur):
            yield pd.DataFrame({"h": cur})

    return hashed.mapInPandas(summarize, "h long")


def _kmv_update(cur, hashes, k: int) -> np.ndarray:
    """The k smallest distinct values of ``cur`` and ``hashes`` as a
    sorted int64 array: the k-min fold shared by `kmv_summary` and the
    streaming per-key state of q192b. The fold is associative and
    monotone, so each chunk folds in one np.unique (sort + dedup in C)
    with no per-value Python; a per-element heap was interpreter-bound
    (SCALE.md's decade sweep). Trimming to k per chunk keeps the working
    set at O(k + chunk)."""
    return np.unique(np.concatenate([
        np.asarray(cur, dtype=np.int64),
        np.asarray(hashes, dtype=np.int64),
    ]))[:k]


def kmv_distinct(
    df: DataFrame,
    col: str,
    k: int = 1024,
) -> tuple[int, int]:
    """Mergeable distinct-count estimate from a KMV sketch: merge the
    per-partition summaries (union -> global k smallest distinct, a
    TakeOrdered over <= k x partitions rows) and estimate
    D ~= (k-1) / u_k where u_k is the k-th smallest hash mapped to
    (0,1) (the classic unbiased KMV estimator). When fewer than k
    distinct hashes exist the sketch holds the ENTIRE distinct set and
    the answer is exact. Returns (estimate, n_kept).

    Standard error is ~1/sqrt(k-2) (k=1024 -> ~3.1%); measured far
    tighter on the test corpus (APPROX_EVIDENCE.json). Deterministic:
    same input set -> same hashes -> same k minima -> same estimate,
    any partitioning, any order."""
    if k < 16:
        raise ValueError(f"kmv_distinct needs k >= 16, got {k}")
    rows = (
        kmv_summary(df, col, k=k)
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    )
    return kmv_estimate([r["h"] for r in rows], k)


def kmv_estimate(sorted_hashes: list[int], k: int) -> tuple[int, int]:
    """The KMV estimator over an already-merged, ascending k-min hash
    list — shared by batch `kmv_distinct` and the streaming keyed-state
    variant (q192b), one arithmetic home. Exact when fewer than k
    distinct hashes exist (the list IS the distinct set)."""
    n_kept = len(sorted_hashes)
    if n_kept < k:
        return n_kept, n_kept  # sketch holds the whole distinct set
    h_k = sorted_hashes[-1]
    # map signed 64-bit to (0,1): u = (h + 2^63 + 1) / (2^64 + 2)
    u_k = (h_k + 2**63 + 1) / float(2**64 + 2)
    est = int(round((k - 1) / u_k))
    return est, n_kept


def kmv_set_relations(
    df_a: DataFrame,
    col_a: str,
    df_b: DataFrame,
    col_b: str,
    k: int = 1024,
) -> dict:
    """Set algebra on KMV sketches (Beyer et al. 2007, public): from the
    two k-min summaries alone, estimate |A|, |B|, |A UNION B|,
    |A INTERSECT B| and Jaccard — WITHOUT ever joining the full sets.
    The union sketch is exact sketch algebra: the k smallest of
    (kmin(A) UNION kmin(B)) ARE the k smallest of A UNION B. The
    intersection uses the ratio estimator: rho = |{h in union sketch:
    h in BOTH input sketches}| / |union sketch| estimates Jaccard, and
    |A INTERSECT B| ~= rho * D_union. When |A UNION B| < k every number
    is exact (the sketches hold the full distinct sets).

    The expensive half (per-set k-min summaries) is the same bounded
    per-partition exchange as `kmv_distinct`; the set algebra is a
    driver-side fold over <= 2k longs — the centroid-collect policy.
    At 100 TB this is THE way to ask "how much do two corpora overlap"
    without shuffling either: two scans, four kilobytes exchanged."""
    if k < 16:
        raise ValueError(f"kmv_set_relations needs k >= 16, got {k}")

    def _sketch(df: DataFrame, col: str) -> list[int]:
        return [
            r["h"]
            for r in kmv_summary(df, col, k=k)
            .distinct().orderBy("h").limit(k).collect()
        ]

    sa, sb = _sketch(df_a, col_a), _sketch(df_b, col_b)
    est_a, _ = kmv_estimate(sa, k)
    est_b, _ = kmv_estimate(sb, k)
    union = sorted(set(sa) | set(sb))[:k]
    est_union, n_kept = kmv_estimate(union, k)
    in_both = set(sa) & set(sb)
    rho = (
        sum(1 for h in union if h in in_both) / len(union) if union else 0.0
    )
    est_inter = int(round(rho * est_union))
    return {
        "est_a": est_a,
        "est_b": est_b,
        "est_union": est_union,
        "est_intersection": est_inter,
        "est_jaccard": rho,
        "n_kept": n_kept,
        "exact": n_kept < k,
    }
