"""Plan-inspection helpers used by tests and bench to assert the physical
plans are the ones we want at scale: filters pushed into scans, columns
pruned, small dims broadcast, top-k via TakeOrderedAndProject, window
ranking via WindowGroupLimit, wide codegen spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Partition-count memo for widen_partitions: df.rdd.getNumPartitions()
# runs the FULL driver-side pipeline on every call (analyze -> optimize
# -> physical plan -> RDD DAG -> Python RDD wrapper).
# The count only depends on the (canonicalized) plan, so it is memoized
# by (applicationId, semanticHash): repeat invocations of the same query
# (bench warm + min-of-N = 4x per row) pay one semanticHash instead of a
# plan->RDD conversion. Staleness is IMPOSSIBLE to turn into wrongness:
# the count only gates a widen-only repartition decision, never results
# (worst case a table overwritten in-place mid-session widens when it no
# longer needs to). Bounded: at most _NPART_MEMO_MAX entries, oldest
# evicted first, so a long-lived app that widens ever-new plans keeps a
# fixed-size memo.
_NPART_MEMO_MAX = 256
_NPART_MEMO: dict[tuple[str, int], int] = {}


def _scan_partitions(df: DataFrame) -> int:
    """Number of partitions ``df`` would execute with, memoized on the
    canonicalized plan (see _NPART_MEMO). Uses the JVM-side
    queryExecution().toRdd() on a miss — the internal binary-row RDD,
    skipping the Python-serializer RDD wrapper that ``df.rdd`` builds."""
    key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    n = _NPART_MEMO.get(key)
    if n is None:
        n = int(df._jdf.queryExecution().toRdd().getNumPartitions())
        while len(_NPART_MEMO) >= _NPART_MEMO_MAX:
            del _NPART_MEMO[next(iter(_NPART_MEMO))]
        _NPART_MEMO[key] = n
    return n


def widen_partitions(df: DataFrame, key=None) -> DataFrame:
    """Spread a narrow scan across every core before per-row-expensive
    compute (codec kernels, zlib, einsum partials).

    The KB-scale fixture tables arrive as ONE input split (a single
    parquet row group cannot be split below maxPartitionBytes), so any
    heavy mapInPandas chain built directly on the scan runs as a single
    task while the other cores idle (guide §2.5 input skew / §6 splits;
    measured: q174 26.8 s -> 0.9 s at 32 cores). Scale-adaptive and
    widen-only: the target is ``defaultParallelism`` and any input that
    already has that many partitions — every real corpus — passes
    through untouched, so the exchange only fires in the tiny-input
    regime where it moves KBs. ONLY safe for partition-INVARIANT
    kernels (per-row projections, commutative integer partials); do NOT
    widen Misra-Gries/KLL-style summaries whose estimates depend on the
    split. Streaming frames pass through (``.rdd`` is undefined there;
    use an explicit keyed repartition like dedup._spread instead).

    ``key`` (optional Column): hash-partition by this expression instead
    of round-robin — for kernels with a per-task memo over a
    group-determined payload (synth_mjpeg_blobs), colocating the group
    makes the memo deterministic. The key must be deterministic (guide
    §2.5: rand-derived keys duplicate/lose rows under fetch-failure
    retry) and have far more distinct values than partitions."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if _scan_partitions(df) >= target:
        return df
    if key is not None:
        return df.repartition(target, key)
    return df.repartition(target)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def assert_in_plan(df: DataFrame, *fragments: str) -> None:
    plan = explain_str(df)
    missing = [f for f in fragments if f not in plan]
    assert not missing, f"plan missing {missing}\n{plan}"


def assert_not_in_plan(df: DataFrame, *fragments: str) -> None:
    plan = explain_str(df)
    present = [f for f in fragments if f in plan]
    assert not present, f"plan unexpectedly contains {present}\n{plan}"


def pushed_filters(df: DataFrame) -> str:
    plan = explain_str(df)
    return "\n".join(
        line.strip() for line in plan.splitlines() if "PushedFilters" in line
    )


def materialize_once(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut lineage so a frame consumed by MULTIPLE downstream subtrees is
    computed once instead of replayed per consumer (AQE's ReusedExchange
    only dedupes identical exchanges; a pruned distinct subtree and a
    count aggregate over the same input are different subtrees and both
    rescan).

    Cluster policy: ``localCheckpoint`` stores the blocks on executors —
    fast, but the frame is lost if an executor dies, which on a real
    cluster means failing the job instead of recomputing. So: if the application has a RELIABLE checkpoint dir
    configured (``spark.sparkContext.setCheckpointDir(...)`` — HDFS/S3
    on a cluster), use ``checkpoint()`` and survive executor loss;
    otherwise fall back to ``localCheckpoint()``, which is exactly right
    for local[] runs where executor==driver and there is no partial
    failure mode to survive.

    Cleanup contract: Spark deletes non-streaming checkpoint files only
    when ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
    STARTUP conf — session.get_spark sets it; cluster submitters must
    too), and then only when the checkpointed RDD is garbage-collected.
    Without it, every reliable-checkpoint call leaks one permanent copy
    of the frame to the checkpoint store."""
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:  # pragma: no cover - py4j accessor unavailable
        has_dir = False
    if has_dir:
        # ``checkpoint()`` writes its files in a SEPARATE job
        # that RECOMPUTES the full lineage unless the frame is persisted
        # first (RDD.checkpoint's own recommendation) — without the
        # persist, the "computed once" guarantee silently becomes two
        # computes in the reliable-checkpoint configuration. Eager
        # checkpoints unpersist immediately (the files now carry the
        # data); lazy ones must keep the cache until first materialization
        # — it is evicted LRU under pressure, strictly cheaper than the
        # second full compute it replaces.
        df = df.persist()
        out = df.checkpoint(eager=eager)
        if eager:
            df.unpersist(blocking=False)
        return out
    return df.localCheckpoint(eager=eager)


def broadcast_if_small(
    df: DataFrame,
    max_bytes: int = 128 << 20,
    gate: DataFrame | None = None,
) -> DataFrame:
    """Broadcast hint gated on Catalyst's own size estimate — the build
    side gets the hint only when its optimized-plan ``sizeInBytes`` is
    under ``max_bytes``; otherwise the frame is returned unhinted and the
    join degrades to a shuffle join (with AQE still free to broadcast a
    small runtime side). An UNCONDITIONAL ``F.broadcast`` on a
    full-table side hard-codes the small-scale shape: past the 8 GB
    broadcast limit it fails outright instead of degrading.
    The default ceiling is deliberately far under the hard limit —
    executors hold one copy per core.

    ``gate`` sizes the decision on a DIFFERENT frame than the one being
    hinted: Catalyst multiplies size estimates through joins, so a
    dim-chain build side (supplier ⋈ nation ⋈ region) can carry an
    estimate orders of magnitude above its true size even though the
    chain can only ever SHRINK its base table — pass the base table as
    ``gate`` and the hint follows the honest upper bound instead of the
    inflated product (without it, the un-hinted plan can end up
    broadcasting the FACT side at small SF, the exactly wrong build
    choice)."""
    from pyspark.sql import functions as F

    try:
        est = int(
            (gate if gate is not None else df)
            ._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - py4j estimate unavailable
        return df
    return F.broadcast(df) if est <= max_bytes else df
