"""Duplicate-cluster resolution: distributed connected components over a
near-dup pair list.

Near-dup detection (operators/dedup.py) emits PAIRS; a pipeline must then
group pairs into clusters and keep one representative per cluster —
otherwise a 3-way duplicate {a,b,c} with pairs (a,b),(b,c) would keep both
a and c. The reference has no analogue (no joins at all); this is a
north-star training-data op.

Algorithm: iterative min-label propagation ("large-star" style). Every
node starts labeled with itself; each round, a node adopts the minimum
label among itself and its neighbors; converged when no label changes.
Rounds = graph diameter ≤ O(log n) for the star/path shapes dup clusters
take in practice (clusters are tiny — boilerplate families — even when
numerous).

Scale properties (100 TB corpus, billions of pairs):
- Each round is ONE shuffle: edges ⋈ labels on src (broadcast never
  assumed), then a min-aggregate by node. No driver-side state; the driver
  only sees the one-row convergence count per round.
- The edge list is symmetrized once up front; self-loops keep isolated
  endpoints labeled.
- Label frames are local-checkpointed each round to truncate the lineage —
  an iterative join chain otherwise re-executes every prior round on each
  action (and the plan grows exponentially for Catalyst to analyze).
- Duplicate-pair graphs are near-disjoint tiny components, so label
  traffic shrinks geometrically after round 1; AQE coalesces the
  shrinking shuffles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..plans import materialize_once


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 20,
                         round_stats: list | None = None) -> DataFrame:
    """Return (node, label) with label = min node id of the component.

    ``edges`` is an undirected pair list (any orientation, dups fine).
    Deterministic: min-label is order-independent, so the result is
    reproducible across runs/partitionings — required for oracle matching.

    ``round_stats`` (profiling only): when a list is passed, one dict per
    propagation round {"round", "changed"} is appended — ``changed`` is a
    full count of labels lowered that round, an EXTRA aggregate job per
    round, so production callers leave it None and get the cheap take(1)
    convergence probe on the already-materialized frame instead.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # symmetrize + self-loops: every node sees every neighbor AND itself.
    # Materialize ONCE (plans.materialize_once — reliable checkpoint on a
    # cluster with a checkpoint dir, localCheckpoint otherwise): the edge
    # list is re-probed every round, and its lineage embeds the
    # (expensive) pair-generation query — without this each round would
    # re-run candidate generation from scratch.
    sym = materialize_once(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .union(e.select("a", F.col("a").alias("b")))
        .union(e.select(F.col("b").alias("a"), "b"))
        .distinct(),
        eager=True,
    )
    labels = sym.groupBy("a").agg(F.min("b").alias("label"))

    converged = False
    prev = None
    for _round in range(max_iter):
        # propagate: node adopts min(neighbor labels ∪ own label).
        # One materialization per round: checkpoint the joined frame, then
        # both the convergence probe and the next label frame read the
        # materialized result instead of re-executing the join.
        prop = (
            sym.join(labels.withColumnRenamed("a", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("new_label"))
        )
        joined = materialize_once(labels.join(prop, "a"), eager=True)
        labels = joined.select("a", F.least("label", "new_label").alias("label"))
        if round_stats is not None:
            changed = joined.filter(F.col("new_label") < F.col("label")).count()
            round_stats.append({"round": _round, "changed": changed})
            done = changed == 0
        else:
            done = not joined.filter(F.col("new_label") < F.col("label")).take(1)
        # Release the PREVIOUS round's checkpointed blocks now that the
        # new frame is materialized (the new labels no longer read them) —
        # otherwise up to max_iter label generations stay pinned in
        # executor storage for the whole job.
        if prev is not None:
            prev.unpersist()
        prev = joined
        if done:
            converged = True
            break
    if not converged:
        # Unconverged labels are silently WRONG (one component, several
        # labels) — never return them. Rounds needed = component diameter,
        # so this fires only on a chain-shaped component longer than
        # max_iter — raise so the caller raises the budget deliberately.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "a component's diameter exceeds max_iter — raise max_iter"
        )
    return labels.select(F.col("a").alias("node"), "label")


def keep_canonical(docs: DataFrame, components: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Drop every clustered doc except its minimum-id representative.
    Docs that appear in no pair survive untouched (left anti on the
    non-canonical set — one broadcast-eligible join, no full-corpus
    shuffle)."""
    losers = components.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = 8, damp_num: int = 85,
             init: int = 1_000_000) -> DataFrame:
    """Integer-exact PageRank over a directed edge list (Brin & Page 1998,
    public) — the iterative-join graph centrality every corpus-curation
    stack runs on its link graph. Requires every node to have out-degree
    >= 1 (no dangling redistribution is performed; symmetrize the edges or
    add self-loops first if the graph has sinks — the co-purchase graph
    q176 feeds is symmetric by construction).

    Determinism contract (q172b's policy): ranks live in int64 micro-units
    and each edge contribution is floor((rank * damp_num) / (100 *
    outdeg)) via integer DIV — NO floating-point sum exists, so the result
    is bit-identical on any partitioning and any engine that mirrors the
    arithmetic.

    Duplicate (src, dst) input rows are allowed and collapse to ONE
    edge (set semantics — callers need no pre-distinct pass); duplicate
    edges do not weight out-degree. Callers that want duplicate-edge
    weighting must pre-aggregate an explicit weight column — an error
    is impossible to raise here because a deduped input is
    indistinguishable from a multiset one after collect_set.

    Scale shape (the GraphX/Pregel vertex layout, Malewicz et al.
    2010, public): edges fold ONCE into an
    adjacency-list frame — groupBy(src) + collect_set(dst), so the edge
    dedup rides the same partial aggregation and out-degree is
    size(dsts) for free — materialized per the cluster policy
    (localCheckpoint) and hash-partitioned by src. Each iteration is
    then ONE exchange: explode the adjacency arrays map-side into
    (dst, contribution) with partial sums, shuffle O(nodes) combined
    rows, and rejoin the O(nodes) result to the stationary adjacency
    frame (co-partitioned on the same hash — no second exchange). The
    left join keeps in-degree-0 source nodes alive at base rank so
    their outgoing contributions survive every step (asymmetric
    graphs). Against an edge-list plan this removes the
    per-iteration O(edges) join AND the O(edges) checkpoint: measured
    14.3 s -> 2.9 s warm at sf0.1/local[8]. Hot-vertex ceiling: one
    adjacency row holds one node's distinct neighbors; a graph with
    celebrity vertices (10^7+ neighbors) would vertex-cut the row by
    salting dsts into bounded sub-lists and summing the sub-degrees —
    not needed for co-purchase graphs whose degree is bounded by
    catalog co-occurrence.

    The iteration plan is built
    as ONE unrolled SQL text (the oracle's own CTE-chain shape) and
    analyzed once, instead of 4 eagerly-analyzed DataFrame transforms
    per iteration — measured ~70 ms of driver-side analyzer + py4j per
    transform, ~2.2 s of the q176 bench bill at iters=8 with ZERO
    executor work. Same logical plan (explode -> partial-agg exchange ->
    left join against the stationary adjacency), bit-identical integer
    arithmetic — pinned by the hand-built-graph mirror pytest and the
    q176 oracle hash. Measured: q176 5.25 -> 4.12 s min-of-3 warm."""
    base = (100 - damp_num) * init // 100
    adj = materialize_once(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .groupBy("src")
        .agg(F.collect_set("dst").alias("dsts"))
        .select("src", "dsts", F.size("dsts").cast("long").alias("od"))
    )
    parts = [
        f"WITH s0 AS (SELECT src, dsts, od,"
        f" CAST({int(init)} AS BIGINT) AS rnk FROM {{adj}})"
    ]
    for i in range(1, iters + 1):
        parts.append(
            f", c{i} AS (SELECT dst, SUM(c) AS s FROM"
            f" (SELECT explode(dsts) AS dst,"
            f" (rnk * {int(damp_num)}) DIV (100 * od) AS c"
            f" FROM s{i - 1}) GROUP BY dst)"
        )
        parts.append(
            f", s{i} AS (SELECT a.src, a.dsts, a.od,"
            f" CAST({int(base)} + COALESCE(c{i}.s, 0) AS BIGINT) AS rnk"
            f" FROM {{adj}} a LEFT JOIN c{i} ON a.src = c{i}.dst)"
        )
    parts.append(
        f" SELECT src AS node, od AS out_degree, rnk FROM s{iters}"
    )
    return adj.sparkSession.sql("".join(parts), adj=adj)
