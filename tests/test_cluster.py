"""Connected-components / dup-cluster resolution (operators/cluster.py)."""

from __future__ import annotations

from kstreamjs_spark.operators import cluster
from kstreamjs_spark.tables import load


def _labels(df):
    return {r["node"]: r["label"] for r in df.collect()}


def test_path_graph_collapses_to_min(spark):
    # path 1-2-3-4 plus disjoint pair 10-11: diameter > 1 forces multiple
    # propagation rounds; labels must be the component minimum.
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = _labels(cluster.connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_duplicate_and_reversed_edges(spark):
    edges = spark.createDataFrame(
        [(5, 6), (6, 5), (5, 6), (7, 7)], ["src", "dst"]
    )
    got = _labels(cluster.connected_components(edges))
    assert got == {5: 5, 6: 5, 7: 7}


def test_keep_canonical(spark, sf_smoke):
    (docs,) = load(spark, sf_smoke, "documents")
    ids = sorted(r[0] for r in docs.select("doc_id").limit(4).collect())
    a, b, c, d = ids
    edges = spark.createDataFrame([(a, b), (b, c)], ["src", "dst"])
    comps = cluster.connected_components(edges)
    kept = cluster.keep_canonical(docs, comps)
    kept_ids = {r[0] for r in kept.select("doc_id").collect()}
    all_ids = {r[0] for r in docs.select("doc_id").collect()}
    # b and c collapse into a; d and everything unclustered survive
    assert kept_ids == all_ids - {b, c}


def test_unconverged_raises(spark):
    """A chain longer than max_iter must raise, never return split
    clusters silently (rounds needed = component diameter)."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        cluster.connected_components(chain, max_iter=2)
    ok = cluster.connected_components(chain, max_iter=10)
    assert {r["label"] for r in ok.collect()} == {0}


def test_pagerank_matches_python_mirror(spark):
    """cluster.pagerank on a hand-built symmetric graph (triangle 1-2-3
    plus pendant 3-4) equals a pure-Python mirror of the exact integer
    arithmetic — and iteration genuinely moves ranks (the pendant's rank
    differs from its 1-step value)."""
    import pyspark.sql.functions as F
    from kstreamjs_spark.operators.cluster import pagerank

    und = [(1, 2), (2, 3), (1, 3), (3, 4)]
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["out_degree"], r["rnk"])
        for r in pagerank(df, iters=8).collect()
    }

    # pure-Python mirror: identical integer arithmetic; EVERY node gets
    # base each step (non-receivers stay alive — the in-degree-0 fix)
    def mirror(edge_list, iters=8):
        from collections import defaultdict
        out = defaultdict(list)
        for a, b in edge_list:
            out[a].append(b)
        od = {u: len(vs) for u, vs in out.items()}
        rnk = {u: 1_000_000 for u in od}
        for _ in range(iters):
            nxt = {u: 150_000 for u in od}
            for u, vs in out.items():
                c = (rnk[u] * 85) // (100 * od[u])
                for v in vs:
                    if v in nxt:
                        nxt[v] += c
            rnk = nxt
        return od, rnk

    od, rnk = mirror(edges)
    assert got == {u: (od[u], rnk[u]) for u in od}
    # hub 3 (degree 3) outranks triangle peers, which outrank the pendant
    assert got[3][1] > got[1][1] == got[2][1] > got[4][1]
    # multi-hop propagation actually happened: one iteration gives the
    # pendant 150000 + 1000000*85//300; eight iterations give more
    one_step = 150_000 + (1_000_000 * 85) // 300
    assert got[4][1] != one_step

    # ASYMMETRIC graph: C(3)->A(1), A(1)<->B(2). C has in-degree 0 but
    # out-degree 1 — it must stay in the output at the base-only rank AND
    # keep contributing to A every step (the groupBy(dst)-rebuild bug
    # dropped it after step 1).
    asym = [(3, 1), (1, 2), (2, 1)]
    df2 = spark.createDataFrame(asym, "src long, dst long")
    got2 = {
        r["node"]: (r["out_degree"], r["rnk"])
        for r in pagerank(df2, iters=8).collect()
    }
    od2, rnk2 = mirror(asym)
    assert got2 == {u: (od2[u], rnk2[u]) for u in od2}
    assert got2[3][1] == 150_000  # source node: base only, never dropped
    # and A's rank provably includes C's ongoing contribution: a buggy
    # mirror that drops non-receivers after each step (the
    # groupBy(dst)-rebuild bug) yields a DIFFERENT value for A
    rnk_buggy = {u: 1_000_000 for u in od2}
    for _ in range(8):
        nxt = {}
        for u, vs in {3: [1], 1: [2], 2: [1]}.items():
            if u not in rnk_buggy:
                continue
            c = (rnk_buggy[u] * 85) // (100 * od2[u])
            for v in vs:
                nxt[v] = nxt.get(v, 150_000) + c
        rnk_buggy = nxt
    assert got2[1][1] != rnk_buggy[1]
