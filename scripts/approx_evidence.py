"""Quantitative evidence for the rows-only (approximate-by-design)
queries — the ones the driver's oracle gate cannot hash-match (q24b,
q26b, q26c, q27b, q42, q50, q159, q180, q180b, q181, q181b, q191,
q191b, q192, q192b, q194, q195, q205, q212, q212b, q214, q214b, and
q163 — whose ratio bands + byte accounting are recorded here so that
no rows-only query's evidence lives only in pytest — plus graph-recall
rows for the hash-matched q218/q219: their COMPUTATION is exact, the
graph/walk they produce is the approximation). Each is measured
against its EXACT
counterpart on the same parquet and the numbers are written to
APPROX_EVIDENCE.json at the repo root, so the evidence is a checked-in
artifact that persists across rounds (referenced from BASELINE.md)
instead of living only inside pytest assertions.

Metrics:
- q26b minhash LSH: recall/precision of the banded candidate+estimate
  pipeline vs exact pairwise n-gram Jaccard >= 0.5 (unblocked), mean and
  max |estimated - exact| Jaccard over the true-positive pairs, plus the
  measured-vs-analytic banding-curve deviation 1-(1-j^r)^b at three
  similarity levels (the same synthetic corpus the 5-sigma pytest pins).
- q26c simhash: recall vs the same exact pair set.
- q27b LSH ANN / q42 IVF ANN: top-10 overlap vs exact cosine top-10
  (q27), and whether rank-1 (the query vector itself) matches.
- q24b: relative error of HLL++ count-distinct and GK-sketch median vs
  their exact counterparts.
- q50: per-month HLL-sketch-union distinct estimate vs exact monthly
  distinct — max relative error across months.

Usage: python scripts/approx_evidence.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F  # noqa: E402

from kstreamjs_spark.operators import dedup, similarity  # noqa: E402
from kstreamjs_spark.queries import all_queries  # noqa: E402
from kstreamjs_spark.session import get_spark  # noqa: E402
from kstreamjs_spark.tables import load  # noqa: E402


def _pairs(df) -> dict[tuple[int, int], float]:
    return {(r[0], r[1]): float(r[2]) for r in df.collect()}


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/APPROX_EVIDENCE.json"
    spark = get_spark("approx-evidence", cpus=8, shuffle_partitions=8)
    q = all_queries()
    out: dict[str, dict] = {}

    docs, emb, events = (
        load(spark, sf, "documents")[0],
        load(spark, sf, "embeddings")[0],
        load(spark, sf, "events")[0],
    )

    # ---- exact near-dup truth: unblocked pairwise Jaccard >= 0.5
    truth = _pairs(dedup.jaccard_pairs(docs, threshold=0.5, partition_col=None))

    # ---- q26b: minhash estimate pipeline vs exact
    mh = _pairs(q["q26b_minhash_neardup"].fn(spark, sf))
    tp = set(mh) & set(truth)
    errs = [abs(mh[p] - truth[p]) for p in tp]
    out["q26b_minhash_neardup"] = {
        "n_exact_pairs": len(truth),
        "n_estimated_pairs": len(mh),
        "recall_vs_exact": round(len(tp) / len(truth), 4) if truth else None,
        "precision_vs_exact": round(len(tp) / len(mh), 4) if mh else None,
        "mean_abs_jaccard_err": round(sum(errs) / len(errs), 4) if errs else None,
        "max_abs_jaccard_err": round(max(errs), 4) if errs else None,
    }

    # ---- banding-curve deviation (synthetic corpus, the pytest pin's data)
    from tests.test_llm_ops import _banding_corpus

    num_perm, bands = 64, 16
    r_rows = num_perm // bands
    banding = {}
    for tag, k in {"lo": 12, "knee": 20, "hi": 26}.items():
        rows, pair_truth = _banding_corpus(60, 30, k, tag)
        d = spark.createDataFrame(rows, ["doc_id", "text"])
        cand = {
            (row["d1"], row["d2"])
            for row in dedup.minhash_neardup_pairs(
                d, threshold=0.0, num_perm=num_perm, bands=bands
            ).collect()
        }
        analytic = sum(1 - (1 - j**r_rows) ** bands for _, j in pair_truth)
        var = sum(
            (p := 1 - (1 - j**r_rows) ** bands) * (1 - p) for _, j in pair_truth
        )
        got = sum(1 for pair, _ in pair_truth if pair in cand)
        banding[tag] = {
            "n_pairs": len(pair_truth),
            "analytic_expected": round(analytic, 2),
            "measured": got,
            "deviation_sigma": (
                round((got - analytic) / var**0.5, 2) if var > 0 else 0.0
            ),
            "false_positives_at_j0": len(
                cand - {pair for pair, _ in pair_truth}
            ),
        }
    out["q26b_minhash_neardup"]["banding_curve"] = banding

    # ---- q26c: simhash recall vs the exact Jaccard pair set. The
    # 2-of-8-chunk combination pigeonhole reaches radius 6; a radius-3
    # geometry recalls only 0.6, since the fixture's true pairs reach
    # SimHash distance 5. The surplus pairs
    # are TRUE hamming<=6 pairs (the operator is exact for its own
    # metric, brute-force-pinned in pytest); like q26b's candidates
    # they feed an exact-Jaccard verify when the downstream needs the
    # lexical metric, so jaccard_precision is a property of SimHash as
    # a proxy, not an operator error.
    sh = {(r[0], r[1]) for r in q["q26c_simhash_neardup"].fn(spark, sf).collect()}
    out["q26c_simhash_neardup"] = {
        "n_exact_pairs": len(truth),
        "n_simhash_pairs": len(sh),
        "recall_vs_exact": (
            round(len(sh & set(truth)) / len(truth), 4) if truth else None
        ),
        "jaccard_precision": (
            round(len(sh & set(truth)) / len(sh), 4) if sh else None
        ),
        "max_hamming": 6,
    }

    # ---- q27b / q42: ANN top-10 vs exact cosine top-10
    qv = emb.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    exact10 = [r["vec_id"] for r in similarity.topk_cosine(emb, qv, k=10).collect()]
    for name in ("q27b_ann_lsh_topk", "q42_ivf_ann_topk", "q191_pq_ann_topk",
                 "q194_ivfpq_ann_topk"):
        approx10 = [r["vec_id"] for r in q[name].fn(spark, sf).collect()]
        out[name] = {
            "k": 10,
            "top10_overlap": len(set(exact10) & set(approx10)),
            "rank1_matches_exact": bool(approx10 and approx10[0] == exact10[0]),
        }
    # q27b's pruning honesty: fraction of N surviving the banded filter
    # (k=N returns every candidate) — recall means nothing if the filter
    # quietly admits the whole table
    n_emb = emb.count()
    n_cand = similarity.ann_topk_lsh_banded(emb, qv, k=n_emb + 1).count()
    out["q27b_ann_lsh_topk"]["candidate_fraction"] = round(n_cand / n_emb, 4)
    # ---- q159: banded batch k-NN join vs the exact knn_join (q58)
    def _knn_overlap(sfd: str) -> float:
        ex = {
            (r["qid"], r["vec_id"])
            for r in q["q58_knn_join"].fn(spark, sfd).collect()
        }
        ap = {
            (r["qid"], r["vec_id"])
            for r in q["q159_knn_join_lsh"].fn(spark, sfd).collect()
        }
        return round(len(ex & ap) / len(ex), 4) if ex else None

    out["q159_knn_join_lsh"] = {
        "k": 5,
        "n_queries": 20,
        "pair_recall_vs_exact": _knn_overlap(sf),
        "pair_recall_vs_exact_sf0.1": _knn_overlap("/root/testdata/sf0.1"),
    }

    # ---- q159 on a CLUSTERED corpus: the synthetic
    # embeddings are near-uniform — sign-LSH's honest WORST case, where
    # the ~0.5 candidate fraction tracks the decade exponent. A real
    # embedding corpus is clustered and duplicate-heavy, the geometry
    # LSH exists for: 16 well-separated centers, sigma=0.05 cluster
    # noise, 10% exact duplicates. Measured at two band geometries
    # (default b=5 OR-heavy; b=8 AND-widened) with candidate fraction
    # AND recall, on BOTH corpora, so the operating point is chosen on
    # numbers rather than the uniform corpus's pessimism.
    import numpy as np

    rng = np.random.RandomState(42)
    centers = rng.standard_normal((16, 64)) * 3.0
    n_clustered = 2000
    base = centers[np.arange(n_clustered) % 16] + (
        rng.standard_normal((n_clustered, 64)) * 0.05
    )
    dup_src = rng.randint(0, n_clustered, n_clustered // 10)
    base[-len(dup_src):] = base[dup_src]  # 10% exact duplicates
    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in range(n_clustered)],
        "vec_id long, embedding array<double>",
    )

    def _geometry(vectors, n_vec: int, band_bits: int) -> dict:
        queries = vectors.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"),
            similarity.as_double(F.col("embedding")).alias("qv"),
        )
        ex = {
            (r["qid"], r["vec_id"])
            for r in similarity.knn_join(vectors, queries, k=5).collect()
        }
        ap = {
            (r["qid"], r["vec_id"])
            for r in similarity.knn_join_lsh_banded(
                vectors, queries, k=5, band_bits=band_bits
            ).collect()
        }
        n_cand = similarity.knn_join_lsh_banded(
            vectors, queries, k=n_vec + 1, band_bits=band_bits
        ).count()
        return {
            "band_bits": band_bits,
            "n_bands": 20,
            "pair_recall_vs_exact": round(len(ex & ap) / len(ex), 4),
            "candidate_fraction": round(n_cand / (20 * (n_vec - 1)), 4),
        }

    n_emb_u = emb.count()
    out["q159_knn_join_lsh"]["geometries"] = {
        "uniform_sf_corpus": [
            _geometry(emb, n_emb_u, 5), _geometry(emb, n_emb_u, 8),
        ],
        "clustered_16c_10pct_dup": [
            _geometry(cdf, n_clustered, 5), _geometry(cdf, n_clustered, 8),
        ],
    }

    # the recall bar holds at BOTH scales: repeat the
    # overlap + pruning measurement at sf0.1 regardless of the main sf
    (emb1,) = load(spark, "/root/testdata/sf0.1", "embeddings")
    qv1 = emb1.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    ex1 = [r["vec_id"] for r in similarity.topk_cosine(emb1, qv1, k=10).collect()]
    ap1 = [
        r["vec_id"]
        for r in similarity.ann_topk_lsh_banded(emb1, qv1, k=10).collect()
    ]
    n1 = emb1.count()
    out["q27b_ann_lsh_topk"]["sf0.1"] = {
        "top10_overlap": len(set(ex1) & set(ap1)),
        "rank1_matches_exact": bool(ap1 and ap1[0] == ex1[0]),
        "candidate_fraction": round(
            similarity.ann_topk_lsh_banded(emb1, qv1, k=n1 + 1).count() / n1, 4
        ),
    }
    pq1 = [
        r["vec_id"]
        for r in similarity.pq_topk(emb1, qv1, k=10, m=16, rerank=8).collect()
    ]
    ivfpq1 = [
        r["vec_id"]
        for r in similarity.ivfpq_topk(emb1, qv1, k=10).collect()
    ]
    out["q194_ivfpq_ann_topk"]["sf0.1"] = {
        "top10_overlap": len(set(ex1) & set(ivfpq1)),
        "rank1_matches_exact": bool(ivfpq1 and ivfpq1[0] == ex1[0]),
        # the two reductions multiply: n_probe/n_centroids of the rows,
        # each read as 16 small ints instead of 64 doubles
        "probe_fraction": 4 / 16,
    }
    out["q191_pq_ann_topk"]["sf0.1"] = {
        "top10_overlap": len(set(ex1) & set(pq1)),
        "rank1_matches_exact": bool(pq1 and pq1[0] == ex1[0]),
        # the rerank fetch is the candidate set: k * rerank rows by id —
        # constant in N, so the fraction vanishes as the corpus grows
        "candidate_fraction": round(80 / n1, 4),
    }

    # ---- q24b: sketch aggregates vs exact
    ex = events.agg(
        F.countDistinct("user_id").alias("u"),
        F.percentile("value", 0.5).alias("m"),
    ).collect()[0]
    ap = q["q24b_approx_aggs"].fn(spark, sf).collect()[0]
    out["q24b_approx_aggs"] = {
        "exact_distinct_users": ex["u"],
        "approx_distinct_users": ap["approx_users"],
        "distinct_rel_err": round(abs(ap["approx_users"] - ex["u"]) / ex["u"], 4),
        "exact_median_value": round(ex["m"], 6),
        "approx_median_value": round(ap["approx_median_value"], 6),
        "median_rel_err": round(
            abs(ap["approx_median_value"] - ex["m"]) / abs(ex["m"]), 4
        ),
    }

    # ---- q50: per-month sketch-union estimate vs exact monthly distinct
    exact_m = {
        r["month"]: r["u"]
        for r in events.groupBy(
            F.date_trunc("month", "ts").alias("month")
        ).agg(F.countDistinct("user_id").alias("u")).collect()
    }
    rels = []
    for r in q["q50_sketch_rollup"].fn(spark, sf).collect():
        e = exact_m[r["month"]]
        rels.append(abs(r["approx_users"] - e) / e)
    out["q50_sketch_rollup"] = {
        "n_months": len(rels),
        "max_rel_err": round(max(rels), 4),
        "mean_rel_err": round(sum(rels) / len(rels), 4),
    }

    # ---- q180: Misra-Gries heavy hitters vs exact token counts at BOTH
    # scale factors — max over-count must be 0 (MG never over-counts),
    # max under-count must respect N/(k+1), and every token above the
    # threshold must be present in the merged summary.
    from kstreamjs_spark.operators import sketch
    from kstreamjs_spark.queries.llm import _MG_K

    mg_out = {}
    for mg_sf in (sf, "/root/testdata/sf0.1"):
        (docs_mg,) = load(spark, mg_sf, "documents")
        # (doc_id, pos) total order — mirrors q180
        toks = dedup.spread(docs_mg, "doc_id").select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
        )
        got = {
            r["item"]: r["est_count"]
            for r in sketch.misra_gries(
                toks, "token", k=_MG_K, sort_cols=("doc_id", "pos")
            ).collect()
        }
        exact = {
            r["token"]: r["c"]
            for r in toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        n = sum(exact.values())
        bound = n // (_MG_K + 1)
        over = max((est - exact[t] for t, est in got.items()), default=0)
        under = max((exact[t] - est for t, est in got.items()), default=0)
        missing_heavy = [
            t for t, c in exact.items() if c > bound and t not in got
        ]
        mg_out[mg_sf.rsplit("/", 1)[-1]] = {
            "n_tokens": n,
            "k": _MG_K,
            "error_bound": bound,
            "max_over_count": int(over),
            "max_under_count": int(under),
            "bound_respected": bool(over <= 0 and under <= bound),
            "n_missing_heavy": len(missing_heavy),
        }
    out["q180_heavy_hitters"] = mg_out

    # ---- q181: KLL quantile sketch vs exact ranks at BOTH scale
    # factors — for each reported quantile the TRUE rank of the
    # estimate must sit within the sketch's own reported err_bound of
    # the target rank, and the bound itself must stay a small fraction
    # of N (the usefulness check: a vacuous bound would also "pass").
    from kstreamjs_spark.queries.llm import _KLL_K, _KLL_QS

    kll_out = {}
    for kq_sf in (sf, "/root/testdata/sf0.1"):
        (li,) = load(spark, kq_sf, "lineitem")
        rows = sketch.kll_quantiles(
            li, "l_extendedprice", quantiles=_KLL_QS, k=_KLL_K,
            sort_cols=("l_orderkey", "l_linenumber"),
        ).collect()
        import numpy as np

        xs = np.sort(
            np.array(
                [r[0] for r in li.select("l_extendedprice").collect()],
                dtype=float,
            )
        )
        n = len(xs)
        per_q = {}
        worst = 0
        for r in rows:
            target = max(1, int(np.ceil(r["q"] * n)))
            lo = int(np.searchsorted(xs, r["est"], side="left"))
            hi = int(np.searchsorted(xs, r["est"], side="right"))
            dev = max(lo - target, target - hi, 0)
            worst = max(worst, dev)
            per_q[str(r["q"])] = {
                "est": r["est"],
                "rank_dev": dev,
                "err_bound": r["err_bound"],
            }
        kll_out[kq_sf.rsplit("/", 1)[-1]] = {
            "n": n,
            "k": _KLL_K,
            "quantiles": per_q,
            "worst_rank_dev": worst,
            "bound_respected": all(
                v["rank_dev"] <= v["err_bound"] for v in per_q.values()
            ),
            "bound_over_n": round(rows[0]["err_bound"] / n, 4),
        }
    out["q181_quantile_sketch"] = kll_out

    # ---- q181b: the STREAMING KLL — same exact-rank comparison on the
    # replayed result (arrival grouping differs from batch q181, the
    # bound must hold regardless; n must equal the exact row count —
    # exactly-once folding across micro-batches).
    kllb_out = {}
    for kq_sf in (sf, "/root/testdata/sf0.1"):
        rows = q["q181b_stream_quantile_sketch"].fn(spark, kq_sf).collect()
        (li,) = load(spark, kq_sf, "lineitem")
        import numpy as np

        xs = np.sort(
            np.array(
                [r[0] for r in li.select("l_extendedprice").collect()],
                dtype=float,
            )
        )
        n = len(xs)
        per_q = {}
        for r in rows:
            target = max(1, int(np.ceil(r["q"] * n)))
            lo = int(np.searchsorted(xs, r["est"], side="left"))
            hi = int(np.searchsorted(xs, r["est"], side="right"))
            per_q[str(r["q"])] = {
                "est": r["est"],
                "rank_dev": max(lo - target, target - hi, 0),
                "err_bound": r["err_bound"],
            }
        kllb_out[kq_sf.rsplit("/", 1)[-1]] = {
            "n_exact": n,
            "n_streamed": rows[0]["n"],
            "exactly_once": rows[0]["n"] == n,
            "quantiles": per_q,
            "bound_respected": all(
                v["rank_dev"] <= v["err_bound"] for v in per_q.values()
            ),
        }
    out["q181b_stream_quantile_sketch"] = kllb_out

    # ---- q180b: the STREAMING Misra-Gries — never over-counts, and
    # every token the stream surfaced is within its exact count; n
    # equals the exact token count (exactly-once folding).
    mgb_out = {}
    for mg_sf in (sf, "/root/testdata/sf0.1"):
        rows = q["q180b_stream_heavy_hitters"].fn(spark, mg_sf).collect()
        (docs_b,) = load(spark, mg_sf, "documents")
        exact = {
            r["token"]: r["c"]
            for r in docs_b.select(
                F.explode(F.split("text", " ")).alias("token")
            )
            .groupBy("token").agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        over = max((r["est_count"] - exact[r["token"]] for r in rows),
                   default=0)
        under = max((exact[r["token"]] - r["est_count"] for r in rows),
                    default=0)
        mgb_out[mg_sf.rsplit("/", 1)[-1]] = {
            "top_k_reported": len(rows),
            "max_over_count": int(over),
            "max_under_count": int(under),
            "never_over_counts": bool(over <= 0),
        }
    out["q180b_stream_heavy_hitters"] = mgb_out

    # ---- q192: KMV distinct sketch vs exact countDistinct per scope at
    # BOTH scale factors; the order_keys scope is the estimator regime
    # (distinct >> k), the other two the exact-when-small regime
    kmv_out = {}
    kmv_rows_by_sf: dict[str, dict] = {}
    for kv_sf in (sf, "/root/testdata/sf0.1"):
        rows = {r["scope"]: r for r in q["q192_kmv_distinct"].fn(spark, kv_sf).collect()}
        kmv_rows_by_sf[kv_sf] = rows
        docs_v, events_v, li_v = (
            load(spark, kv_sf, "documents")[0],
            load(spark, kv_sf, "events")[0],
            load(spark, kv_sf, "lineitem")[0],
        )
        exact = {
            "doc_tokens": docs_v.select(
                F.explode(F.split("text", " ")).alias("t")
            ).agg(F.countDistinct("t")).collect()[0][0],
            "event_users": events_v.agg(
                F.countDistinct("user_id")
            ).collect()[0][0],
            "order_keys": li_v.agg(
                F.countDistinct("l_orderkey")
            ).collect()[0][0],
        }
        scopes = {}
        for s, r in rows.items():
            ex = exact[s]
            scopes[s] = {
                "est": int(r["est_distinct"]),
                "exact": int(ex),
                "rel_err": round(abs(r["est_distinct"] - ex) / ex, 4),
                "exact_regime": bool(r["exact"]),
            }
            if r["exact"]:
                # the exact-when-small contract is a hard equality
                assert r["est_distinct"] == ex, (s, kv_sf)
        kmv_out[kv_sf.rsplit("/", 1)[-1]] = {
            "k": 1024,
            "std_err_bound": round(1.0 / (1024 - 2) ** 0.5, 4),
            "scopes": scopes,
        }
    out["q192_kmv_distinct"] = kmv_out

    # ---- q192b: the STREAMING KMV — set-purity makes streaming == batch
    # a HARD equality (not a bound): the replayed keyed-state estimate
    # must equal batch q192's order_keys row exactly at both SFs
    kmvb_out = {}
    for kv_sf in (sf, "/root/testdata/sf0.1"):
        # the batch rows were already materialized in the q192 section
        batch_row = kmv_rows_by_sf[kv_sf]["order_keys"]
        stream_row = q["q192b_stream_kmv_distinct"].fn(spark, kv_sf).collect()[0]
        eq = (
            int(stream_row["est_distinct"]) == int(batch_row["est_distinct"])
            and int(stream_row["n_kept"]) == int(batch_row["n_kept"])
        )
        assert eq, (kv_sf, stream_row, batch_row)
        kmvb_out[kv_sf.rsplit("/", 1)[-1]] = {
            "stream_est": int(stream_row["est_distinct"]),
            "batch_est": int(batch_row["est_distinct"]),
            "stream_equals_batch": eq,
        }
    out["q192b_stream_kmv_distinct"] = kmvb_out

    # ---- q205: the STREAMING banded-minhash candidate index — the
    # bucket self-join makes streaming == batch a HARD equality (the q192b
    # category): the streamed pair set must equal _lsh_candidate_pairs
    # exactly at both SFs, independent of micro-batch schedule
    mhs_out = {}
    for kv_sf in (sf, "/root/testdata/sf0.1"):
        (docs_v,) = load(spark, kv_sf, "documents")
        batch_pairs = {
            (r["d1"], r["d2"])
            for r in dedup._lsh_candidate_pairs(
                docs_v, 64, 16, 3, "doc_id", "text", 42, carry_sigs=False
            ).collect()
        }
        stream_pairs = {
            (r["d1"], r["d2"])
            for r in q["q205_stream_minhash_candidates"]
            .fn(spark, kv_sf).collect()
        }
        assert stream_pairs == batch_pairs, (
            kv_sf,
            len(stream_pairs),
            len(batch_pairs),
        )
        mhs_out[kv_sf.rsplit("/", 1)[-1]] = {
            "n_pairs": len(batch_pairs),
            "stream_equals_batch": stream_pairs == batch_pairs,
        }
    out["q205_stream_minhash_candidates"] = mhs_out

    # ---- q195: KMV set relations vs the exact distinct-key join at
    # BOTH scale factors (every relation estimate vs truth)
    kmvr_out = {}
    for kv_sf in (sf, "/root/testdata/sf0.1"):
        (li_v,) = load(spark, kv_sf, "lineitem")
        a = li_v.filter(F.col("l_returnflag") == "R").select("l_orderkey")
        b = li_v.filter(F.col("l_returnflag") == "A").select("l_orderkey")
        ea = a.distinct().count()
        eb = b.distinct().count()
        ei = a.distinct().join(b.distinct(), "l_orderkey").count()
        eu = ea + eb - ei
        r = q["q195_kmv_overlap"].fn(spark, kv_sf).collect()[0]
        kmvr_out[kv_sf.rsplit("/", 1)[-1]] = {
            "k": 1024,
            "std_err_bound": round(1.0 / (1024 - 2) ** 0.5, 4),
            "rel_err": {
                "a": round(abs(r["est_a"] - ea) / ea, 4),
                "b": round(abs(r["est_b"] - eb) / eb, 4),
                "union": round(abs(r["est_union"] - eu) / eu, 4),
                "intersection": round(
                    abs(r["est_intersection"] - ei) / ei, 4
                ),
                "jaccard": round(
                    abs(r["est_jaccard"] - ei / eu) / (ei / eu), 4
                ),
            },
            "exact_intersection": int(ei),
            "est_intersection": int(r["est_intersection"]),
        }
    out["q195_kmv_overlap"] = kmvr_out

    # ---- q191b: streaming PQ encode — hard equality with batch encode
    # (pure per-row function of the shipped codebooks) at both SFs
    pqb_out = {}
    for kv_sf in (sf, "/root/testdata/sf0.1"):
        (emb_v,) = load(spark, kv_sf, "embeddings")
        books = similarity.pq_codebooks(emb_v, m=16, n_cent=16)
        batch = {
            r["vec_id"]: (r["codes"][0], r["codes"][15], sum(r["codes"]))
            for r in similarity.pq_encode(emb_v, books, dim=64)
            .select("vec_id", "codes").collect()
        }
        stream = {
            r["vec_id"]: (r["c_first"], r["c_last"], r["c_sum"])
            for r in q["q191b_stream_pq_encode"].fn(spark, kv_sf).collect()
        }
        assert stream == batch, kv_sf
        pqb_out[kv_sf.rsplit("/", 1)[-1]] = {
            "n_rows": len(stream),
            "stream_equals_batch": True,
        }
    out["q191b_stream_pq_encode"] = pqb_out

    # ---- q212: unigram-LM Viterbi-EM trainer — hard equality with the
    # pure-Python single-process mirror at both SFs (integer micro-log
    # quantization makes the match exact, not approximate)
    import duckdb as _duck

    from kstreamjs_spark.queries.llm import (  # noqa: E402
        _UNI_MAX_WORD,
        _unigram_mirror,
    )

    uni_out = {}
    for kv_sf in (sf, "/root/testdata/sf0.1"):
        con = _duck.connect()
        wc = {
            w: int(c)
            for w, c in con.execute(
                f"""SELECT word, COUNT(*) FROM (
                      SELECT unnest(string_split(text, ' ')) AS word
                      FROM '{kv_sf}/documents.parquet')
                    WHERE len(word) BETWEEN 1 AND {_UNI_MAX_WORD}
                    GROUP BY word"""
            ).fetchall()
        }
        _vocab, segs = _unigram_mirror(wc)
        expected = {
            (w, wc[w], len(s), " ".join(s)) for w, s in segs.items()
        }
        got = {
            (r["word"], r["word_count"], r["n_pieces"],
             r["segmentation"])
            for r in q["q212_unigram_lm_train"].fn(spark, kv_sf)
            .collect()
        }
        assert got == expected, kv_sf
        uni_out[kv_sf.rsplit("/", 1)[-1]] = {
            "n_words": len(got),
            "vocab_size": len(_vocab),
            "spark_equals_mirror": True,
        }
    out["q212_unigram_lm_train"] = uni_out

    # ---- q212b: streaming unigram application — per-doc piece counts
    # under the batch-trained final vocab equal the mirror at both SFs
    from kstreamjs_spark.queries.llm import (  # noqa: E402
        _unigram_scores,
        _unigram_viterbi,
    )

    unib_out = {}
    for kv_sf in (sf, "/root/testdata/sf0.1"):
        con = _duck.connect()
        wc = {
            w: int(c)
            for w, c in con.execute(
                f"""SELECT word, COUNT(*) FROM (
                      SELECT unnest(string_split(text, ' ')) AS word
                      FROM '{kv_sf}/documents.parquet')
                    WHERE len(word) BETWEEN 1 AND {_UNI_MAX_WORD}
                    GROUP BY word"""
            ).fetchall()
        }
        vocab_m, _segs = _unigram_mirror(wc)
        sc = _unigram_scores(vocab_m)
        expected = {}
        for doc_id, text in con.execute(
            f"SELECT doc_id, text FROM '{kv_sf}/documents.parquet'"
        ).fetchall():
            ws = text.split(" ")
            expected[doc_id] = (
                sum(len(_unigram_viterbi(w, sc)) if w else 0
                    for w in ws),
                len(ws),
            )
        got = {
            r["doc_id"]: (r["n_pieces"], r["n_words"])
            for r in q["q212b_stream_unigram_tokenize"]
            .fn(spark, kv_sf).collect()
        }
        assert got == expected, kv_sf
        unib_out[kv_sf.rsplit("/", 1)[-1]] = {
            "n_docs": len(got),
            "stream_equals_mirror": True,
        }
    out["q212b_stream_unigram_tokenize"] = unib_out

    # ---- q214: banded-SRP embedding near-dup pairs — recall/precision
    # vs the exact pairwise cosine SQL at both SFs (no false positives
    # by construction: exact verify), plus q214b's hard streaming ==
    # batch equality
    from kstreamjs_spark.queries.llm import _Q214_THRESHOLD  # noqa: E402

    emb_out = {}
    for kv_sf in (sf, "/root/testdata/sf0.1"):
        con = _duck.connect()
        exact = {
            (int(a), int(b))
            for a, b in con.execute(
                f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v
                               FROM '{kv_sf}/embeddings.parquet')
                    SELECT a.vec_id, b.vec_id
                    FROM e a JOIN e b ON a.vec_id < b.vec_id
                    WHERE ROUND(list_cosine_similarity(a.v, b.v), 6)
                          >= {_Q214_THRESHOLD}"""
            ).fetchall()
        }
        got_batch = {
            (r["v1"], r["v2"], r["score"])
            for r in q["q214_embedding_neardup_lsh"].fn(spark, kv_sf)
            .collect()
        }
        got_pairs = {(a, b) for a, b, _ in got_batch}
        assert got_pairs <= exact, kv_sf  # exact verify: no false pos
        recall = len(got_pairs & exact) / max(len(exact), 1)
        assert recall >= 0.8, (kv_sf, recall)
        got_stream = {
            (r["v1"], r["v2"], r["score"])
            for r in q["q214b_stream_embedding_neardup"].fn(spark, kv_sf)
            .collect()
        }
        assert got_stream == got_batch, kv_sf
        emb_out[kv_sf.rsplit("/", 1)[-1]] = {
            "n_exact": len(exact),
            "n_lsh_verified": len(got_pairs),
            "recall": round(recall, 4),
            "false_positives": 0,
            "stream_equals_batch": True,
        }
    out["q214_embedding_neardup_lsh"] = emb_out
    out["q214b_stream_embedding_neardup"] = emb_out

    # ---- q214 PRODUCTION REGIME: the b=16 /
    # 0.9-threshold recall claim was analytic — measure it on planted
    # exact-cosine near-dup pairs (fixture home: tests/test_llm_ops),
    # and record the candidate fraction the banding actually admits.
    import math as _math

    from tests.test_llm_ops import _planted_neardup_fixture

    prod_out = {}
    for kv_sf in (sf, "/root/testdata/sf0.1"):
        fdf, truth = _planted_neardup_fixture(
            spark, kv_sf, per_level=50
        )
        got = {
            (r["v1"], r["v2"])
            for r in similarity.cosine_neardup_pairs_lsh(
                fdf, threshold=0.9, band_bits=16, n_bands=20
            ).collect()
        }
        hit = {p for p in truth if p in got}
        per_level: dict[str, dict] = {}
        for p, lvl in truth.items():
            d = per_level.setdefault(
                f"{lvl:.2f}",
                {"n": 0, "hit": 0, "analytic_recall": None},
            )
            d["n"] += 1
            d["hit"] += 1 if p in hit else 0
        for lvl_s, d in per_level.items():
            lvl = float(lvl_s)
            p_bit = 1.0 - _math.acos(lvl) / _math.pi
            d["analytic_recall"] = round(
                1.0 - (1.0 - p_bit**16) ** 20, 4
            )
            d["measured_recall"] = round(d.pop("hit") / d["n"], 4)
        # candidate fraction: distinct (band,bsig)-collision pairs the
        # verify stage must score, over all M-choose-2 pairs
        banded = similarity.srp_banded_buckets(
            fdf, n_bands=20, band_bits=16
        )
        n_cand = (
            banded.alias("l")
            .join(
                banded.alias("r"),
                on=["band", "bsig"],
            )
            .filter(F.col("l.vec_id") < F.col("r.vec_id"))
            .select("l.vec_id", "r.vec_id")
            .distinct()
            .count()
        )
        m = fdf.count()
        prod_out[kv_sf.rsplit("/", 1)[-1]] = {
            "threshold": 0.9,
            "band_bits": 16,
            "n_bands": 20,
            "n_planted_pairs": len(truth),
            "overall_recall": round(len(hit) / len(truth), 4),
            "per_level": dict(sorted(per_level.items())),
            "n_rows": m,
            "n_candidate_pairs": n_cand,
            "candidate_fraction": round(
                n_cand / (m * (m - 1) / 2), 6
            ),
            "false_positives": 0,  # exact verify by construction
        }
    out["q214_production_regime_b16"] = prod_out

    # ---- q163: compressibility bands at BOTH scale factors, so its
    # evidence does not live only in pytest. DEFLATE has no SQL
    # restatement, so the recorded contract is (a) exact byte
    # accounting — every n_compressed equals python zlib level-6 on the
    # exact text bytes, re-verified here over the full corpus, (b) the
    # measured ratio BANDS: natural-prose corpora sit strictly inside
    # the keep gate [0.2, 0.8], and (c) the keep decision follows the
    # gate row for row. The repetition < prose < noise ordering is the
    # pytest's synthetic-regime pin; here the real corpus lands in the
    # middle band, which is the operating claim.
    import zlib as _zlib

    # measure each scale factor ONCE even when the script is invoked
    # with sf0.1 as its argument (a plain two-element tuple would run
    # the same sf twice and drop the sf0.01 row)
    both_sfs = tuple(dict.fromkeys((sf, "/root/testdata/sf0.1")))
    q163_out = {}
    for cz_sf in both_sfs:
        rows = q["q163_compressibility"].fn(spark, cz_sf).collect()
        (docs_z,) = load(spark, cz_sf, "documents")
        texts = {
            r["doc_id"]: r["text"]
            for r in docs_z.select("doc_id", "text").collect()
        }
        mismatches = sum(
            1
            for r in rows
            if len(_zlib.compress(texts[r["doc_id"]].encode("utf-8"), 6))
            != r["n_compressed"]
        )
        ratios = sorted(r["comp_ratio"] for r in rows)
        q163_out[cz_sf.rsplit("/", 1)[-1]] = {
            "n_docs": len(rows),
            "byte_accounting_mismatches": mismatches,
            "min_ratio": round(ratios[0], 4),
            "median_ratio": round(ratios[len(ratios) // 2], 4),
            "max_ratio": round(ratios[-1], 4),
            "n_dropped_low": sum(1 for r in rows if r["comp_ratio"] < 0.2),
            "n_dropped_high": sum(1 for r in rows if r["comp_ratio"] > 0.8),
            "keep_follows_gate": all(
                r["keep"] == (0.2 <= r["comp_ratio"] <= 0.8)
                for r in rows
            ),
        }
    out["q163_compressibility"] = q163_out

    # ---- q218: NN-Descent graph recall vs the exact all-pairs k-NN
    # graph (q58's computation with every node as a query) at BOTH
    # scale factors. The computation itself is deterministic and
    # hash-matched by the unrolled-CTE oracle; what is APPROXIMATE is
    # the GRAPH vs the true k-NN graph — exploration is bounded by
    # N*(2k)^2*iters candidate cosines, so recall tracks the coverage
    # fraction (the uniform synthetic corpus is the structureless
    # worst case; the clustered corpus below is the regime the
    # operator exists for). Shipped config k=20, iters=8; the sweep
    # rows document the knobs (k=5 starves the descent, fewer rounds
    # trade recall for wall).
    from kstreamjs_spark.queries.pipeline import _Q218_ITERS, _Q218_K

    def _graph_recall(vectors, k, iters):
        qall = vectors.select(
            F.col("vec_id").alias("qid"),
            similarity.as_double(F.col("embedding")).alias("qv"),
        )
        ex = {
            (r["qid"], r["vec_id"])
            for r in similarity.knn_join(vectors, qall, k=k).collect()
        }
        ap = {
            (r["src"], r["dst"])
            for r in similarity.nn_descent(
                vectors, k=k, iters=iters
            ).collect()
        }
        return round(len(ex & ap) / len(ex), 4)

    out["q218_nn_descent_knn_graph"] = {
        "k": _Q218_K,
        "iters": _Q218_ITERS,
        "graph_recall_vs_exact": _graph_recall(emb, _Q218_K, _Q218_ITERS),
        **(
            {
                "graph_recall_vs_exact_sf0.1": _graph_recall(
                    load(spark, "/root/testdata/sf0.1", "embeddings")[0],
                    _Q218_K,
                    _Q218_ITERS,
                )
            }
            if len(both_sfs) > 1
            else {}
        ),
        "sweep_uniform_sf0.01": {
            "k5_iters3": _graph_recall(emb, 5, 3),
            "k20_iters4": _graph_recall(emb, _Q218_K, 4),
        },
        # the q159 clustered corpus (16 centers, sigma .05, 10% dups):
        # the structured regime a graph build exists for
        "clustered_16c_recall": _graph_recall(cdf, _Q218_K, _Q218_ITERS),
    }

    # ---- q219: graph-ANN beam search — TIE-AWARE search recall vs the
    # exact top-10 (a hit = kept item whose rounded score >= the exact
    # 10th rounded score; id-set recall double-counts rounding ties —
    # in the clustered regime the 10th/11th items round identically and
    # either is a correct answer). The walk is deterministic and
    # hash-matched by the q219 unrolled-CTE oracle; what is measured
    # here is the WALK vs the true top-k. The sweep row documents the
    # knob: the shipped beam=16/hops=4 reaches 1.0 everywhere, the
    # narrower beam=12/hops=3 drops to 0.84 at sf0.1 (uniform data is
    # the gradient-free worst case for greedy graph search).
    from kstreamjs_spark.queries.pipeline import (
        _Q219_BEAM,
        _Q219_ENTRIES,
        _Q219_HOPS,
        _Q219_K,
        _Q219_NQ,
    )

    def _search_recall(vectors, beam, hops):
        qsb = vectors.filter(F.col("vec_id") < _Q219_NQ).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        kth: dict = {}
        for r in similarity.knn_join(vectors, qsb, k=_Q219_K).collect():
            s = round(r["score"], 6)
            kth[r["qid"]] = min(kth.get(r["qid"], 2.0), s)
        gg = similarity.nn_descent(
            vectors, k=_Q218_K, iters=_Q218_ITERS
        ).drop("rn")
        vv = vectors.select(
            F.col("vec_id").alias("node"), F.col("embedding").alias("vec")
        )
        # exclude_self: queries ARE corpus nodes, so
        # without it the walk's guaranteed self-hit at score 1.0 would
        # inflate recall by up to 1/k per query — the exact side
        # (knn_join) already excludes self
        kept = similarity.graph_ann_topk(
            gg, vv, qsb, k=_Q219_K, beam=beam, hops=hops,
            n_entries=_Q219_ENTRIES, exclude_self=True,
        ).collect()
        hits = sum(
            1 for r in kept if round(r["score"], 6) >= kth[r["qid"]]
        )
        return round(hits / (_Q219_NQ * _Q219_K), 4)

    out["q219_graph_ann_beam_search"] = {
        "beam": _Q219_BEAM,
        "hops": _Q219_HOPS,
        "entries": _Q219_ENTRIES,
        "tie_aware_recall_vs_exact": _search_recall(
            emb, _Q219_BEAM, _Q219_HOPS
        ),
        **(
            {
                "tie_aware_recall_vs_exact_sf0.1": _search_recall(
                    load(spark, "/root/testdata/sf0.1", "embeddings")[0],
                    _Q219_BEAM,
                    _Q219_HOPS,
                ),
                "sweep_beam12_hops3_sf0.1": _search_recall(
                    load(spark, "/root/testdata/sf0.1", "embeddings")[0],
                    12,
                    3,
                ),
            }
            if len(both_sfs) > 1
            else {}
        ),
        "clustered_16c_recall": _search_recall(
            cdf, _Q219_BEAM, _Q219_HOPS
        ),
    }

    # ---- q219c: FILTERED graph-ANN search — tie-aware recall vs the
    # exact label-restricted top-10. The sweep documents the
    # oversearch rule (beam ~ k/selectivity): q219's unfiltered
    # beam=16 pool is too small for a 10%-selective predicate.
    from kstreamjs_spark.queries.pipeline import (
        _Q219C_BEAM,
        _Q219C_ENTRIES,
        _Q219C_HOPS,
        _Q219C_LABEL,
    )

    def _filtered_recall(vectors, beam, hops, entries):
        qsb = vectors.filter(F.col("vec_id") < _Q219_NQ).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        lab = vectors.filter(F.col("label") == _Q219C_LABEL)
        kth: dict = {}
        for r in similarity.knn_join(lab, qsb, k=_Q219_K).collect():
            s = round(r["score"], 6)
            kth[r["qid"]] = min(kth.get(r["qid"], 2.0), s)
        gg = similarity.nn_descent(
            vectors, k=_Q218_K, iters=_Q218_ITERS
        ).drop("rn")
        vv = vectors.select(
            F.col("vec_id").alias("node"),
            F.col("embedding").alias("vec"),
            (F.col("label") == _Q219C_LABEL).alias("keep"),
        )
        kept = similarity.graph_ann_topk(
            gg, vv, qsb, k=_Q219_K, beam=beam, hops=hops,
            n_entries=entries, filter_col="keep", exclude_self=True,
        ).collect()
        hits = sum(
            1 for r in kept if round(r["score"], 6) >= kth[r["qid"]]
        )
        return round(hits / (_Q219_NQ * _Q219_K), 4)

    out["q219c_graph_ann_filtered_search"] = {
        "beam": _Q219C_BEAM,
        "hops": _Q219C_HOPS,
        "entries": _Q219C_ENTRIES,
        "selectivity": "~0.1 (label == 3)",
        "tie_aware_recall_vs_exact": _filtered_recall(
            emb, _Q219C_BEAM, _Q219C_HOPS, _Q219C_ENTRIES
        ),
        **(
            {
                "tie_aware_recall_vs_exact_sf0.1": _filtered_recall(
                    load(spark, "/root/testdata/sf0.1", "embeddings")[0],
                    _Q219C_BEAM,
                    _Q219C_HOPS,
                    _Q219C_ENTRIES,
                ),
                "sweep_beam16_sf0.1": _filtered_recall(
                    load(spark, "/root/testdata/sf0.1", "embeddings")[0],
                    16,
                    4,
                    4,
                ),
            }
            if len(both_sfs) > 1
            else {}
        ),
    }

    # ---- q219b: streaming kNN-graph maintenance — recall of the
    # MAINTAINED index (batch seed on the first half + search-then-link
    # insert of the streamed second half) vs the exact all-pairs k=20
    # graph, overall and restricted to the inserted half. The
    # refine_rounds sweep documents the load-bearing knob: with NO
    # link-then-refine round, same-trigger arrivals cannot reach each
    # other and the inserted-half recall collapses (the worst case
    # here — HALF the corpus arrives in ONE trigger — is far harsher
    # than production's trigger<<index regime). At the shipped
    # rounds=2 the maintained index matches the batch-built q218
    # graph's recall at the same SF; with both-lists refinement edges
    # and the beam >= k clamp it BEATS it (0.949 vs 0.903 at sf0.1).
    from kstreamjs_spark.queries.streaming_q import (
        _Q219B_REFINE,
        knn_graph_insert_stream,
    )
    from kstreamjs_spark.streaming.replay import stream_table

    def _insert_recall(sf_dir, rounds):
        vecs = load(spark, sf_dir, "embeddings")[0]
        half = vecs.count() // 2
        qall = vecs.select(
            F.col("vec_id").alias("qid"),
            similarity.as_double("embedding").alias("qv"),
        )
        ex = {
            (r["qid"], r["vec_id"])
            for r in similarity.knn_join(vecs, qall, k=20).collect()
        }
        ap = {
            (r["src"], r["dst"])
            for r in knn_graph_insert_stream(
                stream_table(spark, sf_dir, "embeddings"),
                vecs.filter(F.col("vec_id") < half),
                refine_rounds=rounds,
            ).collect()
        }
        exh = {(a, b) for a, b in ex if a >= half}
        aph = {(a, b) for a, b in ap if a >= half}
        return {
            "overall": round(len(ex & ap) / len(ex), 4),
            "inserted_half": round(len(exh & aph) / len(exh), 4),
        }

    out["q219b_stream_knn_graph_insert"] = {
        "refine_rounds": _Q219B_REFINE,
        "recall": _insert_recall(sf, _Q219B_REFINE),
        "sweep_rounds0": _insert_recall(sf, 0),
        **(
            {
                "recall_sf0.1": _insert_recall(
                    "/root/testdata/sf0.1", _Q219B_REFINE
                )
            }
            if len(both_sfs) > 1
            else {}
        ),
    }

    # ---- q232: ICWS weighted-MinHash — recall vs the EXACT weighted
    # Jaccard pair set (q231; same threshold, same source-blocked
    # universe). Precision is 1.0 by construction (every candidate is
    # exact-verified before emission — the q26d/q205b pattern), so
    # extras are asserted zero rather than measured.
    def _q232_vs_exact(sf_dir):
        ex = {
            (r["d1"], r["d2"])
            for r in q["q231_weighted_jaccard_neardup"].fn(
                spark, sf_dir
            ).collect()
        }
        ap = {
            (r["d1"], r["d2"])
            for r in q["q232_weighted_minhash_neardup"].fn(
                spark, sf_dir
            ).collect()
        }
        return {
            "n_exact": len(ex),
            "n_sketch": len(ap),
            "recall": round(len(ex & ap) / max(len(ex), 1), 4),
            "n_unverified_extras": len(ap - ex),
        }

    out["q232_weighted_minhash_neardup"] = {
        "k": 16,
        "bands": "8x2",
        "vs_exact_q231": _q232_vs_exact(sf),
        **(
            {
                "vs_exact_q231_sf0.1": _q232_vs_exact(
                    "/root/testdata/sf0.1"
                )
            }
            if len(both_sfs) > 1
            else {}
        ),
    }

    # ---- q232b: the streaming twin's HARD equality — the shared
    # projection + schedule-invariant bucket emitter + one-home verify
    # must reproduce batch q232 bit for bit
    bset = sorted(
        tuple(r)
        for r in q["q232_weighted_minhash_neardup"].fn(spark, sf).collect()
    )
    sset = sorted(
        tuple(r)
        for r in q["q232b_stream_weighted_minhash"].fn(spark, sf).collect()
    )
    out["q232b_stream_weighted_minhash"] = {
        "stream_equals_batch": bset == sset,
        "n_pairs": len(bset),
    }

    doc = {
        "sf_dir": sf,
        "note": (
            "evidence for the oracle=None approximate queries: each "
            "measured against its exact counterpart on the same parquet"
        ),
        "queries": out,
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(json.dumps(doc, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
