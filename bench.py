"""Bench harness: runs the headline queries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test data) on local[$SPARK_GRAFT_CPUS] (default: the CPUs this
process may run on) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The line is a same-host paired protocol: every headline query is
measured on BOTH sides — engine (Spark, warm, min-of-N) AND oracle
(DuckDB 32-thread, warm, min-of-N) — in one process on one host back to
back, so deltas between runs need no adjudication of host drift. The
schema keys (metric/value/unit/queries/sf) are unchanged and still carry
the engine numbers; the oracle column and the protocol stamp ride
alongside. Set SPARK_GRAFT_BENCH_ORACLE=0 to skip the oracle side.

Timing includes full execution + collect of each query's (small) result.
A warmup pass amortizes JVM/codegen startup out of the numbers, matching
how a long-lived cluster actually behaves; min-of-N filters GC/contention
jitter (this box's wall-clock is ±40% under load — the event-log
task-seconds in SCALE.md carry the scaling claims, this file carries the
same-host ratio).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kstreamjs_spark.queries import all_queries  # noqa: E402
from kstreamjs_spark.session import default_cpus, get_spark  # noqa: E402


def _min_of(fn, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    with_oracle = os.environ.get("SPARK_GRAFT_BENCH_ORACLE", "1") != "0"
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None
    qs = all_queries()
    specs = {n: s for n, s in qs.items() if s.bench}
    load_start = round(os.getloadavg()[0], 2)

    # ---- oracle side first, then the engine on the same host:
    # DuckDB 32 threads, warm, min-of-N. Rows-only bench queries get an
    # oracle column ONLY through an EXPLICIT proxy (q26b has always been
    # compared against the exact near-dup SQL it approximates); any
    # other oracle-less bench query is recorded as no_oracle rather than
    # silently timed against an unrelated workload.
    _ORACLE_PROXY = {"q26b_minhash_neardup": "q26d_minhash_verify"}
    # Queries tagged "closed_form_oracle": their DuckDB texts RESTATE the
    # expected answer arithmetically (the doc_id//3 group join, or the
    # manifest of a written layout) and perform none of the engine's work
    # (media encode/decode + pHash, file writes and compaction). An
    # engine/oracle ratio there is meaningless in both directions, so
    # these rows keep their engine AND oracle seconds in the record but
    # are EXCLUDED from the like-with-like ratio sums, exactly as
    # rows-only queries are excluded for the opposite reason. The
    # exclusion is reported, not silently blended.
    closed_form = {n for n, s in specs.items() if "closed_form_oracle" in s.tags}
    oracle: dict[str, float] = {}
    no_oracle: list[str] = []
    if with_oracle:
        from kstreamjs_spark.testing import duck_connection

        con = duck_connection(sf_dir)
        con.execute("SET threads TO 32")
        for name in sorted(specs):
            sql = specs[name].oracle
            if sql is None:
                proxy = _ORACLE_PROXY.get(name)
                if proxy is None:
                    no_oracle.append(name)
                    continue
                sql = qs[proxy].oracle
            con.execute(sql).fetchall()  # warm (buffer pool + plan)
            oracle[name] = _min_of(lambda: con.execute(sql).fetchall(), runs)

    # ---- engine side: warm every query once (codegen compile +
    # file-index caches), then min-of-N steady-state — a long-lived
    # cluster compiles plans once and runs them thousands of times;
    # cold-start numbers would measure the JIT, not the engine.
    # Load is re-stamped HERE so before/after brackets the ENGINE
    # measurement (the oracle loop above is the bench's own work, not
    # external drift).
    load_before = round(os.getloadavg()[0], 2)
    spark = get_spark("kstreamjs-bench", cpus=cpus)
    for name, spec in sorted(specs.items()):
        spec.fn(spark, sf_dir).collect()
    timings: dict[str, float] = {}
    for name, spec in sorted(specs.items()):
        timings[name] = _min_of(lambda: spec.fn(spark, sf_dir).collect(), runs)
    load_after = round(os.getloadavg()[0], 2)

    total = round(sum(timings.values()), 3)
    # Load gate: wall numbers from a loaded host measure contention, not
    # plans. A bench that starts above the threshold is stamped
    # contaminated so downstream readers discount the wall column
    # instead of adjudicating host drift from prose.
    # Gate on load at PROCESS START only: load_before is stamped right
    # after the bench's own 32-thread DuckDB loop, so it reflects the
    # bench's work, not external drift (per the note above).
    load_gate = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0"))
    contaminated = load_start > load_gate
    if contaminated:
        print(
            f"WARNING: bench started at loadavg {load_start}"
            f" > gate {load_gate}; wall numbers are contention-contaminated",
            file=sys.stderr,
        )
    doc = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "runs_per_query": runs,
        "loadavg_1m_start": load_start,
        "loadavg_1m_before": load_before,
        "loadavg_1m_after": load_after,
        "load_gate": load_gate,
        "load_contaminated": contaminated,
    }
    if with_oracle:
        # the ratio compares like with like: engine seconds summed over
        # exactly the queries whose oracle performs equivalent WORK —
        # closed-form-oracle rows are recorded but excluded (see
        # closed_form above)
        ratio_names = [n for n in oracle if n not in closed_form]
        ot = round(sum(oracle[n] for n in ratio_names), 3)
        et = round(sum(timings[n] for n in ratio_names), 3)
        doc.update(
            {
                "protocol": "same_host_engine_vs_oracle",
                "oracle_queries": oracle,
                "oracle_total_s": ot,
                "no_oracle_queries": no_oracle,
                "closed_form_oracle_queries": sorted(
                    n for n in oracle if n in closed_form
                ),
                # closed-form rows reported as absolute engine wall:
                # they measure work DuckDB does not perform, so their
                # honest record is seconds, not a ratio
                "closed_form_engine_total_s": round(
                    sum(timings[n] for n in oracle if n in closed_form), 3
                ),
                "duckdb_threads": 32,
                "engine_vs_oracle_ratio": round(et / ot, 3) if ot else None,
            }
        )
    line = json.dumps(doc)
    print(line)
    # The printed one-line JSON stays the driver contract, but a captured
    # stdout can truncate the line — so when the caller sets
    # SPARK_GRAFT_BENCH_OUT the same doc is ALSO written to that file
    # (additive; nothing reads it back, it only survives a truncated
    # stdout capture).
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path:
        try:
            with open(out_path, "w") as fh:
                fh.write(line + "\n")
        except OSError as exc:  # never fail the bench over the side file
            print(f"WARNING: could not write {out_path}: {exc}", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
