"""Repository benchmark: one workload per run, end-to-end metrics with
tracing off, per-layer metrics with `--trace 1`.

    python3 perfbench/run.py --workload batch_similarity --seed 1 --seconds 12 --trace 0

Run it from the repository root. The last line of stdout is the result:
`{"correct", "attempted", "failed", "metrics"}`. The line before it is the
run record: host stamp, seed, sample counts and per-operation details.
Everything the run writes goes under `.perfbench/` in the working
directory. See perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import astuple, dataclass

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
LOAD_GATE = 2.0  # 1-minute loadavg above which a run is flagged
# Per workload: untimed warm-up passes after the cold one, and the nominal
# length of a timed pass. A run then makes max(1, round(seconds / nominal))
# timed passes: a count fixed by --seconds, not a clock, so every run does
# the same work whatever the host's speed. batch_similarity's first warm
# pass still runs code the JIT has not finished compiling and spreads more
# than the later ones, so it is left untimed.
SCHEDULE = {
    "stream_window": (0, 6.0),
    "batch_similarity": (1, 4.0),
}
EVENTS = 30_000  # stream_window backlog
FILES_PER_SOURCE = 8
FILES_PER_TRIGGER = 2  # per source, so each trigger reads 4 small files

BATCH = {
    "batch_similarity": (
        "q26d_minhash_verify", "q56_dup_clusters",
    ),
}
WORKLOADS = tuple(SCHEDULE)


@dataclass(frozen=True)
class Cost:
    """A reading of wall and CPU seconds, or the difference of two. `cpu`
    is the engine's CPU time: that of this process and its children (the
    Spark JVM, its Python workers and the helper processes it starts),
    less the JVM's JIT compiler threads (`jit`), its garbage-collector
    threads (`gc`) and the sampler's own reads of /proc."""

    wall: float
    cpu: float
    jit: float
    gc: float

    def __add__(self, other: Cost) -> Cost:
        return Cost(*(a + b for a, b in zip(astuple(self), astuple(other))))

    def __sub__(self, other: Cost) -> Cost:
        return Cost(*(a - b for a, b in zip(astuple(self), astuple(other))))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One benchmark process: a Spark session, a workload and its checks."""

    def __init__(self, args, work: str) -> None:
        from kstreamjs_spark.session import get_spark
        from layers import ProcSampler, Tracer, wrap_plan_helpers

        self.args, self.work = args, work
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        wrap_plan_helpers(self.tracer)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.closed = False
        self.log_dir = os.path.join(work, "eventlog")
        os.makedirs(self.log_dir)
        self.procs = ProcSampler()
        self.procs.start()
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
            f"-Dderby.system.home={work}",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        if args.trace:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        c0 = self.clock()
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        self.start = self.clock() - c0

    def clock(self) -> Cost:
        c = self.procs.cpu()
        engine = c["total"] - c["jit"] - c["gc"] - self.procs.overhead_s
        return Cost(time.perf_counter(), engine, c["jit"], c["gc"])

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for every child to exit."""
        from pyspark import SparkContext
        from layers import descendants

        if self.closed:
            return
        self.closed = True
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        self.procs.stop()


# ------------------------------------------------------------ batch
class BatchWorkload:
    def __init__(self, run: Run, names: tuple[str, ...]) -> None:
        from kstreamjs_spark.queries import all_queries

        self.run = run
        registry = all_queries()
        self.specs = [registry[n] for n in names]
        self.rng = random.Random(run.args.seed)
        self.oracle = self._oracles()

    def _oracles(self) -> dict:
        """DuckDB answers in canonical form, computed once per run with
        DuckDB held to the run's cpu count."""
        from kstreamjs_spark.testing import canon_pdf, duck_connection

        con = duck_connection(DATA_DIR)
        con.execute(f"SET threads TO {self.run.cpus}")
        out = {}
        for spec in self.specs:
            pdf = con.execute(spec.oracle).df()
            out[spec.name] = (sorted(pdf.columns), len(pdf), canon_pdf(pdf))
        con.close()
        return out

    def _step(self, label: str, phase: str, name: str):
        """A span around one phase of a query; when tracing, its Spark jobs
        also get the job group `label:phase:name`."""
        if self.run.tracer.enabled:
            self.run.spark.sparkContext.setJobGroup(f"{label}:{phase}:{name}", name)
        return self.run.tracer.span(f"queries.{phase}", query=name)

    def one_pass(self, label: str) -> tuple[Cost, list[float], dict]:
        """Build and collect every query once, in a seeded order. Returns
        the pass's cost, per-query wall times and the collected rows."""
        spark = self.run.spark
        order = list(self.specs)
        self.rng.shuffle(order)
        times, results = [], {}
        start = self.run.clock()
        for spec in order:
            t0 = time.perf_counter()
            try:
                with self._step(label, "build", spec.name):
                    df = spec.fn(spark, DATA_DIR)
                with self._step(label, "collect", spec.name):
                    rows = df.collect()
                results[spec.name] = (df.columns, rows)
            except Exception as exc:  # a failed query is a failed operation
                results[spec.name] = exc
            times.append(time.perf_counter() - t0)
        cost = self.run.clock() - start
        if self.run.tracer.enabled:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return cost, times, results

    def verify(self, results: dict) -> None:
        import pandas as pd
        from kstreamjs_spark.testing import canon_pdf

        for name, got in results.items():
            if isinstance(got, Exception):
                self.run.check(False, f"{name}: {got!r}"[:300])
                continue
            cols, rows = got
            pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
            want_cols, want_n, want = self.oracle[name]
            self.run.check(
                sorted(cols) == want_cols and len(pdf) == want_n and canon_pdf(pdf) == want,
                f"{name}: result differs from its oracle",
            )

    def timed_pass(self, label: str) -> tuple[Cost, list[float]]:
        """One checked pass: its cost and per-query wall times in ms."""
        cost, times, res = self.one_pass(label)
        self.verify(res)
        return cost, [t * 1e3 for t in times]

    def layers(self) -> dict:
        """Cold pass, an untraced warm pass, the traced pass and another
        untraced one. Returns the traced pass's layers."""
        from layers import PLAN_HELPERS, forks, read_event_log, spark_layers

        self.timed_pass("cold")
        before = self.timed_pass("untraced0")[0].wall
        tracer, forks0 = self.run.tracer, forks()
        tracer.enabled = True
        cost = self.timed_pass("traced")[0]
        wall = cost.wall
        tracer.enabled = False
        n_forks = forks() - forks0
        # Bracket the traced pass so warm-up drift cancels out.
        untraced = (before + self.timed_pass("untraced1")[0].wall) / 2
        self.run.close()
        events = read_event_log(self.run.log_dir)
        names = [s.name for s in self.specs]
        build = {f"traced:build:{n}" for n in names}
        collect = {f"traced:collect:{n}" for n in names}
        lay = spark_layers(events, build | collect, self.run.cpus, wall)
        lay["queries.build_jobs"] = spark_layers(events, build, self.run.cpus, 0)["spark.jobs"]
        for phase in ("build", "collect"):
            lay[f"queries.{phase}_s"] = sum(
                s.end - s.start for s in tracer.spans if s.name == f"queries.{phase}"
            )
        for h in PLAN_HELPERS:
            hs = [s for s in tracer.spans if s.name == f"plans.{h}"]
            lay[f"plans.{h}_calls"] = len(hs)
            lay[f"plans.{h}_s"] = sum(s.end - s.start for s in hs)
        lay["host.forks"] = n_forks
        lay["jvm.jit_cpu_s"], lay["jvm.gc_cpu_s"] = cost.jit, cost.gc
        lay["trace.overhead_s"] = wall - untraced
        return lay


# ------------------------------------------------------------ stream
class StreamWorkload:
    def __init__(self, run: Run) -> None:
        import streamgen

        self.run = run
        self.backlog = streamgen.generate(
            run.args.seed, EVENTS, FILES_PER_SOURCE, FILES_PER_TRIGGER,
            os.path.join(run.work, "input"),
        )
        self.ref = streamgen.reference(self.backlog)
        self.n_drains = 0

    def pipeline(self):
        """union -> filter -> map -> window -> parquet sink, through the
        `Stream` facade."""
        import pyspark.sql.functions as F
        from kstreamjs_spark import Stream

        import streamgen

        spark = self.run.spark
        a, b = (
            Stream.from_dataframe(
                spark.readStream.schema(streamgen.SPARK_SCHEMA)
                .option("maxFilesPerTrigger", str(self.backlog.files_per_trigger))
                .parquet(src)
            )
            for src in self.backlog.sources
        )
        return (
            a.union(b)
            .filter(F.col("value") >= 0)
            .map(amount=streamgen.amount(F.col("value")))
            .window(
                interval_ms=3_600_000,
                buffer_interval_ms=60_000,
                aggs={
                    "n": F.count("*"),
                    "amount": F.sum("amount"),
                    "max_user": F.max("user_id"),
                },
                keys=["event_type"],
            )
        )

    def drain(self) -> dict:
        """Start the query, process the whole backlog, stop, and check the
        sink. Returns the drain wall time, its progress reports, run id,
        sink path and late-row count."""
        tracer = self.run.tracer
        i = self.n_drains
        self.n_drains += 1
        sink = os.path.join(self.run.work, f"sink{i}")
        ckpt = os.path.join(self.run.work, f"ckpt{i}")
        d = {"progress": [], "run_id": None, "sink": sink, "late_rows": 0}
        start = self.run.clock()
        try:
            with tracer.span("stream.build"):
                stream = self.pipeline()
            with tracer.span("stream.start"):
                handle = stream.write_to(sink, "parquet", checkpointLocation=ckpt)
            try:
                with tracer.span("stream.drain"):
                    handle.query.processAllAvailable()
                d["cost"] = self.run.clock() - start
                d["progress"] = [json.loads(p.json) for p in handle.query.recentProgress]
                d["run_id"] = str(handle.query.runId)
            finally:
                with tracer.span("stream.stop"):
                    handle.stop()
        except Exception as exc:  # a failed drain is a failed operation
            d["cost"] = self.run.clock() - start
            self.run.check(False, f"drain into {sink}: {exc!r}"[:300])
            return d
        self.verify(d)
        return d

    def verify(self, d: dict) -> None:
        """Compare the sink with the reference's windows, and the late rows
        seen from outside with the reference's count. Late rows are the
        rows that pass the filter, minus the rows counted in the sink,
        minus the rows whose window Spark's final watermark (from its last
        progress report) leaves open."""
        import pandas as pd

        import streamgen

        try:
            got = streamgen.read_sink(d["sink"])
            watermark = d["progress"][-1]["eventTime"]["watermark"]
            wm_us = pd.Timestamp(watermark).value // 1000
            d["late_rows"] = (
                self.ref.input_rows - int(got["n"].sum())
                - streamgen.open_rows(self.backlog, wm_us)
            )
            ok = got.equals(self.ref.windows) and d["late_rows"] == self.ref.late_rows
        except (OSError, ValueError, KeyError, IndexError) as exc:
            ok = False
            self.run.problems.append(repr(exc)[:300])
        self.run.check(ok, f"drain into {d['sink']}: windows or late rows differ from the reference")

    def timed_pass(self, label: str) -> tuple[Cost, list[float]]:
        """One checked drain: its cost and per-trigger times in ms. A drain
        that failed counts as one operation of its wall time."""
        from layers import trigger_ms

        d = self.drain()
        return d["cost"], trigger_ms(d["progress"]) or [d["cost"].wall * 1e3]

    def layers(self) -> dict:
        """Cold drain, an untraced warm drain, the traced drain and another
        untraced one. Returns the traced drain's layers."""
        from layers import forks, read_event_log, sink_layers, spark_layers, streaming_layers

        self.drain()
        before = self.drain()["cost"].wall
        tracer, forks0 = self.run.tracer, forks()
        tracer.enabled = True
        d = self.drain()
        cost = d["cost"]
        tracer.enabled = False
        n_forks = forks() - forks0
        # Bracket the traced drain so warm-up drift cancels out.
        untraced = (before + self.drain()["cost"].wall) / 2
        self.run.close()
        events = read_event_log(self.run.log_dir)
        lay = spark_layers(events, {d["run_id"]}, self.run.cpus, cost.wall)
        lay |= streaming_layers(d["progress"], cost.wall)
        lay |= sink_layers(d["sink"])
        lay["streaming.late_rows"] = d["late_rows"]
        lay["host.forks"] = n_forks
        lay["jvm.jit_cpu_s"], lay["jvm.gc_cpu_s"] = cost.jit, cost.gc
        lay["trace.overhead_s"] = cost.wall - untraced
        return lay


# ------------------------------------------------------------ main
def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the `end_to_end` or `per_layer` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main(argv=None) -> int:
    args = parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path[:0] = [HERE, ROOT]
    load_start = os.getloadavg()[0]
    run = None
    try:
        run = Run(args, work)
        workload = (
            StreamWorkload(run) if args.workload == "stream_window"
            else BatchWorkload(run, BATCH[args.workload])
        )
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": run.cpus, "nproc": run.cpus,
            "loadavg_1m_start": load_start, "load_gate": LOAD_GATE,
            "load_contaminated": load_start > LOAD_GATE,
        }
        if args.trace:
            units = metric_units("per_layer")
            # Layers a workload does not run through read 0.
            metrics = dict.fromkeys(units, 0) | workload.layers()
            metrics["session.start_s"] = run.start.wall
            metrics["failed_ratio"] = run.failed / max(run.attempted, 1)
        else:
            from layers import quantile, steal_s

            setup = run.start + workload.timed_pass("cold")[0]
            warmup, nominal_s = SCHEDULE[args.workload]
            for i in range(warmup):
                workload.timed_pass(f"warmup{i}")
            costs, ops = [], []
            steal0 = steal_s()
            for i in range(max(1, round(args.seconds / nominal_s))):
                cost, op_ms = workload.timed_pass(f"warm{i}")
                costs.append(cost)
                ops.extend(op_ms)
            steal = steal_s() - steal0
            run.close()
            metrics = {
                "setup_s": setup.cpu,
                "pass_cpu_s": statistics.median(c.cpu for c in costs),
            }
            # Wall times follow the host's load (see the README), the p90
            # has too few operations above it to be gated, and peak RSS
            # follows JVM heap growth, so these go into the record only,
            # with the CPU time the hypervisor took from this VM while the
            # timed passes ran.
            record |= {
                "setup": astuple(setup), "warm_passes": [astuple(c) for c in costs],
                "steal_s": steal, "sampler_cpu_s": run.procs.overhead_s, "ops": len(ops),
                "op_p50_ms": quantile(ops, 50), "op_p90_ms": quantile(ops, 90),
                "op_geomean_ms": statistics.geometric_mean(ops),
                "peak_rss_mb": run.procs.peak_bytes / 2**20,
            }
            if args.workload == "stream_window":
                record["rows_per_s"] = EVENTS / statistics.median(c.wall for c in costs)
            units = metric_units("end_to_end")
        record |= {"loadavg_1m_end": os.getloadavg()[0], "problems": run.problems}
        if args.trace:
            run.tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}.json"))
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(work, ignore_errors=True)
    if record["load_contaminated"]:
        print(f"WARNING: run started at loadavg {load_start:.2f} > gate {LOAD_GATE}",
              file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
