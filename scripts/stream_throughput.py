"""Sustained streaming throughput at sf1-equivalent scale — noise-robust
protocol (round-8 verdict #3).

Round 6 measured 72.7k rows/s and round 7 measured ~50k on an untouched
code path — exactly the wall-clock-noise class the q26 century profile
retired for batch by switching to event-log task metrics. This script
applies the same discipline to streaming:

- Materializes events x MULT (default 10x sf0.1 = 1M rows — the sf1 row
  count) as MANY parquet files, replays them through the q29 shape
  (watermark + 1h tumbling window + count/sum) with maxFilesPerTrigger
  throttling so the run executes a real MULTI-batch schedule (state
  store reuse, incremental planning, watermark advance across batches).
- Repeats the replay N times (fresh checkpoint each run, same session)
  and reports, per run, THREE rates:
    wall        rows / end-to-end wall  (the old, noisy figure)
    busy        rows / sum of per-batch triggerExecution durations from
                the StreamingQueryProgress feed — excludes inter-batch
                scheduling gaps and driver idle, the dominant noise term
    per-task-s  rows / total executor task-seconds from the Spark event
                log — the host-load-independent work measure (the
                century-profile protocol); >1x cores x busy-rate means
                parallel speedup, and it is stable when the box is not
- Prints min/median across runs for each; `busy` median is the headline
  figure BASELINE.md carries.

Usage: python scripts/stream_throughput.py [sf_dir] [mult] [files] [per_trigger] [runs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from kstreamjs_spark.session import configure_runtime  # noqa: E402
from perfbench.layers import read_event_log, spark_layers  # noqa: E402

EVDIR = "/tmp/spark-events-streamtp"


def build_session() -> SparkSession:
    os.makedirs(EVDIR, exist_ok=True)
    b = (
        SparkSession.builder.appName("stream-throughput")
        .master("local[32]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", EVDIR)
        # one plain JSON file, the form read_event_log parses
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        # recentProgress keeps only the newest N updates (default 100);
        # busy_ms sums over it, so a run with more batches than the
        # retention would silently undercount busy time and inflate
        # busy_rate. Size the buffer far above any argument combination.
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    )
    spark = b.getOrCreate()
    configure_runtime(spark)
    return spark


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_files = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    per_trigger = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    runs = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    shutil.rmtree(EVDIR, ignore_errors=True)
    spark = build_session()
    from kstreamjs_spark.tables import load

    (events,) = load(spark, sf, "events")
    big = events
    for i in range(1, mult):
        big = big.unionByName(
            events.withColumn("event_id", F.col("event_id") + i * 100_000_000)
            .withColumn("user_id", F.col("user_id") + i * 100_000_000)
        )

    workdir = tempfile.mkdtemp(prefix="stream_tp_")
    data_dir = f"{workdir}/events"
    big.repartition(n_files).write.mode("overwrite").parquet(data_dir)
    n_rows = spark.read.parquet(data_dir).count()
    schema = spark.read.parquet(data_dir).schema

    results, run_ids = [], set()
    for run in range(runs):
        ckpt = f"{workdir}/ckpt{run}"
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(per_trigger))
            .parquet(data_dir)
        )
        agg = (
            sdf.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
        )
        t0 = time.perf_counter()
        q = (
            agg.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        run_ids.add(str(q.runId))
        if len(q.recentProgress) >= 100000:
            raise RuntimeError(
                "recentProgress saturated its retention buffer — busy_ms "
                "would undercount; raise numRecentProgressUpdates"
            )
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        busy_ms = sum(
            p["durationMs"].get("triggerExecution", 0) for p in progress
        )
        results.append({
            "run": run,
            "wall_s": round(wall, 2),
            "busy_s": round(busy_ms / 1000, 2),
            "batches": len(progress),
            "wall_rate": round(n_rows / wall),
            "busy_rate": round(n_rows / (busy_ms / 1000)),
            "loadavg_1m": round(os.getloadavg()[0], 2),
        })
        print(json.dumps(results[-1]), flush=True)

    spark.stop()
    time.sleep(2)

    # Event-log task-seconds of the replays' jobs (a streaming query runs
    # its micro-batches under its run id as job group) — divide by runs
    # for the per-replay figure.
    lay = spark_layers(read_event_log(EVDIR), run_ids, 1, 0)
    task_s, gc_s = lay["spark.task_run_s"], lay["spark.gc_s"]
    per_run_task_s = task_s / runs if runs else 0.0

    walls = sorted(r["wall_rate"] for r in results)
    busys = sorted(r["busy_rate"] for r in results)
    summary = {
        "metric": "streaming_throughput",
        "rows_per_replay": n_rows,
        "runs": runs,
        "batches_per_run": results[0]["batches"],
        "wall_rate_min_med_max": [walls[0], walls[len(walls) // 2], walls[-1]],
        "busy_rate_min_med_max": [busys[0], busys[len(busys) // 2], busys[-1]],
        "headline_busy_rate_median": busys[len(busys) // 2],
        "task_seconds_per_replay": round(per_run_task_s, 1),
        "rows_per_task_second": round(n_rows / per_run_task_s) if per_run_task_s else None,
        "gc_seconds_total": round(gc_s, 1),
        "config": {"files": n_files, "per_trigger": per_trigger, "mult": mult},
    }
    print(json.dumps(summary), flush=True)
    shutil.rmtree(workdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
