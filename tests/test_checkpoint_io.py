"""Streaming checkpoint I/O on sessions built by ``get_spark``: which
checkpoint manager they use, what it writes to disk, how many state
partitions a stateful window gets, and that it restarts from a
checkpoint written by Spark's default manager or under another state
partition count. Every input is generated here, so no parquet fixtures
are needed."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from kstreamjs_spark.session import get_spark
from kstreamjs_spark.stream import Stream

from .conftest import exchange_widths

MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
SHUFFLE_KEY = "spark.sql.shuffle.partitions"
INITIAL_KEY = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
FILE_SYSTEM = _PKG + "FileSystemBasedCheckpointFileManager"
FILE_CONTEXT = _PKG + "FileContextBasedCheckpointFileManager"

SCHEMA = "ts timestamp, k string, v long"
MINUTE_MS = 60_000
LATE_FROM = 2  # first part that carries a late row


def manager_class(spark, path) -> str:
    """Class of the checkpoint manager a streaming query started now on
    ``spark`` would use for ``path``."""
    jvm = spark._jvm
    mgr = getattr(
        jvm.org.apache.spark.sql.execution.streaming.checkpointing,
        "CheckpointFileManager$",
    ).__getattr__("MODULE$")
    return (
        mgr.create(
            jvm.org.apache.hadoop.fs.Path(str(path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        .getClass()
        .getName()
    )


def write_part(src: str, i: int, rows: list[tuple[int, str, int]]) -> None:
    """One input file of (event minute, key, value) rows. Its mtime is
    pinned to ``i`` seconds past a fixed base, so the file source reads
    the parts in index order whenever they land."""
    os.makedirs(src, exist_ok=True)
    pdf = pd.DataFrame(rows, columns=["m", "k", "v"])
    table = pa.table({
        "ts": pa.array(pdf["m"] * MINUTE_MS * 1000, pa.timestamp("us", tz="UTC")),
        "k": pa.array(pdf["k"], pa.string()),
        "v": pa.array(pdf["v"], pa.int64()),
    })
    path = os.path.join(src, f"part{i:02d}.parquet")
    pq.write_table(table, path)
    os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def parts() -> list[list[tuple[int, str, int]]]:
    """Six parts whose event time starts at minute 60 and moves 7 minutes
    per part. From the third part on, each also carries one row 26
    minutes behind the part's first event. With a 10-minute watermark
    that row is dropped even when the watermark lags two micro-batches,
    as it does when batches run back to back. No other row is ever
    dropped, so the sink does not depend on where the query stopped."""
    out = []
    for i in range(6):
        first = 60 + 7 * i
        rows = [(first + j % 5, "ab"[j % 2], 10 * i + j) for j in range(8)]
        if i >= LATE_FROM:
            rows.append((first - 26, "a", 1000 + i))
        out.append(rows)
    return out


def drain(spark, src: str, ckpt: str, out: str):
    """Stateful window over ``src`` into a parquet sink, one file per
    micro-batch, until the input is drained. Returns the stopped query."""
    sdf = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    handle = (
        Stream.from_dataframe(sdf)
        .window(
            interval_ms=5 * MINUTE_MS,
            buffer_interval_ms=10 * MINUTE_MS,
            aggs={"n": F.count("*"), "s": F.sum("v")},
            keys=["k"],
        )
        .write_to(out, "parquet", checkpointLocation=ckpt)
    )
    try:
        handle.query.processAllAvailable()
    finally:
        handle.stop()
    return handle.query


def state_partitions(ckpt: str) -> int:
    """Partition directories of the checkpoint's stateful operator."""
    return sum(d.isdigit() for d in os.listdir(os.path.join(ckpt, "state", "0")))


def sink(spark, out: str) -> pd.DataFrame:
    cols = ["window_start", "k", "n", "s"]
    return (
        spark.read.parquet(out).select(*cols).toPandas()
        .sort_values(cols).reset_index(drop=True)
    )


def test_get_spark_checkpoints_through_filesystem_manager(spark, tmp_path):
    """get_spark picks the FileSystem-based manager, extra_conf overrides
    it, and a stateful drain still writes Spark's delta checksum and
    Hadoop's .crc side file."""
    assert manager_class(spark, tmp_path) == FILE_SYSTEM

    # get_spark hands back the running session with its builder options
    # applied, so keep the shared session's other settings as they are
    ours = spark.conf.get(MANAGER_KEY)
    try:
        s = get_spark(
            shuffle_partitions=int(spark.conf.get(INITIAL_KEY)),
            extra_conf={MANAGER_KEY: FILE_CONTEXT},
        )
        assert manager_class(s, tmp_path) == FILE_CONTEXT
    finally:
        spark.conf.set(MANAGER_KEY, ours)
    assert manager_class(spark, tmp_path) == FILE_SYSTEM

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    write_part(src, 0, parts()[0])
    drain(spark, src, ckpt, str(tmp_path / "out"))
    state = os.listdir(os.path.join(ckpt, "state", "0", "0"))
    assert {"1.delta", "1.delta.crc", ".1.delta.crc"} <= set(state), state


def test_stateful_window_restart_equals_uninterrupted_run(spark, tmp_path):
    """Stop a stateful window between two halves of its backlog, while
    windows are still open in state, and restart it from the same
    checkpoint: the sink equals one uninterrupted drain. The first half
    runs under Spark's default FileContext manager, so a checkpoint
    written before get_spark chose the FileSystem manager restarts
    under it. The stop is placed by landing the backlog in two halves,
    since write_to has no trigger option to stop at a known batch."""
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    backlog = parts()
    ours = spark.conf.get(MANAGER_KEY)
    spark.conf.set(MANAGER_KEY, FILE_CONTEXT)
    try:
        assert manager_class(spark, ckpt) == FILE_CONTEXT
        for i in range(3):
            write_part(src, i, backlog[i])
        q1 = drain(spark, src, ckpt, out)
    finally:
        spark.conf.set(MANAGER_KEY, ours)
    # stopped with windows still open in state
    assert q1.lastProgress["stateOperators"][0]["numRowsTotal"] > 0
    n_first = len(sink(spark, out))

    for i in range(3, 6):
        write_part(src, i, backlog[i])
    assert manager_class(spark, ckpt) == FILE_SYSTEM
    q2 = drain(spark, src, ckpt, out)
    restarted = sink(spark, out)
    assert n_first < len(restarted)

    whole_ckpt, whole_out = str(tmp_path / "ckpt2"), str(tmp_path / "out2")
    q3 = drain(spark, src, whole_ckpt, whole_out)
    pd.testing.assert_frame_equal(restarted, sink(spark, whole_out))

    def late(*queries):
        return sum(
            int(p["stateOperators"][0]["numRowsDroppedByWatermark"])
            for q in queries
            for p in q.recentProgress
            if p["stateOperators"]
        )

    assert late(q1, q2) == late(q3) == 6 - LATE_FROM


def test_state_partitions_follow_cores_and_batch_keeps_its_width(spark, tmp_path):
    """The fixture's session asks for 8 shuffle partitions. A batch
    groupBy plans 8-way exchanges, while a new stateful window gets one
    state partition per core (at most 8), so each trigger runs one wave
    of tasks. With 8 or more cores both counts are 8, and the state half
    cannot tell one rule from the other."""
    batch = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    assert exchange_widths(batch) == {8}

    cpus = spark.sparkContext.defaultParallelism
    if cpus >= 8:
        pytest.skip(f"{cpus} cores: state and batch widths are both 8")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    write_part(src, 0, parts()[0])
    drain(spark, src, ckpt, str(tmp_path / "out"))
    assert state_partitions(ckpt) == cpus


def test_checkpoint_keeps_its_state_partition_count(spark, tmp_path):
    """A checkpoint started with another state partition count than the
    session's default (twice it here, as a checkpoint written before
    state partitions followed the cores may hold) restarts on the
    default session: Spark reads the count back from the offset log,
    and the sink equals one uninterrupted drain under the default."""
    default = min(spark.sparkContext.defaultParallelism, 8)
    started = 2 * default
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    backlog = parts()
    ours = spark.conf.get(SHUFFLE_KEY)
    spark.conf.set(SHUFFLE_KEY, str(started))
    try:
        for i in range(3):
            write_part(src, i, backlog[i])
        drain(spark, src, ckpt, out)
    finally:
        spark.conf.set(SHUFFLE_KEY, ours)
    assert state_partitions(ckpt) == started

    for i in range(3, 6):
        write_part(src, i, backlog[i])
    drain(spark, src, ckpt, out)
    assert state_partitions(ckpt) == started

    whole_ckpt, whole_out = str(tmp_path / "ckpt2"), str(tmp_path / "out2")
    drain(spark, src, whole_ckpt, whole_out)
    assert state_partitions(whole_ckpt) == default
    pd.testing.assert_frame_equal(sink(spark, out), sink(spark, whole_out))
