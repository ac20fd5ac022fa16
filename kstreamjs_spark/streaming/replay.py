"""File-replay streaming: run the driver-generated parquet tables through
real Structured Streaming micro-batches.

The reference can only consume Kafka (/root/reference/src/context.ts:96-109);
here any parquet table replays as a stream, which is how the streaming
queries (SURVEY.md §2B Q29-Q32) are oracle-checked: the streaming result
must equal the batch/DuckDB answer over the same rows.

Trigger.AvailableNow processes the full backlog in rate-limited micro-
batches and terminates — deterministic end state, real micro-batch
execution path (state store, watermarks, incremental planning).
"""

from __future__ import annotations

import json
import uuid

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import configure_runtime
from ..tables import fix_event_time


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A streaming DataFrame replaying ``{sf_dir}/{name}.parquet``.

    File sources need an explicit schema; we take it from a batch read of
    the same path (footer-only, no data scan).
    """
    configure_runtime(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = spark.read.parquet(path).schema
    # The file stream source wants a directory; select the single table file
    # out of sf_dir with a glob filter.
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return fix_event_time(reader.parquet(sf_dir))


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "append",
    timeout_s: int = 600,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into a
    memory sink; returns the sink's rows as a batch DataFrame.

    Memory sink is a test/driver harness device — production sinks are the
    kafka/parquet writers in sources/. Complete mode is used for open-ended
    aggregations (the stream ends, so append-mode watermark semantics would
    hold back the final windows). ``timeout_s`` bounds the wait: a wedged
    micro-batch otherwise hangs the caller (and any correctness harness
    above it) forever — on expiry the query is stopped and the failure is
    a clear TimeoutError, not a silent stall.

    The sink is registered as the temp view ``<name>_<8 hex digits>``.
    The returned frame is analysed before the view is dropped, so it
    reads the sink itself, and the sink's rows live only as long as the
    frame does."""
    spark = sdf.sparkSession
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {qname!r} did not finish within {timeout_s}s"
        )
    rows = spark.table(qname)
    spark.catalog.dropTempView(qname)
    return rows


def keyed_fold(sdf: DataFrame, key: str, init, step, name: str) -> DataFrame:
    """Fold a streaming DataFrame's rows into one state per ``key`` value
    across micro-batches; returns each key's final state as a batch
    DataFrame ``(key, state string, n long)``.

    ``step(state, pdf) -> state`` folds one pandas chunk of a key's rows
    into its state, starting from a fresh copy of ``init``; a step may
    mutate and return its input. States must be JSON-serializable and
    survive the round trip (tuples come back as lists, dict keys as
    strings): between triggers a key's state lives in GroupState as one
    JSON string plus ``n``, the number of rows folded into it.

    Every trigger emits a ``(key, state, n)`` snapshot per key with rows
    in that trigger into a memory sink (:func:`run_to_memory`). With
    ``NoTimeout`` a key is only invoked with rows, so ``n`` strictly
    increases per key and the final state is the snapshot with the
    largest ``n``. Memory stays bounded by what ``step`` keeps.

    The GroupState schema is ``(state string, n bigint)``. A checkpoint
    written under another state schema, such as a hand-written fold's
    ``(total_q bigint, cnt bigint)``, needs a state reset."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    init_js = json.dumps(init)  # a fresh copy per key, never shared
    key_type = dict(sdf.dtypes)[key]

    def update(k, pdfs, state: GroupState):
        if state.exists:
            js, n = state.get
            acc = json.loads(js)
        else:
            acc, n = json.loads(init_js), 0
        for pdf in pdfs:
            acc = step(acc, pdf)
            n += len(pdf)
        js = json.dumps(acc)
        state.update((js, n))
        yield pd.DataFrame({key: [k[0]], "state": [js], "n": [n]})

    out = sdf.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=f"{key} {key_type}, state string, n bigint",
        stateStructType="state string, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_to_memory(out, name, output_mode="append")
    return sink.groupBy(key).agg(
        F.max_by("state", "n").alias("state"), F.max("n").alias("n")
    )


def run_foreach_batch(
    sdf: DataFrame, fn, name: str, timeout_s: int = 600,
) -> None:
    """Execute a streaming DataFrame to completion (AvailableNow)
    through a ``foreachBatch`` sink — the production shape for sinks
    the streaming writer cannot express natively (partitioned lakehouse
    writes, MERGE upserts, multi-table fan-out). Same timeout contract
    as :func:`run_to_memory`."""
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.foreachBatch(fn)
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {qname!r} did not finish within {timeout_s}s"
        )
