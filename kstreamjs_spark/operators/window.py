"""Window-`collect` adapter: API parity with the reference's arbitrary
window callback (`collect: (msgs: O[]) => N`, /root/reference/src/stream.ts:133,
applied to the whole in-window value list at src/stream.ts:186-198).

Spark-first translation: when the callback is expressible as built-in
aggregates, callers should just use ``groupBy(F.window(...)).agg(...)`` —
that is the fast path (JVM, partial aggregation, codegen). This adapter is
the general path for opaque Python callbacks: ``applyInPandas`` over the
window group, with rows sorted by event time first — the reference hands
the callback values in arrival order, and sorting by (ts, tiebreak) is the
deterministic equivalent (SURVEY.md §7 "hard parts").

Scale note: applyInPandas materializes one (keys x window) group per Arrow
batch. Groups are bounded by the window duration, not the stream length, so
memory is bounded as long as key cardinality per window fits the executor —
the same constraint Spark's own state store has.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def ipc_serialize(pdf: pd.DataFrame) -> bytes:
    """Arrow IPC stream bytes for a pandas frame (schema included).

    The fire-once window's GroupState buffer uses this instead of
    pickle: a long-lived production checkpoint must survive pandas /
    pickle-protocol upgrades, and the Arrow IPC stream format is the
    versioned, language-stable container for exactly this (the same
    bytes Spark itself ships between JVM and Python workers)."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def ipc_deserialize(buf: bytes) -> pd.DataFrame:
    """Inverse of :func:`ipc_serialize`."""
    with pa.ipc.open_stream(pa.BufferReader(buf)) as reader:
        return reader.read_all().to_pandas()


def window_collect(
    df: DataFrame,
    ts_col: str,
    duration: str,
    collect: Callable[[pd.DataFrame], dict],
    out_schema: str,
    slide: str | None = None,
    keys: Iterable[str] = (),
    sort_by: Iterable[str] | None = None,
    start_time: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding) event-time window + arbitrary Python collect.

    ``collect`` receives the window's rows as a pandas DataFrame sorted by
    ``sort_by`` (default: ts_col) and returns a dict of output columns.
    Output rows carry ``window_start``/``window_end`` plus any ``keys``.
    ``start_time`` offsets the window origin (F.window's startTime) so an
    aligned facade `from_ms` applies to the collect path too.
    """
    keys = list(keys)
    sort_cols = list(sort_by) if sort_by else [ts_col]
    win = F.window(ts_col, duration, slide or duration, start_time) \
        if start_time else (
            F.window(ts_col, duration, slide) if slide
            else F.window(ts_col, duration)
        )
    grouped = df.withColumn("__w", win).groupBy("__w", *keys)

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        res = collect(pdf)
        w = pdf["__w"].iloc[0]
        base = {"window_start": [w["start"]], "window_end": [w["end"]]}
        for k in keys:
            base[k] = [pdf[k].iloc[0]]
        for col, val in res.items():
            base[col] = [val]
        return pd.DataFrame(base)

    full_schema = "window_start timestamp, window_end timestamp"
    for k in keys:
        full_schema += f", {k} {dict(df.dtypes)[k]}"
    full_schema += ", " + out_schema
    return grouped.applyInPandas(apply_fn, full_schema)


def window_collect_stateful(
    df: DataFrame,
    ts_col: str,
    interval_ms: int,
    collect: Callable[[pd.DataFrame], dict],
    out_schema: str,
    keys: Iterable[str] = (),
    sort_by: Iterable[str] | None = None,
    origin_ms: int = 0,
) -> DataFrame:
    """Fire-once streaming tumbling window for arbitrary Python reducers
    (the reference's window semantics on streaming input, §2A).

    The reference's window buffers rows and invokes ``collect`` exactly
    once per window when event time passes the window end plus the
    buffer interval (/root/reference/src/stream.ts:157-198). The
    ``applyInPandas`` adapter above matches that on batch input but on
    STREAMING input runs per micro-batch, emitting one partial row per
    batch for a window that spans batches. This operator is the exact
    streaming equivalent: keyed GroupState buffers the window's rows
    across micro-batches (``applyInPandasWithState``, the fold shape
    of ``streaming.replay.keyed_fold``) and an EVENT-TIME TIMEOUT at the
    window end fires the reducer ONCE when the watermark (the facade's
    ``buffer_interval_ms``) passes it. Rows arriving for an
    already-due window are late by the stream's own watermark and are
    dropped — the same drop-late-data policy the reference implements
    (src/stream.ts:157-177) and the built-in ``aggs`` path inherits
    from Spark's streaming aggregation.

    Requires ``df`` to be streaming WITH a watermark on ``ts_col``
    (the facade sets it) — EventTimeTimeout needs one. State size is
    bounded by (rows in flight per window) x (open windows per key),
    the identical bound the reference's in-process buffer has; the
    buffered rows live in the state store, partitioned by
    (window, keys), so no executor holds more than its groups.

    ``origin_ms`` aligns windows to ``from_ms % interval`` exactly as
    the batch path's ``startTime`` does (non-negative event times).

    State encoding: the buffer is an ``array<binary>`` of
    Arrow IPC stream chunks, ONE chunk appended per trigger — each
    trigger ENCODES only its own new rows (the pandas->bytes
    serialization cost drops from O(buffered) per trigger / O(B^2)
    total to O(new)), and the chunks are concatenated exactly once
    when the window fires. Arrow IPC, not pickle, so a long-lived
    checkpoint survives pandas/pickle version upgrades. Honest limit:
    GroupState is a single-value store, so the state-store WRITE per
    trigger still copies all accumulated chunk bytes — a raw memcpy,
    no re-encode; true O(new) appends need a list-valued state store.

    Checkpoint compatibility: a checkpoint written with the older
    ``buf binary`` state schema (one pickled frame) fails Spark's
    state-schema compatibility check at query start. That check runs
    JVM-side before ``update`` is ever invoked, so it is NOT probeable
    from Python and there is no dual-encoding fallback; restarting such
    a checkpoint requires a state reset (new checkpointLocation, replay
    from the source). Arrow chunks survive pandas/pickle version
    upgrades, so the encoding itself forces no further resets.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keys = list(keys)
    sort_cols = list(sort_by) if sort_by else [ts_col]
    in_cols = list(df.columns)
    dtypes = dict(df.dtypes)
    ws_expr = (
        f"{origin_ms} + ((unix_millis({ts_col}) - {origin_ms})"
        f" DIV {interval_ms}) * {interval_ms}"
    )
    wdf = df.withColumn("__ws", F.expr(ws_expr))

    def fire(ws_ms: int, key, bufs) -> pd.DataFrame:
        chunks = [ipc_deserialize(bytes(b)) for b in bufs]
        pdf = (
            chunks[0] if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        ).sort_values(sort_cols, kind="mergesort")
        res = collect(pdf)
        base = {
            "window_start": [pd.to_datetime(ws_ms, unit="ms")],
            "window_end": [pd.to_datetime(ws_ms + interval_ms, unit="ms")],
        }
        for i, k in enumerate(keys):
            base[k] = [key[1 + i]]
        for col, val in res.items():
            base[col] = [val]
        return pd.DataFrame(base)

    def update(key, pdfs, state: GroupState):
        ws = int(key[0])
        if state.hasTimedOut:
            (bufs,) = state.get
            state.remove()
            yield fire(ws, key, bufs)
            return
        if state.getCurrentWatermarkMs() >= ws + interval_ms:
            # the window is already due: these rows are late per the
            # watermark and are dropped (reference drop-late policy);
            # fire once from whatever was buffered
            if state.exists:
                (bufs,) = state.get
                state.remove()
                yield fire(ws, key, bufs)
            return
        new = [pdf[in_cols] for pdf in pdfs]
        new_pdf = (
            new[0] if len(new) == 1
            else pd.concat(new, ignore_index=True)
        )
        bufs = list(state.get[0]) if state.exists else []
        bufs.append(ipc_serialize(new_pdf))
        state.update((bufs,))
        state.setTimeoutTimestamp(ws + interval_ms)

    full_schema = "window_start timestamp, window_end timestamp"
    for k in keys:
        full_schema += f", {k} {dtypes[k]}"
    full_schema += ", " + out_schema
    return wdf.groupBy("__ws", *keys).applyInPandasWithState(
        update,
        outputStructType=full_schema,
        stateStructType="bufs array<binary>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
