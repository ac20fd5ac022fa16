"""Fluent Stream facade — API parity with the reference's operator surface
(/root/reference/src/stream.ts:18-271), lowered entirely onto
DataFrame/Structured Streaming.

Reference operators -> here:
  createStream   -> Stream.from_kafka / Stream.from_parquet / Stream.replay
  map            -> Stream.map            (src/stream.ts:38-56)
  filter         -> Stream.filter         (src/stream.ts:57-77)
  explode        -> Stream.explode        (src/stream.ts:78-90)
  window         -> Stream.window         (src/stream.ts:130-200)
  union          -> Stream.union          (src/stream.ts:201-230)
  blackhole      -> Stream.blackhole      (src/stream.ts:231-239)
  writeTo        -> Stream.write_to       (src/stream.ts:240-247)
  commit         -> Stream.commit         (src/stream.ts:248-255) — no-op:
                    Structured Streaming checkpoints offsets in its WAL,
                    a strictly stronger guarantee than the reference's
                    60s interval commit (at-least-once)
  flushStatistics-> Stream.flush_statistics (src/stream.ts:256-260)
  start/stop     -> Stream.start / StreamHandle.stop (src/stream.ts:261-270)

Deliberate differences (SURVEY.md §3.2): the facade is IMMUTABLE — every
operator returns a new Stream (the reference mutates `this` in filter/union,
an observable inconsistency we do not reproduce). There is no pull loop and
no hand-rolled offset bookkeeping: the plan is declared, Catalyst optimizes
it, and the streaming runtime schedules micro-batches.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from .operators.window import window_collect, window_collect_stateful

# Spark's default JSON timestampFormat keeps only milliseconds; the engine's
# event times are microsecond-resolution, so every JSON write/read on this
# facade defaults to a microsecond-preserving format (callers can override
# via options).
_JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
from .session import configure_runtime
from .streaming.replay import run_to_memory, stream_table
from .streaming.stats import Statistics, StatisticsListener


@dataclass
class StreamHandle:
    """Running streaming query wrapper (reference start/stop,
    src/stream.ts:261-270)."""

    query: Any  # StreamingQuery

    def await_termination(self, timeout: float | None = None):
        return self.query.awaitTermination(timeout)

    def stop(self) -> None:
        self.query.stop()


class Stream:
    """Immutable fluent wrapper over a (batch or streaming) DataFrame."""

    def __init__(
        self,
        df: DataFrame,
        ts_col: str = "ts",
        listener: StatisticsListener | None = None,
    ) -> None:
        self.df = df
        self.ts_col = ts_col
        self._listener = listener

    # ------------------------------------------------------------- sources
    @classmethod
    def from_dataframe(cls, df: DataFrame, ts_col: str = "ts") -> "Stream":
        return cls(df, ts_col)

    @classmethod
    def from_parquet(
        cls, spark: SparkSession, path: str, ts_col: str = "ts"
    ) -> "Stream":
        configure_runtime(spark)
        from .tables import fix_event_time

        return cls(fix_event_time(spark.read.parquet(path), ts_col), ts_col)

    @classmethod
    def from_jsonl(
        cls,
        spark: SparkSession,
        path: str,
        ts_col: str = "ts",
        schema=None,
    ) -> "Stream":
        """JSON-lines source — the reference's wire format (payloads are
        JSON.parse'd per message, src/context.ts:143; this reads the same
        shape from files). Pass an explicit ``schema`` at scale: without
        one, Spark runs a full inference pass over the data before the
        real scan — fine for fixtures, a doubled read at 100 TB. JSON
        serializes timestamps as strings, so ``ts_col`` (when present) is
        cast back to TIMESTAMP for watermark/window compatibility."""
        configure_runtime(spark)
        reader = spark.read.schema(schema) if schema is not None else spark.read
        df = reader.option("timestampFormat", _JSON_TS_FORMAT).json(path)
        if ts_col in df.columns and dict(df.dtypes).get(ts_col) == "string":
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return cls(df, ts_col)

    @classmethod
    def replay(
        cls, spark: SparkSession, sf_dir: str, table: str, ts_col: str = "ts"
    ) -> "Stream":
        """Streaming replay of a test table (file-source micro-batches)."""
        return cls(stream_table(spark, sf_dir, table), ts_col)

    @classmethod
    def from_kafka(
        cls,
        spark: SparkSession,
        brokers: str | list[str],
        topic: str,
        schema=None,
        from_beginning: bool = False,
        ts_col: str = "ts",
        ts_from_payload: str | None = None,
        **options: str,
    ) -> "Stream":
        """Kafka source (reference createStream, src/stream.ts:273-276).
        Requires the spark-sql-kafka connector on the classpath.
        ``ts_from_payload`` names a payload field to use as the event
        time instead of the broker ingest timestamp (replayed topics
        window on event time, not arrival time)."""
        from .sources.kafka import read_stream

        return cls(
            read_stream(
                spark,
                brokers,
                topic,
                schema=schema,
                from_beginning=from_beginning,
                ts_from_payload=ts_from_payload,
                **options,
            ),
            ts_col,
        )

    # ------------------------------------------------------------ operators
    def _wrap(self, df: DataFrame) -> "Stream":
        return Stream(df, self.ts_col, self._listener)

    def _handle(self, query) -> StreamHandle:
        """Wrap a started query; scope the stats listener (session-global
        in Spark) to this stream's own queries so two instrumented
        Streams on one session don't double-count each other."""
        if self._listener is not None:
            self._listener.watch(str(query.id))
        return StreamHandle(query)

    def map(
        self, *cols: Column | str, **named: Column
    ) -> "Stream":
        """Projection (reference map, src/stream.ts:38-56). Accepts columns
        (select semantics) and/or name=expr pairs (withColumn semantics,
        applied after the projection — mixing both selects the columns
        first, then adds every named expression; nothing is silently
        dropped). For opaque Python row functions use map_pandas."""
        df = self.df.select(*cols) if cols else self.df
        for name, expr in named.items():
            df = df.withColumn(name, expr)
        return self._wrap(df)

    def map_pandas(self, fn: Callable, schema: str) -> "Stream":
        """Opaque transform via mapInPandas (the Arrow-batched analogue of
        the reference's async map callback)."""
        return self._wrap(self.df.mapInPandas(fn, schema))

    def filter(self, predicate: Column | str) -> "Stream":
        """Predicate filter (reference filter, src/stream.ts:57-77). The
        reference's drain-until-nonempty loop is a pull-model artifact with
        no Spark analogue — empty micro-batches are fine."""
        return self._wrap(self.df.filter(predicate))

    def explode(
        self, col: Column | str, alias: str = "value", keep: Iterable[str] | None = None
    ) -> "Stream":
        """Flatten an array column (reference explode, src/stream.ts:78-90):
        one row per element, other columns (the 'metadata') retained."""
        # Only a by-name column can be auto-dropped from the keep list; a
        # Column expression has no reliable name (str(col) is its repr).
        drop = col if isinstance(col, str) else None
        keep_cols = list(keep) if keep is not None else [
            c for c in self.df.columns if c != drop
        ]
        return self._wrap(
            self.df.select(*keep_cols, F.explode(col).alias(alias))
        )

    def window(
        self,
        interval_ms: int,
        from_ms: int | None = None,
        buffer_interval_ms: int = 60_000,
        collect: Callable[[pd.DataFrame], dict] | None = None,
        out_schema: str | None = None,
        aggs: Mapping[str, Column] | None = None,
        keys: Iterable[str] = (),
    ) -> "Stream":
        """Event-time tumbling window (reference window,
        src/stream.ts:130-200).

        - ``interval_ms``: window size (reference `interval`).
        - ``from_ms``: window origin; rows before it are dropped and windows
          align to it (reference seeks the consumer to `from` and drops
          late rows, src/stream.ts:146-149,157-177). Maps to a filter +
          the window startTime offset.
        - ``buffer_interval_ms``: watermark delay (reference
          `bufferInterval`, default 60s, src/stream.ts:140) — only
          meaningful on streaming input.
        - ``aggs``: named built-in aggregates — THE fast path.
        - ``collect``/``out_schema``: arbitrary Python reducer over the
          whole window (reference `collect` callback, src/stream.ts:133);
          rows arrive event-time-sorted. On batch input this is the
          applyInPandas adapter; on STREAMING input it is
          EXACT across micro-batches: keyed GroupState buffers the
          window's rows and an event-time timeout fires the reducer
          ONCE when the watermark passes the window end — the
          reference's fire-once buffer (src/stream.ts:186-198) and its
          drop-late-data policy (src/stream.ts:157-177), stateful like
          ``aggs``. See operators/window.py:window_collect_stateful.
        """
        df = self.df
        ts = self.ts_col
        keys = list(keys)  # consumed by BOTH groupBy and the projection
        dur = f"{interval_ms} milliseconds"
        start = f"{from_ms % interval_ms} milliseconds" if from_ms else None
        if from_ms is not None:
            df = df.filter(
                F.col(ts) >= F.timestamp_millis(F.lit(from_ms))
            )
        if df.isStreaming:
            df = df.withWatermark(ts, f"{buffer_interval_ms} milliseconds")
        if aggs is not None:
            win = F.window(ts, dur, startTime=start) if start else F.window(ts, dur)
            out = (
                df.groupBy(win, *keys)
                .agg(*[expr.alias(name) for name, expr in aggs.items()])
                .select(
                    F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    *keys,
                    *[name for name in aggs],
                )
            )
            return self._wrap(out)
        if collect is None or out_schema is None:
            raise ValueError("window() needs either aggs= or collect=+out_schema=")
        if df.isStreaming:
            return self._wrap(
                window_collect_stateful(
                    df,
                    ts_col=ts,
                    interval_ms=interval_ms,
                    collect=collect,
                    out_schema=out_schema,
                    keys=keys,
                    sort_by=[ts],
                    origin_ms=(from_ms % interval_ms) if from_ms else 0,
                )
            )
        return self._wrap(
            window_collect(
                df,
                ts_col=ts,
                duration=dur,
                collect=collect,
                out_schema=out_schema,
                keys=keys,
                sort_by=[ts],
                # same origin alignment as the aggs branch — collect
                # windows must not silently snap back to the epoch
                start_time=start,
            )
        )

    def union(self, other: "Stream") -> "Stream":
        """Merge by name (reference union, src/stream.ts:201-230);
        interleaving order unspecified in both systems."""
        return self._wrap(self.df.unionByName(other.df))

    # ---------------------------------------------------------------- sinks
    def blackhole(self) -> "Stream | StreamHandle":
        """Swallow the stream (reference blackhole, src/stream.ts:231-239).
        Streaming: a foreachBatch sink that discards every batch. Batch: an
        empty stream."""
        if self.df.isStreaming:
            q = (
                self.df.writeStream.foreachBatch(lambda _df, _id: None)
                .trigger(availableNow=True)
                .start()
            )
            return self._handle(q)
        return self._wrap(self.df.limit(0))

    def write_to(
        self, path_or_topic: str, fmt: str = "parquet", **options: str
    ) -> "Stream | StreamHandle":
        """Write out (reference writeTo, src/stream.ts:240-247). Batch:
        writes files and passes the stream through for further chaining
        (matching the reference's pass-through contract). Streaming:
        starts a file/kafka sink and returns its handle."""
        if self.df.isStreaming:
            if fmt == "kafka":
                from .sources.kafka import prepare_sink

                # prepare_sink embeds the topic as a per-row column; the
                # sink routes on it, so no `topic` option can get lost.
                writer = prepare_sink(self.df, path_or_topic).writeStream.format(
                    "kafka"
                )
                # reference gzips every payload (src/context.ts:122-123);
                # callers can still override
                options.setdefault("kafka.compression.type", "gzip")
            else:
                writer = self.df.writeStream.format(fmt).option(
                    "path", path_or_topic
                )
            if fmt == "json":
                options.setdefault("timestampFormat", _JSON_TS_FORMAT)
            # ALL user options (checkpointLocation, kafka.bootstrap.servers,
            # maxRecordsPerFile, ...) pass through on both branches.
            for k, v in options.items():
                writer = writer.option(k, v)
            return self._handle(writer.start())
        if fmt == "json":
            options.setdefault("timestampFormat", _JSON_TS_FORMAT)
        self.df.write.format(fmt).mode(options.pop("mode", "overwrite")).options(
            **options
        ).save(path_or_topic)
        return self

    def commit(self) -> "Stream":
        """No-op for API parity (reference commit, src/stream.ts:248-255).
        Structured Streaming checkpoints offsets+state in its WAL per
        micro-batch — strictly stronger than the reference's 60s interval
        commit."""
        return self

    # ----------------------------------------------------------- execution
    def start(
        self, sink: str = "memory", name: str = "stream_out", **options: str
    ) -> StreamHandle:
        """Start the streaming query (reference start, src/stream.ts:261-267)."""
        if not self.df.isStreaming:
            raise ValueError("start() requires a streaming source; use collect()")
        writer = self.df.writeStream.format(sink).queryName(name)
        for k, v in options.items():
            writer = writer.option(k, v)
        return self._handle(writer.start())

    def run_available(self, name: str = "stream_out", output_mode: str = "append") -> DataFrame:
        """Process the entire backlog and return the result (test path)."""
        return run_to_memory(self.df, name, output_mode)

    def collect(self):
        return self.df.collect()

    # ---------------------------------------------------------- statistics
    def with_statistics(self) -> "Stream":
        """Attach a StatisticsListener (reference flushStatistics,
        src/stream.ts:256-260)."""
        listener = StatisticsListener().attach(self.df.sparkSession)
        return Stream(self.df, self.ts_col, listener)

    def flush_statistics(self) -> Statistics:
        if self._listener is None:
            raise ValueError("call with_statistics() before flush_statistics()")
        return self._listener.flush()
