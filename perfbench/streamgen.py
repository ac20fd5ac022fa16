"""Seeded input generator and reference computation for `stream_window`.

The generator writes an event backlog as many small parquet files, split
into two sources. Events arrive in event-time order, except that about
5% are pushed 10 min to 2 h back in event time. `user_id` is Zipf-skewed.

The reference replays the micro-batch schedule the file source follows
(`maxFilesPerTrigger` files per source per trigger, files ordered by
modification time) and applies Spark's drop rule for a windowed
aggregate: a row is dropped only once its window has closed, that is,
once an earlier trigger has emitted it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WINDOW_US = 3_600_000 * 1000
DELAY_US = 60_000 * 1000
EVENT_TYPES = np.array(["view", "click", "cart", "purchase"])
_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
_SPAN_PER_TRIGGER_US = 25 * 60 * 1_000_000
_LATE_SHARE = 0.05
_LATE_MIN_US = 10 * 60 * 1_000_000
_LATE_MAX_US = 2 * 3600 * 1_000_000
SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.int64()),
    ]
)
SPARK_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value BIGINT"


@dataclass
class Backlog:
    events: pd.DataFrame  # every generated row, with its `trigger` index
    sources: tuple[str, str]
    files_per_trigger: int


def generate(
    seed: int, n_events: int, files_per_source: int, files_per_trigger: int,
    out_dir: str,
) -> Backlog:
    """Write the backlog under ``out_dir`` and return it with each row's
    trigger index. Same seed and sizes give the same files."""
    rng = np.random.default_rng(seed)
    # Event time advances ~25 min per trigger, so a late row (10 min to
    # 2 h back) often lands in a window an earlier trigger has closed.
    span = _SPAN_PER_TRIGGER_US * files_per_source // files_per_trigger
    ts = _T0_US + np.sort(rng.integers(0, span, n_events))
    late = rng.random(n_events) < _LATE_SHARE
    ts[late] -= rng.integers(_LATE_MIN_US, _LATE_MAX_US, int(late.sum()))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts,
            "user_id": np.minimum(rng.zipf(1.3, n_events), 1_000_000).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events, p=[0.6, 0.25, 0.1, 0.05]),
            "value": rng.integers(-50, 1000, n_events),
        }
    )
    # File f of the interleaved sequence goes to source f % 2, so each
    # source holds every other chunk of the arrival order.
    n_files = 2 * files_per_source
    file_no = np.arange(n_events) * n_files // n_events
    events["trigger"] = (file_no // 2) // files_per_trigger
    sources = (os.path.join(out_dir, "source_a"), os.path.join(out_dir, "source_b"))
    for d in sources:
        os.makedirs(d)
    mtime0 = time.time() - files_per_source - 10
    for f in range(n_files):
        chunk = events[file_no == f]
        table = pa.Table.from_pandas(
            chunk[["event_id", "ts", "user_id", "event_type", "value"]].assign(
                ts=pd.to_datetime(chunk["ts"], unit="us", utc=True)
            ),
            schema=SCHEMA,
            preserve_index=False,
        )
        path = os.path.join(sources[f % 2], f"part-{f // 2:05d}.parquet")
        pq.write_table(table, path)
        # Distinct, increasing mtimes fix the order the file source reads in.
        os.utime(path, (mtime0 + f // 2, mtime0 + f // 2))
    return Backlog(events, sources, files_per_trigger)


def amount(value):
    """The pipeline's `map` step, shared by the Spark plan and the
    reference: long arithmetic, so sums are exact in both."""
    return value * 3 + 1


@dataclass
class Reference:
    windows: pd.DataFrame  # the emitted windows, sorted
    input_rows: int  # rows that pass the filter
    late_rows: int  # filtered rows dropped by the watermark


def _filtered(backlog: Backlog) -> pd.DataFrame:
    """The rows that pass the pipeline's filter, with `amount` and their
    window's `start`."""
    ev = backlog.events[backlog.events["value"] >= 0]
    return ev.assign(amount=amount(ev["value"]), start=ev["ts"] - ev["ts"] % WINDOW_US)


def open_rows(backlog: Backlog, watermark_us: int) -> int:
    """Filtered rows whose window ends after ``watermark_us``: a final
    watermark of ``watermark_us`` leaves their windows unemitted."""
    ev = _filtered(backlog)
    return int((ev["start"] + WINDOW_US > watermark_us).sum())


def reference(backlog: Backlog) -> Reference:
    ev = _filtered(backlog)
    # Spark tracks the maximum event time in whole milliseconds.
    max_by_trigger = ev.groupby("trigger")["ts"].max().sort_index() // 1000 * 1000
    # The watermark of trigger t is the max event time over triggers < t,
    # minus the delay (0 for the first trigger). A window is emitted in the
    # first trigger whose watermark reaches its end, so a row is late once
    # its window reached the watermark of the trigger before its own.
    late_wm = (max_by_trigger.cummax().shift(2) - DELAY_US).clip(lower=0).fillna(0)
    row_wm = ev["trigger"].map(late_wm.astype(np.int64)).to_numpy()
    dropped = (ev["start"] + WINDOW_US).to_numpy() <= row_wm
    final_wm = int(max_by_trigger.max()) - DELAY_US
    is_open = (ev["start"] + WINDOW_US).to_numpy() > final_wm
    kept = ev[~dropped & ~is_open]
    windows = (
        kept.groupby(["start", "event_type"])
        .agg(n=("event_id", "size"), amount=("amount", "sum"), max_user=("user_id", "max"))
        .reset_index()
        .rename(columns={"start": "window_start"})
    )
    windows["window_start"] = windows["window_start"].astype(np.int64)
    return Reference(
        windows=windows.sort_values(["window_start", "event_type"]).reset_index(drop=True),
        input_rows=len(ev),
        late_rows=int(dropped.sum()),
    )


def read_sink(sink_dir: str) -> pd.DataFrame:
    """The sink's windows in the reference's shape (`_spark_metadata` and
    other `_`-prefixed entries are skipped by the dataset reader)."""
    t = pq.read_table(sink_dir).to_pandas()
    out = pd.DataFrame(
        {
            "window_start": pd.to_datetime(t["window_start"], utc=True)
            .dt.as_unit("us")
            .astype(np.int64),
            "event_type": t["event_type"].astype(str),
            "n": t["n"].astype(np.int64),
            "amount": t["amount"].astype(np.int64),
            "max_user": t["max_user"].astype(np.int64),
        }
    )
    return out.sort_values(["window_start", "event_type"]).reset_index(drop=True)
