"""Window ``collect``: the reference's arbitrary window callback
(`collect: (msgs: O[]) => N`, src/stream.ts:133, applied to a window's
whole value list at src/stream.ts:186-198) on Spark's own window
aggregation.

``Stream.window`` builds one ``groupBy(F.window(ts, ...), *keys)`` for
both of its forms. With ``aggs=`` the aggregates are built-in. With
``collect=``, :func:`collect_windows` gives it one aggregate,
``collect_list(struct(*columns))``, then a ``mapInArrow`` turns each
emitted (window, keys) row's list into an event-time-sorted pandas frame
and calls ``collect`` once on it. The map is stateless, so it runs the
same after a batch aggregation and after a streaming one.

One aggregation gives both forms one fire and drop rule. On streaming
input (append mode, watermark = newest event time less
``buffer_interval_ms``) a window is emitted once, on the first trigger
whose watermark is at or past its end, and a row whose window end is at
or behind the watermark is late: dropped, and counted in the state
operator's ``numRowsDroppedByWatermark``. Lateness is keyed on the
window end, not on the row's own timestamp, so a row behind the
watermark whose window is still open is kept, as in the reference,
which drops only rows of windows it has already fired.

Scale: a window's rows travel as one list, in the state store between
triggers and as one Arrow list cell into the Python worker. Memory per
group is bounded by one (window, keys) group's rows, the same bound the
reference's in-process buffer has.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.group import GroupedData
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def collect_windows(
    grouped: GroupedData,
    columns: list[str],
    keys: Iterable[str],
    ts_col: str,
    collect: Callable[[pd.DataFrame], dict],
    out_schema: str,
) -> DataFrame:
    """Call ``collect`` once per group of ``grouped``, a
    ``groupBy(window, *keys)`` over a frame with ``columns``.

    ``collect`` receives the group's rows as a pandas frame of
    ``columns``, sorted by ``ts_col`` (stable), timestamps as naive
    ``datetime64[ns]`` in the session time zone. It returns a dict of
    the ``out_schema`` columns. Output rows carry ``window_start``,
    ``window_end`` and the ``keys``, then ``out_schema``'s columns."""
    windows = grouped.agg(F.collect_list(F.struct(*columns)).alias("__rows"))
    keys = list(keys)
    dtypes = dict(windows.dtypes)
    out_type = StructType.fromDDL(
        ", ".join(
            ["window_start timestamp", "window_end timestamp"]
            + [f"`{k}` {dtypes[k]}" for k in keys]
            + [out_schema]
        )
    )
    out_arrow = to_arrow_schema(out_type)
    res_fields = list(out_arrow)[2 + len(keys):]

    def frame(rows: pa.StructArray) -> pd.DataFrame:
        pdf = pa.RecordBatch.from_struct_array(rows).to_pandas()
        for c in pdf.columns:
            if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
                pdf[c] = pdf[c].dt.tz_localize(None)
            if pd.api.types.is_datetime64_dtype(pdf[c].dtype):
                pdf[c] = pdf[c].astype("datetime64[ns]")
        return pdf

    def fire(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            lists = batch.column("__rows")
            pdf = frame(lists.flatten())
            bounds = (lists.offsets.to_numpy() - lists.offsets[0].as_py()).tolist()
            results = [
                collect(
                    pdf.iloc[lo:hi].sort_values(
                        ts_col, kind="mergesort", ignore_index=True
                    )
                )
                for lo, hi in zip(bounds, bounds[1:])
            ]
            window = batch.column("window")
            yield pa.RecordBatch.from_arrays(
                [window.field("start"), window.field("end")]
                + [batch.column(k) for k in keys]
                + [
                    pa.Array.from_pandas(
                        pd.Series([r[f.name] for r in results], dtype=object),
                        type=f.type,
                    )
                    for f in res_fields
                ],
                schema=out_arrow,
            )

    return windows.mapInArrow(fire, out_type)
