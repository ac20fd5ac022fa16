"""Shared correctness-compare harness: mirrors the driver's gate (row count
+ column names + order-insensitive canonical values) between a Spark query
result and its DuckDB oracle.

Driver-faithful canonicalization: the driver routes
BOTH result sets through pandas (Spark ``toPandas()``, DuckDB ``.df()``)
and hashes dtype-sensitively — DuckDB's ``SUM(INTEGER)`` returns HUGEINT,
which pandas materializes as float64, while Spark's LONG arrives as int64;
equal values, different canonical bytes, red row. A mirror that
compares raw Python values (``fetchall()`` gives Python ints for HUGEINT)
is blind to that class. This mirror therefore:

- materializes both sides as pandas frames exactly like the driver;
- keeps int-typed and float-typed cells DISTINCT in the canonical form
  (``12345`` != ``12345.0``), so a dtype drift is a local failure before
  it can become a driver failure.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from .tables import TABLES


def norm_cell(v):
    """Canonicalize one pandas-materialized cell, keeping numeric dtype
    distinctions (int64 vs float64) visible — the driver's hasher does."""
    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(norm_cell(x) for x in list(v))
    if isinstance(v, float) and math.isnan(v):
        return None
    try:
        if v is pd.NaT or (isinstance(v, pd.Timestamp) and pd.isna(v)):
            return None
    except (TypeError, ValueError):  # pragma: no cover
        pass
    if isinstance(v, np.generic):
        v = v.item()
        if isinstance(v, float) and math.isnan(v):
            return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        # float-typed cell: tagged so an int-valued float (12345.0) can
        # never equal a true int cell (12345) — the driver's distinction.
        return ("f", repr(round(v, 10)))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        # DATE columns: Spark toPandas yields datetime.date objects while
        # DuckDB .df() yields datetime64 at midnight — canonicalize both to
        # the midnight timestamp (what the driver's pandas view sees).
        return ("ts", datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("bin", bytes(v).hex())
    return v


def canon_pdf(pdf: pd.DataFrame) -> list[tuple]:
    """Canonical order-insensitive row list from a pandas frame: columns
    sorted by name, every cell normalized, rows sorted."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return rows


def canon(rows, cols):
    """Legacy entry point (raw row lists) retained for unit tests that build
    rows by hand; routes through pandas so dtypes behave like the driver."""
    pdf = pd.DataFrame.from_records(list(rows), columns=list(cols))
    return canon_pdf(pdf)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare_query(spark, con, spec, sf_dir: str) -> list[str]:
    """Run one QuerySpec both ways; return a list of problems (empty=pass).
    Rows-only specs (oracle=None) only assert the Spark side runs."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = spec.fn(spark, sf_dir)
    if spec.oracle is not None:
        # The driver's canonicalizer cannot hash array/struct cells (its
        # pandas sort dies on unhashable ndarray — the recorded r01 q20
        # failure). norm_cell could tuple-ize them locally, which would
        # green a query the driver is guaranteed to err on — reject the
        # schema instead so the mirror stays predictive.
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            return [
                f"oracle-checked query returns non-scalar columns {bad}: "
                "the driver cannot hash these — emit scalars"
            ]
    spark_pdf = df.toPandas()
    if spec.oracle is None:
        return []
    duck_pdf = con.execute(spec.oracle).df()
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"cols spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
    if len(spark_pdf) != len(duck_pdf):
        problems.append(
            f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}"
        )
    if not problems:
        a = canon_pdf(spark_pdf)
        b = canon_pdf(duck_pdf)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, first diffs: {diffs}")
    return problems
