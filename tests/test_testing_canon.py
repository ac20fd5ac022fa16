"""The local mirror must be driver-faithful: the driver materializes both
result sets through pandas and hashes dtype-sensitively, so DuckDB's
``SUM(INTEGER)`` (HUGEINT -> pandas float64) must NOT compare equal to
Spark's LONG (int64) even when every value is numerically identical. A
mirror that compares raw Python values is blind to this class — these
tests pin the strict behavior."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from kstreamjs_spark.testing import canon_pdf


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 10),(2, 20)) v(k, n)")
    return con.execute(sql).df()


def test_uncast_integer_sum_is_flagged():
    """DuckDB SUM(INTEGER) -> HUGEINT -> pandas float64: must differ from
    the int64 frame Spark's toPandas() would produce (the r02 red class)."""
    uncast = _duck("SELECT k, SUM(n) AS s FROM t GROUP BY k ORDER BY k")
    assert uncast["s"].dtype == np.float64  # the trap exists at all
    sparklike = pd.DataFrame({"k": [1, 2], "s": [10, 20]}).astype(
        {"k": "int32", "s": "int64"}
    )
    assert canon_pdf(uncast) != canon_pdf(sparklike)


def test_cast_integer_sum_matches():
    """CAST(SUM(..) AS BIGINT) restores int64 and the frames agree."""
    cast = _duck("SELECT k, CAST(SUM(n) AS BIGINT) AS s FROM t GROUP BY k ORDER BY k")
    assert cast["s"].dtype == np.int64
    sparklike = pd.DataFrame({"k": [1, 2], "s": [10, 20]}).astype(
        {"k": "int32", "s": "int64"}
    )
    assert canon_pdf(cast) == canon_pdf(sparklike)


def test_row_order_and_column_order_insensitive():
    a = pd.DataFrame({"x": [1, 2], "y": ["b", "a"]})
    b = pd.DataFrame({"y": ["a", "b"], "x": [2, 1]})
    assert canon_pdf(a) == canon_pdf(b)


def test_nan_and_none_canonicalize_to_null():
    a = pd.DataFrame({"x": [float("nan"), 1.5]})
    b = pd.DataFrame({"x": [None, 1.5]}, dtype="float64")
    assert canon_pdf(a) == canon_pdf(b)


def test_duck_date_matches_python_date():
    """DuckDB .df() yields datetime64 at midnight for DATE; Spark toPandas
    yields datetime.date objects — both must canonicalize identically."""
    import datetime as dt

    duck = duckdb.connect().execute("SELECT DATE '2024-03-01' AS d").df()
    sparklike = pd.DataFrame({"d": [dt.date(2024, 3, 1)]})
    assert canon_pdf(duck) == canon_pdf(sparklike)
