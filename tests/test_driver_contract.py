"""The __spark_entry__ driver contract, enforced locally: entry() runs and
returns rows with a stable schema; every oracle key is a query key; every
query is callable with (spark, sf_dir) and each oracle is a non-empty SQL
string. Catches contract regressions in pytest rather than at round time."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


@pytest.mark.usefixtures("sf_smoke")  # entry() reads the sf0.001 events
def test_entry_runs_with_stable_schema(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema.simpleString() == (
        "struct<hour:timestamp,sum_value:double,cnt:bigint>"
    )


def test_every_oracle_key_is_a_query_key():
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    assert set(osql) <= set(qs)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip() for s in osql.values())


def test_query_callables_accept_spark_and_sfdir(spark, sf_smoke):
    # spot-run one cheap query through the contract signature
    df = entrymod.queries()["q01_scan_count"](spark, sf_smoke)
    assert df.collect()[0][0] > 0


def test_window_priority_names_validated():
    """The driver-window priority list is validated against the registry: a
    typo or an unimplemented promise raises instead of silently dropping a
    window slot."""
    from kstreamjs_spark import queries as qmod

    qmod.all_queries()  # current list must be clean
    saved = list(qmod._WINDOW_PRIORITY)
    try:
        qmod._WINDOW_PRIORITY.append("q999_does_not_exist")
        with pytest.raises(KeyError, match="q999_does_not_exist"):
            qmod.all_queries()
    finally:
        qmod._WINDOW_PRIORITY[:] = saved


def test_window_orders_stale_queries_first():
    """Non-priority window slots go to the queries whose last driver
    CORRECTNESS row is oldest (never-checked first), so rotation converges
    to full driver coverage."""
    from kstreamjs_spark import queries as qmod

    ordered = list(qmod.all_queries())
    hist = qmod._correctness_history()
    prio = set(qmod._WINDOW_PRIORITY)
    rest = [n for n in ordered if n not in prio]
    staleness = [hist.get(n, 0) for n in rest]
    assert staleness == sorted(staleness)


def test_cli_list_and_unknown_query():
    """CLI: `list` prints every registered query; unknown names exit 2."""
    import contextlib
    import io

    from kstreamjs_spark.__main__ import main
    from kstreamjs_spark.queries import all_queries

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["list"]) == 0
    out = buf.getvalue()
    for name in all_queries():
        assert name in out
    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        assert main(["run", "no_such_query"]) == 2


def test_window_pins_lead_even_over_new_queries():
    """Priority names occupy the FIRST window slots, ahead even of
    never-checked (hist-0) queries — a pinned re-attestation must not be
    displaced by inventory growth in the same round."""
    from kstreamjs_spark import queries as qmod

    ordered = list(qmod.all_queries())
    prio = list(dict.fromkeys(qmod._WINDOW_PRIORITY))
    assert ordered[: len(prio)] == prio
