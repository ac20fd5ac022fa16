"""Streaming query inventory (SURVEY.md §2B Q29-Q33, Q41): real Structured
Streaming micro-batch executions whose results are checked against batch
SQL oracles — the strongest form of the batch<->stream equivalence the
reference's tests only approximate with mocks
(/root/reference/src/stream.spec.ts:116-152).

Complete mode is used for open-ended aggregations because the replayed
stream ends (append mode would withhold windows the watermark never
passes); watermark + append semantics (late-data drop) are exercised in
tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.sampling import hash_bucket_sql
from ..stream import Stream
from ..streaming.replay import keyed_fold, run_to_memory, stream_table
from ..tables import load
from . import REGISTRY, query
from .pipeline import _q211_oracle, _q219_oracle


# ------------------------------------------ Q29 streaming tumbling window
@query(
    "q29_stream_tumbling",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour,
               SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_value,
               COUNT(*) AS cnt
        FROM events GROUP BY 1
    """,
    tags=("streaming",),
)
def q29(spark: SparkSession, sf: str) -> DataFrame:
    """Reference `window` parity (src/stream.ts:130-200) on a real stream:
    tumbling 1h event-time windows over the events replay; result equals
    the batch oracle exactly."""
    sdf = stream_table(spark, sf, "events")
    agg = (
        sdf.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            # int64 1e-4 quanta: exactly associative, so any
            # micro-batch schedule or shuffle order hash-matches the
            # differently-ordered oracle SUM (q44/q141 idiom)
            (F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
             / 10000.0).alias("sum_value"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.col("window.start").alias("hour"), "sum_value", "cnt"
        )
    )
    return run_to_memory(agg, "q29", output_mode="complete")


# ------------------------------------------- Q30 streaming sliding window
@query(
    "q30_stream_sliding",
    oracle="""
        SELECT CAST(((epoch_ms(ts) // 1800000) - k) * 1800 AS BIGINT)
                   AS wstart_epoch,
               SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_value,
               COUNT(*) AS cnt
        FROM events, (VALUES (0), (1)) AS offs(k)
        GROUP BY 1
    """,
    tags=("streaming",),
)
def q30(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding windows (1h duration, 30min slide): every event lands in
    exactly two windows. Window starts compared as epoch seconds to keep
    the oracle timestamp-type-free."""
    sdf = stream_table(spark, sf, "events")
    agg = (
        sdf.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            # int64 1e-4 quanta: exactly associative, so any
            # micro-batch schedule or shuffle order hash-matches the
            # differently-ordered oracle SUM (q44/q141 idiom)
            (F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
             / 10000.0).alias("sum_value"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("wstart_epoch"),
            "sum_value",
            "cnt",
        )
    )
    return run_to_memory(agg, "q30", output_mode="complete")


# ------------------------------------------- Q31 session windows (batch op)
@query(
    "q31_session_windows",
    oracle="""
        WITH o AS (
          SELECT user_id, ts, value, event_id,
                 lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS pts
          FROM events
        ),
        f AS (
          SELECT *, CASE WHEN pts IS NULL
                          OR ts > pts + INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS brk
          FROM o
        ),
        g AS (
          SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM f
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               COUNT(*) AS cnt,
               SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_value
        FROM g GROUP BY user_id, sid
    """,
    tags=("streaming", "window-agg"),
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30min gap) per user — F.session_window, which the
    oracle reproduces with a gaps-and-islands construction. Works identically
    over a stream (tests) and in batch (here, for the hash check).

    Boundary rule: session_window MERGES an event landing
    EXACTLY gap seconds after its predecessor (new session only when the
    gap is strictly exceeded — measured empirically, and the same `>`
    rule as q55/q108's batch sessionization). The oracle originally said
    `>=` and was green only because the test corpus contains zero
    exact-1800 s per-user deltas; the boundary unit test now pins the
    registry oracle text against session_window on crafted boundary
    rows so the divergence class cannot return."""
    (events,) = load(spark, sf, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
             / 10000.0).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "cnt",
            "sum_value",
        )
    )


# --------------------------------------- Q32 streaming stateful dedup
@query(
    "q32_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming stateful dropDuplicates over the events replay — the
    first-seen row per key survives; emitted set equals batch DISTINCT.
    (Late-data drop via dropDuplicatesWithinWatermark is exercised in
    tests/test_streaming.py where rows can actually be late.)"""
    sdf = stream_table(spark, sf, "events")
    dedup = sdf.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_memory(dedup, "q32", output_mode="append")


# ----------------------------------------------- Q33 window-collect UDAF
def _hourly_sum(pdf: pd.DataFrame) -> dict:
    """q33's window reducer. It quantizes before it sums (q44's idiom):
    the int64 sum is order-free, so the Python path cannot drift from
    the oracle on a rounding boundary."""
    q = np.floor(pdf["value"].to_numpy() * 1e4 + 0.5).astype("int64")
    return {"sum_value": int(q.sum()) / 1e4, "n": len(pdf)}


_HOURLY_SUM_SCHEMA = "sum_value double, n long"


@query(
    "q33_window_collect_udaf",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour,
               SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_value
        FROM events GROUP BY 1
    """,
    tags=("udf", "window-agg"),
)
def q33(spark: SparkSession, sf: str) -> DataFrame:
    """Window-`collect` parity (reference src/stream.ts:133) on batch
    input: an opaque Python callback receives each hour's rows (an
    event-time-sorted pandas frame) and reduces them to the same hourly
    sum as q05. `Stream.window(collect=)` runs it on the window
    aggregation that `aggs=` uses, so it must agree with the built-in
    aggregate path."""
    (events,) = load(spark, sf, "events")
    out = Stream(events.select("ts", "value"), "ts").window(
        interval_ms=3_600_000, collect=_hourly_sum, out_schema=_HOURLY_SUM_SCHEMA
    )
    return out.df.select(F.col("window_start").alias("hour"), "sum_value")


# --------------------------------- Q33b STREAMING window-collect
@query(
    "q33b_stream_window_collect",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour,
               SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_value,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        -- <=: a window fires once the watermark reaches its end, as the
        -- reference fires at watermark >= end, so a window whose end is
        -- exactly the final watermark is emitted
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <=
              (SELECT MAX(ts) - INTERVAL 1 MILLISECOND FROM events)
        GROUP BY 1
    """,
    tags=("streaming", "udf", "window-agg", "stateful", "slow"),
)
def q33b(spark: SparkSession, sf: str) -> DataFrame:
    """q33's Python window reducer on a micro-batched stream of events,
    through `Stream.window(collect=)` in append mode: each hour's rows
    build up in the window aggregation's state across triggers, and the
    reducer runs once per hour, when the watermark reaches the hour's
    end (the reference's buffered window, src/stream.ts:186-198). The
    oracle is q33's hourly sum restricted to the fired hours: the final
    watermark is max(ts) less the 1 ms buffer, and an hour whose end is
    past it is still open when the replay ends, held in state as the
    reference's buffer holds its open window at shutdown."""
    sdf = stream_table(spark, sf, "events")
    out = (
        Stream(sdf.select("ts", "value"), "ts")
        .window(
            interval_ms=3_600_000,
            buffer_interval_ms=1,
            collect=_hourly_sum,
            out_schema=_HOURLY_SUM_SCHEMA,
        )
        .run_available("q33b", output_mode="append")
    )
    return out.select(
        F.col("window_start").alias("hour"), "sum_value", "n"
    )


# ------------------------------------------------ Q41 streaming union
@query(
    "q41_stream_union",
    oracle="""
        SELECT event_id FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT event_id FROM events WHERE event_type = 'view'
    """,
    tags=("streaming", "union", "slow"),
)
def q41(spark: SparkSession, sf: str) -> DataFrame:
    """Reference `union` parity (src/stream.ts:201-230) on real streams: two
    filtered replays of events merged with unionByName; interleaving is
    nondeterministic in both systems, multiset equality is checked."""
    s1 = stream_table(spark, sf, "events")
    s2 = stream_table(spark, sf, "events")
    u = (
        s1.filter(F.col("event_type") == "click")
        .select("event_id")
        .unionByName(s2.filter(F.col("event_type") == "view").select("event_id"))
    )
    return run_to_memory(u, "q41", output_mode="append")


# ---------------------------------- Q44 custom stateful streaming operator
@query(
    "q44_stateful_running_totals",
    oracle="""
        SELECT user_id,
               SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS running_total,
               CAST(COUNT(*) AS BIGINT) AS running_cnt
        FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "udf"),
)
def q44(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator (the reference's only state is
    the window buffer, src/stream.ts:137; this is the general keyed-state
    surface): per-user running totals folded across micro-batches by
    `keyed_fold`. The returned frame is each user's FINAL state, which
    must equal the batch SUM/COUNT per user however the replay happens
    to be micro-batched — so the query is oracle-checkable (hash-match)
    without assuming a batch layout. State is int64 1e-4 QUANTA, not a
    double: each value quantizes to floor(v*1e4+0.5) per ROW before any
    accumulation (the repo's standard cross-engine idiom, cf. q81b/q96),
    so the total is order-free integer arithmetic — a double accumulator
    summed in micro-batch order could flip a 4-dp rounding boundary
    against DuckDB's differently-ordered SUM. Per-batch semantics are
    covered by the batch-equivalence test in tests/test_streaming.py."""
    sdf = stream_table(spark, sf, "events").select("user_id", "value")

    def step(total_q, pdf):
        q = np.floor(pdf["value"].to_numpy() * 1e4 + 0.5).astype("int64")
        return total_q + int(q.sum())

    finals = keyed_fold(sdf, "user_id", 0, step, "q44")
    return finals.select(
        "user_id",
        (F.col("state").cast("long") / 10000.0).alias("running_total"),
        F.col("n").alias("running_cnt"),
    )


# ------------------------------------------ Q51 stream-stream interval join
# The q51 family's oracle CTEs: purchases p, clicks c and, for the
# outer and semi joins, wm, the cutoff of the watermark-closed region
# (the scalar _events_cutoff computes on the Spark side).
_Q51_CTES = """p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts AS click_ts FROM events
                   WHERE event_type = 'click')"""
_Q51_WM_CTE = """wm AS (SELECT least(
                        MAX(CASE WHEN event_type = 'purchase' THEN ts END),
                        MAX(CASE WHEN event_type = 'click' THEN ts END))
                        - INTERVAL '1 minute' - INTERVAL '1 second'
                        AS cutoff
                    FROM events)"""


def _interval_join(purchases: DataFrame, clicks: DataFrame,
                   how: str) -> DataFrame:
    """The q51 family's stream-stream join: purchase events of
    ``purchases`` joined, per user, to the click events of ``clicks``
    in the 10 minutes up to the purchase, ``how`` in Spark's join types.
    Both sides carry a 1-minute watermark, so the join state is
    bounded: a click's state is evicted once the purchase watermark
    passes click_ts + 10 min. Columns: event_id, user_id, ts (the
    purchase's) and c_user, click_ts (the click's; none for semi)."""
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "1 minute")
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 minute")
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") > F.col("ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") <= F.col("ts")),
        how,
    )


@query(
    "q51_stream_stream_join",
    oracle=f"""
        WITH {_Q51_CTES}
        SELECT p.event_id, p.user_id, c.click_ts
        FROM p JOIN c
          ON p.user_id = c.user_id
         AND c.click_ts > p.ts - INTERVAL '10 minutes'
         AND c.click_ts <= p.ts
    """,
    tags=("streaming", "join"),
)
def q51(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join: two live streams (purchases, clicks),
    joined per user within a 10-minute event-time interval. Both sides
    carry watermarks so the join state is BOUNDED — Spark evicts click
    state once the purchase watermark passes click_ts + 10min; without the
    time bound a stream-stream join would buffer forever. The batch oracle
    is the same inequality join; result equality is the strongest
    batch<->stream check (same rows, real state store)."""
    j = _interval_join(
        stream_table(spark, sf, "events"), stream_table(spark, sf, "events"),
        "inner",
    )
    return run_to_memory(
        j.select("event_id", "user_id", "click_ts"), "q51",
        output_mode="append",
    )


def _events_cutoff(spark: SparkSession, sf: str):
    """The q51b/q51c/q51d watermark-closed cutoff, computed from the
    batch events table with the SAME expression as the oracles' wm CTE
    (min of both sides' max event time - the 1-minute delay -
    a 1-second eviction-boundary margin); 1-row collect — bounded."""
    ev = load(spark, sf, "events")[0]
    return (
        ev.groupBy()
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            ).alias("m")
        )
        .select(
            (F.col("m") - F.expr("INTERVAL 1 MINUTE")
             - F.expr("INTERVAL 1 SECOND")).alias("cutoff")
        )
        .collect()[0]["cutoff"]
    )


# ----------------------------- Q51b stream-stream LEFT OUTER interval join
@query(
    "q51b_stream_stream_left_join",
    oracle=f"""
        WITH {_Q51_CTES},
             {_Q51_WM_CTE}
        SELECT p.event_id, p.user_id, c.click_ts
        FROM p CROSS JOIN wm
        LEFT JOIN c
          ON p.user_id = c.user_id
         AND c.click_ts > p.ts - INTERVAL '10 minutes'
         AND c.click_ts <= p.ts
        WHERE p.ts <= wm.cutoff
    """,
    tags=("streaming", "join"),
)
def q51b(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: q51's enrichment shape
    when the business question is "every purchase, WITH its prior
    clicks if any" — the unmatched purchase must still come out, as a
    NULL-click row.
    Spark emits the NULL row only when the join state for that purchase
    EXPIRES (the watermark passes its eviction bound — until then a
    matching click could still arrive), so outer results are inherently
    watermark-gated: matched rows stream out immediately, null rows
    trail by the watermark. The replay therefore compares the
    WATERMARK-CLOSED REGION: purchases with ts <= final watermark
    (min of both sides' max event time − the 1-minute delay, − 1 s so
    no row sits exactly on the eviction boundary, where emit-vs-hold is
    an engine-internal strictness choice) — the same cutoff the oracle
    restates as its wm CTE. Within that region the streaming
    result must equal the batch LEFT JOIN exactly: every matched pair
    AND every null row, the latter proving state eviction really emits
    (numRowsRemoved > 0 is pinned by the adversarial multi-trigger test
    in tests/test_streaming.py, which also pins that null rows do NOT
    appear before the watermark passes).

    Scale shape: identical to q51 — both sides keyed on user_id, state
    bounded by the 10-minute interval + 1-minute delay; the outer
    variant adds no state, only the deferred null emission."""
    j = _interval_join(
        stream_table(spark, sf, "events"), stream_table(spark, sf, "events"),
        "left_outer",
    )
    sink = run_to_memory(
        j.select("event_id", "user_id", "ts", "click_ts"), "q51b",
        output_mode="append",
    )
    cut = _events_cutoff(spark, sf)
    return sink.filter(F.col("ts") <= F.lit(cut)).select(
        "event_id", "user_id", "click_ts"
    )


# --------------------------------------- Q63 stream-static enrichment join
@query(
    "q63_stream_static_join",
    oracle="""
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS cnt,
               SUM(CAST(floor(e.value * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY segment
    """,
    tags=("streaming", "join"),
)
def q63(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment: the events stream joins a static dimension
    (customer) inside each micro-batch — the standard production pattern
    for decorating a stream with slowly-changing reference data, absent
    from the reference (no joins at all). The static side re-plans per
    micro-batch (picking up dim updates) and broadcasts; no stream-side
    state is kept, so it scales with the dim table, not the stream
    history. Result equals the batch join exactly."""
    (customer,) = load(spark, sf, "customer")
    sdf = stream_table(spark, sf, "events")
    joined = sdf.join(
        customer.select("c_custkey", "c_mktsegment"),
        sdf.user_id == F.col("c_custkey"),
    )
    agg = (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (
                F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
                / F.lit(10000.0)
            ).alias("sum_value"),
        )
    )
    return run_to_memory(agg, "q63", output_mode="complete").orderBy("segment")


# ----------------------------------- Q141 streaming daily revenue (exact)
@query(
    "q141_stream_daily_revenue",
    oracle="""
        SELECT date_trunc('day', ts) AS day,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents,
               COUNT(*) AS cnt
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    tags=("streaming", "slow"),
)
def q141(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming daily revenue with INTEGER state: purchases quantize to
    cents in the scan, so the windowed sum accumulates int64 across
    micro-batches — exactly associative regardless of batch boundaries
    or arrival order, the windowed-aggregation counterpart of q44's
    quantize-before-accumulate rule (a double SUM here could round
    differently per replay schedule; an integer one cannot). Tumbling
    1-day event-time windows, watermarked; result equals the batch
    oracle exactly, not approximately."""
    sdf = stream_table(spark, sf, "events")
    agg = (
        sdf.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).alias("rev_cents"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(F.col("window.start").alias("day"), "rev_cents", "cnt")
    )
    return run_to_memory(agg, "q141", output_mode="complete")


# ---------------------------- Q165 streaming perceptual image dedup
@query(
    "q165_stream_phash_dedup",
    oracle="""
        SELECT CAST(3 * (doc_id // 3) AS BIGINT) AS group_rep,
               CAST(COUNT(*) AS BIGINT) AS n_members
        FROM documents GROUP BY 1
    """,
    tags=("streaming", "multimodal", "dedup"),
)
def q165(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming perceptual image dedup — q158's decode -> pHash chain
    on a REAL micro-batched stream: the documents replay synthesizes
    each group's BMP (the shared q158 fixture), the Arrow pHash kernel
    runs INSIDE the streaming plan (mapInPandas on an unbounded frame),
    and a streaming aggregation groups by the hash — so arriving
    duplicates fold into their group's state regardless of which
    micro-batch carries them. Output is (min doc_id, member count) per
    perceptual group; because pHash is exactly invariant within a group
    and collision-free across groups on this fixture (q158's proof),
    the result equals the batch closed form EXACTLY — hash-matched, the
    strongest batch<->stream equivalence for a multimodal pipeline.
    Complete mode: the replay ends and the group state is open-ended
    (same rationale as q29)."""
    from ..operators import multimodal
    from .llm import _synth_group_bmps

    sdf = stream_table(spark, sf, "documents")
    hashed = multimodal.phash_blobs(_synth_group_bmps(sdf))
    agg = (
        hashed.groupBy("phash")
        .agg(
            F.min("doc_id").alias("group_rep"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("group_rep", "n_members")
    )
    return run_to_memory(agg, "q165", output_mode="complete")


@query(
    "q165b_stream_phash_dedup_update",
    oracle="""
        SELECT CAST(3 * (doc_id // 3) AS BIGINT) AS group_rep,
               CAST(COUNT(*) AS BIGINT) AS n_members
        FROM documents GROUP BY 1
    """,
    tags=("streaming", "multimodal", "dedup"),
)
def q165b(spark: SparkSession, sf: str) -> DataFrame:
    """q165's streaming perceptual dedup in its DEPLOYMENT output mode:
    UPDATE — each trigger emits only the perceptual groups whose
    membership changed, the shape that feeds an upsert store, instead
    of complete mode's full-table re-emission per trigger (q166b's
    rationale applied to the media family). Like the inverted index,
    dedup-group state is NOT watermark-evicted — a duplicate may arrive
    arbitrarily late and must still fold into its group, per-key state
    IS the semantics — so the production trade here is emission volume.
    The memory sink holds an update log keyed by phash; latest-per-key
    compaction is max(n_members) (monotone count) and min(group_rep)
    (monotone min) per hash — identity on the registered single-file
    replay, hash-matched against the same batch closed form as q165."""
    from ..operators import multimodal
    from .llm import _synth_group_bmps

    sdf = stream_table(spark, sf, "documents")
    hashed = multimodal.phash_blobs(_synth_group_bmps(sdf))
    agg = hashed.groupBy("phash").agg(
        F.min("doc_id").alias("group_rep"),
        F.count(F.lit(1)).alias("n_members"),
    )
    log = run_to_memory(agg, "q165b", output_mode="update")
    return (
        log.groupBy("phash")
        .agg(
            F.min("group_rep").alias("group_rep"),
            F.max("n_members").alias("n_members"),
        )
        .select("group_rep", "n_members")
    )


# ------------------------- Q166 streaming inverted-index maintenance
from .llm import _BM25_TERMS_SQL as _Q166_TERMS_SQL  # noqa: E402 — ONE
# source for the term set: the Spark body imports _BM25_TERMS, so the
# oracle must be built from the same constant or an edit desyncs them


@query(
    "q166_stream_inverted_index",
    oracle=f"""
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        WHERE token IN ({_Q166_TERMS_SQL})
        GROUP BY 1, 2
    """,
    tags=("streaming", "retrieval", "text"),
)
def q166(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental inverted-index maintenance: the term-filtered tf
    table q157's retrieval reads, maintained as STREAMING STATE — each
    micro-batch's documents explode into (doc_id, token) postings that
    fold into the per-key counts, so the posting lists a streaming
    ingestion pipeline serves BM25 from stay current without batch
    rebuilds. Exact integer state (counts), so the final table equals
    the batch tf SQL regardless of micro-batch boundaries —
    hash-matched. (Uses q157's term set literally so the index is the
    one its scorer would consume.)"""
    from .llm import _BM25_TERMS

    sdf = stream_table(spark, sf, "documents")
    tf = (
        sdf.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin(_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    return run_to_memory(tf, "q166", output_mode="complete")


@query(
    "q166b_stream_inverted_index_update",
    oracle=f"""
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        WHERE token IN ({_Q166_TERMS_SQL})
        GROUP BY 1, 2
    """,
    tags=("streaming", "retrieval", "text"),
)
def q166b(spark: SparkSession, sf: str) -> DataFrame:
    """q166's inverted-index maintenance in its DEPLOYMENT output mode:
    UPDATE — each trigger emits only the (doc_id, token) postings whose
    count changed, which is what actually feeds an upsert store
    (compacted topic / Delta MERGE), instead of complete mode's
    full-table re-emission per trigger. Unlike the decontamination twin
    (q167b) the state here is NOT watermark-evicted — an index must
    stay complete, per-key counts ARE the semantics — so the
    production trade is emission volume, not state eviction. The
    memory sink is therefore an update log; latest-per-key for a
    monotone count is max(tf) (identity on the registered single-file
    replay — one trigger, one emission per key), hash-matched against
    the same batch tf oracle as q166."""
    from .llm import _BM25_TERMS

    sdf = stream_table(spark, sf, "documents")
    tf = (
        sdf.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin(_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    log = run_to_memory(tf, "q166b", output_mode="update")
    return log.groupBy("doc_id", "token").agg(F.max("tf").alias("tf"))


# --------------------------- Q167 streaming decontamination at ingest
def _q167_oracle() -> str:
    # built from corpus.py's OWN sql builders (shared _DECON_N /
    # _EVAL_FRACTION / _EVAL_SEED constants), so the streaming twin can
    # never drift from q77's batch semantics
    from ..operators.sampling import sample_hash_sql
    from .corpus import _DECON_N, _EVAL_FRACTION, _EVAL_SEED, _shingle_sql

    return f"""
        WITH sh AS (
          SELECT doc_id, lang, {_shingle_sql(_DECON_N)} AS s,
                 {sample_hash_sql('doc_id', _EVAL_FRACTION, seed=_EVAL_SEED)}
                     AS is_eval
          FROM documents
        ),
        evs AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE is_eval)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_contaminated
        FROM (SELECT DISTINCT doc_id, lang
              FROM (SELECT doc_id, lang, unnest(s) AS g FROM sh
                    WHERE NOT is_eval) t
              WHERE g IN (SELECT g FROM evs))
        GROUP BY lang
        ORDER BY lang
    """


@query(
    "q167_stream_decontaminate",
    oracle=_q167_oracle(),
    tags=("streaming", "decontamination", "dedup"),
)
def q167(spark: SparkSession, sf: str) -> DataFrame:
    """Decontamination AT INGEST — q77's semantics on a real stream,
    which is how production pipelines actually deploy the check (flag
    contaminated documents as they arrive, not in a batch sweep): the
    training replay explodes 5-gram shingles, a STREAM-STATIC left-semi
    join probes the benchmark-sized eval shingle set, streaming
    dropDuplicates collapses multi-hit documents (stateful dedup), and
    a downstream streaming aggregation counts per language — a CHAINED
    stateful pipeline (dedup -> agg) that Spark 4 executes in one
    query. Per-lang contaminated counts equal the batch closed form
    regardless of micro-batch boundaries — hash-matched against an
    oracle built from corpus.py's own sql builders (one source for the
    shingle/eval constants)."""
    from ..operators import dedup as dedup_ops
    from ..operators import sampling
    from .corpus import _DECON_N, _EVAL_FRACTION, _EVAL_SEED

    from ..plans import materialize_once

    (docs,) = load(spark, sf, "documents")
    is_eval = sampling.sample_predicate(
        "doc_id", _EVAL_FRACTION, seed=_EVAL_SEED
    )
    # materialized ONCE: the static side of a stream-static join is
    # re-planned EVERY micro-batch — without this, N triggers cost N
    # corpus scans + shingle explodes to rebuild an unchanging
    # benchmark-sized set
    eval_shingles = materialize_once(
        docs.filter(is_eval)
        .select(F.explode(dedup_ops.shingles("text", _DECON_N)).alias("g"))
        .distinct()
    )
    sdf = stream_table(spark, sf, "documents")
    # the ONE is_eval definition serves both carve-outs — rebuilding the
    # predicate inline would let the (key, fraction, seed) triple drift
    train = sdf.filter(~is_eval)
    contam = (
        train.select(
            "doc_id", "lang",
            F.explode(dedup_ops.shingles("text", _DECON_N)).alias("g"),
        )
        .join(eval_shingles, "g", "left_semi")
        .dropDuplicates(["doc_id", "lang"])
    )
    agg = contam.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_contaminated")
    )
    return run_to_memory(agg, "q167", output_mode="complete")


# ---------------- Q167b decontamination with WATERMARK-EVICTED state
# Arrival-time synthesis shared by the Spark body, the oracle, and the
# adversarial eviction test: document doc_id arrives at epoch+doc_id
# seconds (epoch divisible by the 120 s window so window starts are
# exactly epoch + (doc_id // 120) * 120).
_Q167B_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC; 1704067200 % 120 == 0
_Q167B_WINDOW_S = 120
_Q167B_DELAY = "2 minutes"


def _q167b_oracle() -> str:
    from ..operators.sampling import sample_hash_sql
    from .corpus import _DECON_N, _EVAL_FRACTION, _EVAL_SEED, _shingle_sql

    return f"""
        WITH sh AS (
          SELECT doc_id, lang, {_shingle_sql(_DECON_N)} AS s,
                 {sample_hash_sql('doc_id', _EVAL_FRACTION, seed=_EVAL_SEED)}
                     AS is_eval
          FROM documents
        ),
        evs AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE is_eval),
        contam AS (
          SELECT DISTINCT doc_id, lang
          FROM (SELECT doc_id, lang, unnest(s) AS g FROM sh
                WHERE NOT is_eval) t
          WHERE g IN (SELECT g FROM evs))
        SELECT CAST({_Q167B_EPOCH} + (doc_id // {_Q167B_WINDOW_S})
                    * {_Q167B_WINDOW_S} AS BIGINT) AS win_start,
               lang, CAST(COUNT(*) AS BIGINT) AS n_contaminated
        FROM contam GROUP BY 1, 2 ORDER BY 1, 2
    """


@query(
    "q167b_stream_decontaminate_update",
    oracle=_q167b_oracle(),
    tags=("streaming", "decontamination", "dedup", "watermark", "slow"),
)
def q167b(spark: SparkSession, sf: str) -> DataFrame:
    """q167's chained stateful pipeline in its PRODUCTION deployment
    shape: update output mode with WATERMARK-EVICTED state, so an
    unbounded service holds state proportional to the watermark horizon
    — not to everything ever seen (q167's complete mode re-emits the
    whole result every trigger and keeps all state forever; right for
    the oracle equivalence proof, wrong shape for an always-on ingest).

    Chain: synthesize per-document arrival time (epoch + doc_id seconds
    — the fixture arithmetic the oracle restates), stream-static
    left-semi probe of the eval shingle set, then
    ``dropDuplicatesWithinWatermark`` — bounded dedup state, entries
    evicted once the watermark passes them; EXACTLY equal to global
    dropDuplicates here because every copy of a (doc_id, lang) key
    comes from ONE source row's shingle explode and so carries one
    arrival time — then a 120 s windowed count per language in UPDATE
    mode: each trigger emits only changed keys, and closed windows'
    state is evicted as the watermark passes. The memory sink therefore
    holds an update LOG; the final answer is latest-per-key, which for
    a monotone count is max() per key — the compaction an upsert store
    (compacted topic / Delta MERGE) applies by construction.

    Batch-boundary independence + eviction are pinned adversarially in
    tests/test_streaming.py (6 time-ordered single-file triggers must
    reproduce the one-batch answer AND report numRowsRemoved > 0 in the
    dedup operator's state metrics). With the registered single-file
    replay everything lands in one trigger, so the update log IS the
    final table and the compaction is the identity — hash-matched
    against the windowed batch oracle either way."""
    from ..operators import dedup as dedup_ops
    from ..operators import sampling
    from ..plans import materialize_once
    from .corpus import _DECON_N, _EVAL_FRACTION, _EVAL_SEED

    (docs,) = load(spark, sf, "documents")
    is_eval = sampling.sample_predicate(
        "doc_id", _EVAL_FRACTION, seed=_EVAL_SEED
    )
    eval_shingles = materialize_once(
        docs.filter(is_eval)
        .select(F.explode(dedup_ops.shingles("text", _DECON_N)).alias("g"))
        .distinct()
    )
    sdf = stream_table(spark, sf, "documents")
    # watermark declared AT THE SOURCE (before the explode/join), the
    # production placement: event-time stats then come from every
    # arriving document, so the watermark advances even through triggers
    # where no row survives the contamination probe
    train = (
        sdf.filter(~is_eval)
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(_Q167B_EPOCH) + F.col("doc_id"))
        )
        .withWatermark("ts", _Q167B_DELAY)
    )
    contam = (
        train.select(
            "doc_id", "lang", "ts",
            F.explode(dedup_ops.shingles("text", _DECON_N)).alias("g"),
        )
        .join(eval_shingles, "g", "left_semi")
        .dropDuplicatesWithinWatermark(["doc_id", "lang"])
    )
    agg = (
        contam.groupBy(
            F.window("ts", f"{_Q167B_WINDOW_S} seconds"), "lang"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
        .select(
            F.col("window.start").cast("long").alias("win_start"),
            "lang", "n_contaminated",
        )
    )
    log = run_to_memory(agg, "q167b", output_mode="update")
    return (
        log.groupBy("win_start", "lang")
        .agg(F.max("n_contaminated").alias("n_contaminated"))
        .orderBy("win_start", "lang")
    )


# -------------------------- Q168 streaming incremental ingest dedup
def _q168_oracle() -> str:
    # q57's oracle verbatim (one source of truth for the novel-batch
    # semantics — the streaming twin must answer the identical question)
    return REGISTRY["q57_incremental_ingest_dedup"].oracle


@query(
    "q168_stream_ingest_dedup",
    oracle=_q168_oracle(),
    tags=("streaming", "dedup", "incremental"),
)
def q168(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ingest dedup ON THE STREAM — q57's semantics the way
    an ingestion service runs it: new-source documents arrive as a
    replay, fingerprint in the scan projection, and a STREAM-STATIC
    LEFT ANTI join drops every arrival whose content fingerprint
    already exists in the historical corpus (the static side reduces to
    distinct 8-byte fps — at 100 TB this is the side a runtime bloom or
    bucketed fingerprint table represents). Append mode: novel rows
    emit as they survive, nothing is stateful — the history IS the
    state. Output equals q57's batch answer exactly (same oracle
    text)."""
    from ..operators import text as text_ops
    from .pipeline import _BATCH_SRC

    from ..plans import materialize_once

    (docs,) = load(spark, sf, "documents")
    # materialized ONCE (q167's rationale): the historical fingerprint
    # set must not be recomputed from the corpus on every trigger
    corpus_fps = materialize_once(
        docs.filter(~F.col("source").isin(*_BATCH_SRC))
        .select(text_ops.fingerprint("text").alias("fp"))
        .distinct()
    )
    sdf = stream_table(spark, sf, "documents")
    batch = sdf.filter(F.col("source").isin(*_BATCH_SRC)).select(
        "doc_id", text_ops.fingerprint("text").alias("fp")
    )
    novel = batch.join(corpus_fps, "fp", "left_anti").select("doc_id", "fp")
    return run_to_memory(novel, "q168", output_mode="append")


# --------------- Q177b STREAMING DSIR — importance scoring at ingest
def _q177b_oracle() -> str:
    """q177's fit+score CTE chain WITHOUT the top-k rank (every raw doc
    scores at ingest; selection stays a downstream batch concern) —
    assembled from the SAME shared SQL fragments batch q177's oracle
    uses (_DSIR_FIT_SQL / _DSIR_SCORE_SQL: one arithmetic home)."""
    from .llm import _DSIR_FIT_SQL, _DSIR_SCORE_SQL

    return _DSIR_FIT_SQL + "," + _DSIR_SCORE_SQL + """
        SELECT doc_id, source, CAST(n_bigrams AS BIGINT) AS n_bigrams,
               CAST(score AS BIGINT) AS dsir_score
        FROM sc
    """


@query(
    "q177b_stream_dsir_score",
    oracle=_q177b_oracle,
    tags=("streaming", "sampling", "llm", "quality", "slow"),
)
def q177b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING DSIR — q177's importance scoring deployed the way an
    ingestion service runs it: the 64-bucket log-importance table is fit
    ONCE from the static corpus (same +1-smoothed target/raw multinomials,
    same micro-nat quantization — one source of arithmetic, q177's
    builders), COLLECTED as 64 bounded literals (the k-means-centroid
    collect policy), and every arriving raw document is scored in a PURE
    SCAN PROJECTION — bigrams, buckets, and the integer lambda sum are
    higher-order functions over the row's own tokens, so the stream needs
    NO explode, NO join, and NO state: append mode, one output row per
    arrival at arrival time. This is the deployment shape batch q177
    selects from; global top-k stays a downstream batch concern (a stream
    cannot rank globally without unbounded state). Output equals the
    batch score for every raw doc regardless of micro-batch boundaries
    (stateless by construction — the strongest boundary-independence
    argument of the streaming twins)."""
    from ..operators import text as text_ops
    from .llm import _DSIR_BUCKETS, _DSIR_TARGET, _dsir_fb, _dsir_lam

    (documents,) = load(spark, sf, "documents")
    # fit via q177's shared builders; the stream replay reads the same
    # table, so no id-spread repartition is needed on the fit side
    lam_rows = _dsir_lam(
        _dsir_fb(documents, spread_ids=False)
    ).collect()  # BOUNDED: exactly _DSIR_BUCKETS rows by construction
    lam_by_f = {r["f"]: r["lam"] for r in lam_rows}
    # absent buckets (no bigram hashed there) never occur in scoring by
    # construction — scored docs hash into fitted buckets only when the
    # fit saw the whole corpus, which it did; default 0 keeps the
    # expression total anyway
    lam_arr = F.array(*[
        F.lit(int(lam_by_f.get(f, 0))).cast("long")
        for f in range(_DSIR_BUCKETS)
    ])

    sdf = stream_table(spark, sf, "documents")
    raw = sdf.filter(
        (F.col("lang") != _DSIR_TARGET)
        & (F.size(F.split("text", " ")) >= 2)
    ).select(
        "doc_id", "source", F.split("text", " ").alias("ts")
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 1, F.lit(1)),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("ts"), i),
            F.element_at(F.col("ts"), i + 1),
        ),
    )
    score = F.aggregate(
        F.transform(
            bigrams,
            lambda b: F.element_at(
                lam_arr,
                (text_ops.fingerprint(b) % _DSIR_BUCKETS + 1).cast("int"),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = raw.select(
        "doc_id",
        "source",
        (F.size("ts") - 1).cast("long").alias("n_bigrams"),
        score.alias("dsir_score"),
    )
    return run_to_memory(scored, "q177b", output_mode="append")


# ----------- Q178b STREAMING Gopher rules — quality filtering at ingest
def _q178b_oracle() -> str:
    """Per-document Gopher verdicts (no funnel — the funnel is a batch
    report; at ingest each doc carries its own verdict): same rules and
    constants as batch q178, with the top-2-gram coverage computed
    ROW-LOCALLY (count equal bigrams inside the doc's own list) so the
    oracle needs no self-join — mirroring the stream side exactly."""
    from .llm import _GOPHER_SCALARS_SQL, _gopher_verdicts_sql

    return f"""
        WITH t AS (SELECT doc_id, lang, n_chars,
                          string_split(text,' ') AS ts
                   FROM documents),
        m AS (SELECT doc_id, lang, n_chars,
                     {_GOPHER_SCALARS_SQL},
                     CASE WHEN len(ts) >= 2 THEN
                       list_max(list_transform(
                         list_transform(generate_series(1, len(ts)-1),
                                        i -> ts[i] || ' ' || ts[i+1]),
                         b2 -> len(list_filter(
                                 list_transform(
                                   generate_series(1, len(ts)-1),
                                   i -> ts[i] || ' ' || ts[i+1]),
                                 z -> z = b2)) * len(b2)))
                     ELSE 0 END AS top_cov
              FROM t),
        r AS (SELECT doc_id, lang,
                     {_gopher_verdicts_sql("top_cov")}
              FROM m)
        SELECT doc_id, lang,
               CAST(f_wc AS BIGINT) AS f_wc,
               CAST(f_mwl AS BIGINT) AS f_mwl,
               CAST(f_req AS BIGINT) AS f_req,
               CAST(f_top AS BIGINT) AS f_top
        FROM r
    """


@query(
    "q178b_stream_gopher_filter",
    oracle=_q178b_oracle,
    tags=("streaming", "text", "llm", "quality"),
)
def q178b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING Gopher quality filtering — q178's named rule set the way
    an ingestion service applies it: every arriving document carries its
    own per-rule verdict columns, computed in a PURE SCAN PROJECTION
    (append mode, no state, no join — the q177b deployment argument).
    The batch funnel's one cross-row rule (top-2-gram coverage) is
    reformulated ROW-LOCALLY: count equal bigrams inside the document's
    own bigram list via nested higher-order functions — O(len²) per row
    in codegen, bounded by document length, never corpus size, and
    value-identical to the batch groupBy formulation (same max of
    count × char-length). Constants are imported from batch q178 — one
    rule home. Output: (doc_id, lang, f_wc, f_mwl, f_req, f_top) per
    arrival; the corpus funnel stays a batch report (q178)."""
    from .llm import _gopher_scalar_exprs, _gopher_verdict_exprs

    sdf = stream_table(spark, sf, "documents")
    ts = F.split("text", " ")
    d = sdf.select(
        "doc_id", "lang", "n_chars", ts.alias("ts")
    )
    bgs = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("ts"), i),
            F.element_at(F.col("ts"), i + 1),
        ),
    )
    top_cov = F.when(
        F.size("ts") >= 2,
        F.array_max(
            F.transform(
                bgs,
                # long, matching batch q178's groupBy count — an int
                # would wrap negative on extreme docs and silently PASS
                # the coverage rule
                lambda b2: (
                    F.size(F.filter(bgs, lambda z: z == b2))
                    .cast("long") * F.length(b2)
                ),
            )
        ),
    ).otherwise(F.lit(0).cast("long"))
    m = d.select(
        "doc_id",
        "lang",
        "n_chars",
        *_gopher_scalar_exprs(),
        top_cov.alias("top_cov"),
    )
    out = m.select("doc_id", "lang", *_gopher_verdict_exprs())
    return run_to_memory(out, "q178b", output_mode="append")


# ------------- Q179b STREAMING BPE application — tokenize at ingest
def _q179b_oracle() -> str:
    """Batch mirror: q179's 6-level training chain (same generated CTEs)
    computes the merges, then every DOCUMENT (not vocab word) tokenizes
    by folding each of its words through the same greedy merge fold —
    exactly what the stream side does with the merges as literals."""
    from .llm import _BPE_MERGES, _bpe_oracle

    return _bpe_oracle(chain_only=True) + f""",
        vocab AS (SELECT word, s FROM seq{_BPE_MERGES})
        SELECT d.doc_id,
               CAST(SUM(len(string_split(v.s, chr(31)))) AS BIGINT)
                   AS n_bpe_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_words
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents) d
        JOIN vocab v ON v.word = d.word
        GROUP BY d.doc_id
    """


@query(
    "q179b_stream_bpe_tokenize",
    oracle=_q179b_oracle,
    tags=("streaming", "text", "llm", "tokenizer", "slow"),
)
def q179b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING BPE application — tokenize at ingest with a vocabulary
    TRAINED batch-side (the universal production split: train offline,
    apply online): q179's 6 merges are learned on the static corpus
    (same loop, same argmax policy), collected as <= 6 bounded (a, b)
    pairs, and every arriving document tokenizes in ONE Arrow-batched
    kernel — textbook greedy merge application per word, the merge list
    shipped in the task closure (a real tokenizer's merge table is a
    bounded artifact; this is exactly how production tokenizers apply),
    with a per-batch word cache so the kernel is O(distinct words), not
    O(tokens). No explode, no join, no state: append mode, one row per
    arrival with its BPE token count. The oracle replays q179's
    training CTEs and tokenizes via a vocab join — equality proves the
    kernel's application matches training's segmentation exactly.
    (A first cut unrolled the folds as one nested codegen expression:
    value-identical, but Catalyst optimization time hit ~9 min at
    sf0.1 — measured, replaced with the kernel.)"""
    from .llm import _bpe_train

    (documents,) = load(spark, sf, "documents")
    _seq, merges = _bpe_train(documents)  # fit via q179's shared trainer

    # Application kernel: Arrow-batched Python folding each word through
    # the merge list — real tokenizers apply as a library kernel, and the
    # merge list is a BOUNDED artifact (<= _BPE_MERGES pairs here; ~256k
    # in a production vocab — ships in the task closure either way). A
    # first cut unrolled the 6 folds as one nested codegen expression:
    # value-identical but the expression tree blew Catalyst optimization
    # time to ~9 min at sf0.1 — measured, replaced. The per-word cache
    # makes the kernel O(distinct words) per batch, not O(tokens).
    frozen_merges = tuple(merges)

    def tokenize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}

        def n_sym(word: str) -> int:
            got = cache.get(word)
            if got is not None:
                return got
            if word == "":
                # training splits '' to [''] (one empty symbol) on both
                # engines; list('') == [] would under-count by one
                cache[word] = 1
                return 1
            syms = list(word)
            for a, b in frozen_merges:
                out_syms, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == a
                            and syms[i + 1] == b):
                        out_syms.append(a + b)
                        i += 2
                    else:
                        out_syms.append(syms[i])
                        i += 1
                syms = out_syms
            cache[word] = len(syms)
            return cache[word]

        for pdf in it:
            words = pdf["text"].str.split(" ")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bpe_tokens": [
                        sum(n_sym(w) for w in ws) for ws in words
                    ],
                    "n_words": [len(ws) for ws in words],
                }
            )

    sdf = stream_table(spark, sf, "documents")
    out = sdf.select("doc_id", "text").mapInPandas(
        tokenize, "doc_id long, n_bpe_tokens long, n_words long"
    )
    return run_to_memory(out, "q179b", output_mode="append")


# ------------------- Q181b STREAMING quantile sketch (keyed KLL state)
_Q181B_K = 200
_Q181B_QS = (0.5, 0.9, 0.99)
_Q181B_BUCKETS = 8


@query("q181b_stream_quantile_sketch", oracle=None,
       tags=("streaming", "sketch", "approx", "stateful"))
def q181b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING quantile sketch: q181's mergeable KLL compactor
    maintained as KEYED STREAMING STATE — the deployment shape for
    percentile monitoring over an unbounded stream: a sketch that FOLDS
    ACROSS MICRO-BATCHES (`keyed_fold`) instead of being rebuilt per
    batch. The lineitem replay hashes into 8 buckets
    (`pmod(xxhash64(l_orderkey), 8)` — a deterministic key, so state
    parallelism is data-independent); each bucket's state carries the
    full compactor (levels, alternation toggles, err — bounded: <=
    k*log2(n/k) floats) and each trigger folds that batch's values
    through the SAME `_kll_update` core the batch operator uses (one
    arithmetic home). After the replay the 8 final summaries merge by
    union — mergeability is the whole point (Agarwal et al. 2012) — and
    p50/p90/p99 come off the merged items with the summed bound, exactly
    `kll_quantiles`' final step.

    Rows-only by design (the q180/q181 category — and the streaming
    estimates legitimately differ from batch q181's: the sketch's
    exact items depend on arrival grouping; the BOUND does not). The
    pytest contract pins: n == exact row count (exactly-once folding
    across triggers), the merged bound respected vs numpy-exact ranks,
    and bound non-vacuousness."""
    import json

    from ..operators.sketch import _kll_estimate, _kll_update

    sdf = stream_table(spark, sf, "lineitem").select(
        F.pmod(F.xxhash64("l_orderkey"), F.lit(_Q181B_BUCKETS))
        .alias("bucket"),
        F.col("l_extendedprice").alias("x"),
    )

    def step(acc, pdf):
        levels, toggles, err, _ = _kll_update(*acc, 0, pdf["x"], _Q181B_K)
        return [levels, toggles, err]

    # the 8 final summaries are bounded, so the merge + estimate runs
    # on the driver
    finals = keyed_fold(sdf, "bucket", [[[]], [0], 0], step, "q181b").collect()
    states = [(json.loads(r["state"]), r["n"]) for r in finals]
    items = sorted(
        (float(v), 1 << h)
        for (levels, _, _), _ in states
        for h, buf in enumerate(levels)
        for v in buf
    )
    err_total = sum(err for (_, _, err), _ in states)
    n_total = sum(n for _, n in states)
    rows = _kll_estimate(items, err_total, n_total, _Q181B_QS)
    return spark.createDataFrame(
        rows, "q double, est double, n long, err_bound long"
    )


# ------------------- Q180b STREAMING heavy hitters (keyed MG state)
_Q180B_K = 64
_Q180B_TOP = 10
_Q180B_BUCKETS = 8


@query("q180b_stream_heavy_hitters", oracle=None,
       tags=("streaming", "sketch", "approx", "stateful", "text", "slow"))
def q180b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING heavy hitters: q180's Misra-Gries summary maintained as
    KEYED STREAMING STATE — with q181b this completes the sketch matrix
    (frequencies x quantiles, batch x streaming). Tokens hash into 8
    buckets by pmod(xxhash64(token), 8), so EVERY occurrence of a token
    lands in one bucket and the final answer is a plain UNION of the
    per-bucket counter sets (disjoint token spaces — no cross-summary
    merge at all, which even SHARPENS the batch bound: each bucket
    under-counts by at most N_bucket/(k+1) <= N/(k+1), and a
    globally-heavy token is a fortiori heavy in its own bucket, so
    heavy-completeness carries over). Each bucket's state holds its
    <= k counters folded across micro-batches (`keyed_fold`) by the
    same `_mg_update` step batch `misra_gries` uses. Output: top-10
    tokens by estimated count (est DESC, token ASC), the q180 shape.

    Rows-only by design (the q180/q181 category); the pytest contract
    and APPROX_EVIDENCE pin never-over-counts, the per-bucket bound,
    heavy-completeness, and exactly-once folding (total stream n ==
    exact token count)."""
    import json

    from ..operators.sketch import _mg_update

    sdf = stream_table(spark, sf, "documents").select(
        F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).select(
        F.pmod(F.xxhash64("token"), F.lit(_Q180B_BUCKETS)).alias("bucket"),
        "token",
    )
    finals = keyed_fold(
        sdf, "bucket", {},
        lambda counters, pdf: _mg_update(counters, pdf["token"], _Q180B_K),
        "q180b",
    ).collect()
    rows = sorted(
        (
            (tok, est)
            for r in finals
            for tok, est in json.loads(r["state"]).items()
        ),
        key=lambda te: (-te[1], te[0]),
    )[:_Q180B_TOP]
    return spark.createDataFrame(rows, "token string, est_count long")


# ------------- Q193b STREAMING C4 filtering — quality verdicts at ingest
def _q193b_oracle() -> str:
    """Batch mirror of the per-arrival verdict rows: q193's shared CTE
    chain down to the per-document level (no corpus rollup — the
    stream emits one row per arriving doc)."""
    from .llm import _C4_DOC_SQL, _C4_MIN_LINES

    return f"""
        WITH {_C4_DOC_SQL}
        SELECT doc_id, lang, n_lines, n_kept_lines,
               any_brace, any_lorem, kept_chars,
               (NOT any_brace AND NOT any_lorem
                AND n_kept_lines >= {_C4_MIN_LINES}) AS doc_kept
        FROM doc
    """


@query(
    "q193b_stream_c4_filter",
    oracle=_q193b_oracle,
    tags=("streaming", "text", "llm", "quality"),
)
def q193b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING C4 quality filtering — q193's ruleset the way an
    ingestion service applies it (the q178b deployment shape): every
    arriving document carries its per-line-cascade verdict columns,
    computed in a PURE SCAN PROJECTION — append mode, no state, no
    join, no explode (the line dimension stays inside nested
    higher-order functions). The rule expressions are imported from
    batch q193 (`_c4_doc_cols` — one rule home); the oracle replays
    q193's CTE chain to the per-document level, so equality proves the
    stream side applies exactly the batch semantics."""
    from .llm import _C4_MIN_LINES, _c4_doc_cols

    sdf = stream_table(spark, sf, "documents")
    per_doc = sdf.select(
        "doc_id", "lang", F.split("text", " ").alias("ts")
    ).select("doc_id", "lang", *_c4_doc_cols())
    out = per_doc.select(
        "doc_id", "lang", "n_lines", "n_kept_lines",
        "any_brace", "any_lorem", "kept_chars", "doc_kept",
    )
    return run_to_memory(out, "q193b", output_mode="append")


# ----------------------------- Q51c stream-stream FULL OUTER interval join
@query(
    "q51c_stream_stream_full_join",
    oracle=f"""
        WITH {_Q51_CTES},
             {_Q51_WM_CTE}
        SELECT p.event_id, p.user_id AS p_user, c.user_id AS c_user,
               c.click_ts
        FROM p FULL JOIN c
          ON p.user_id = c.user_id
         AND c.click_ts > p.ts - INTERVAL '10 minutes'
         AND c.click_ts <= p.ts
        CROSS JOIN wm
        WHERE (p.event_id IS NOT NULL AND p.ts <= wm.cutoff)
           OR (p.event_id IS NULL
               AND c.click_ts <= wm.cutoff - INTERVAL '10 minutes')
    """,
    tags=("streaming", "join"),
)
def q51c(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join, completing the
    stream-join matrix (q51 inner, q51b left outer): every
    purchase WITH its prior clicks if any, AND every click that
    attributed to no purchase — the two-sided audit shape (unattributed
    clicks are the marketing-waste signal, unmatched purchases the
    organic-sales signal).

    Null emission is watermark-gated PER SIDE, at different bounds: an
    unmatched purchase's state expires when the watermark passes its
    own event time (clicks only look backward from it), but an
    unmatched CLICK can still match purchases up to 10 minutes ahead,
    so its state lives until the watermark passes click_ts + 10min.
    The replay therefore compares a two-sided watermark-closed region:
    purchase-bearing rows with ts <= cutoff, null-purchase rows with
    click_ts <= cutoff - 10min (cutoff = min of both sides' max event
    time - 1min delay - 1s eviction-boundary margin, same scalar the
    oracle restates). Within it the streaming result must equal the
    batch FULL JOIN exactly — both null populations included, pinned
    further by the adversarial multi-trigger test
    (tests/test_streaming.py: both-side null gating + split==whole).

    Scale shape: q51's — keyed on user_id, state bounded by interval +
    delay; the full-outer variant adds only the second deferred null
    path, no extra state."""
    j = _interval_join(
        stream_table(spark, sf, "events"), stream_table(spark, sf, "events"),
        "full_outer",
    ).select(
        "event_id", F.col("user_id").alias("p_user"), "ts", "c_user",
        "click_ts",
    )
    sink = run_to_memory(j, "q51c", output_mode="append")
    cut = _events_cutoff(spark, sf)
    return sink.filter(
        (F.col("event_id").isNotNull() & (F.col("ts") <= F.lit(cut)))
        | (
            F.col("event_id").isNull()
            & (
                F.col("click_ts")
                <= F.lit(cut) - F.expr("INTERVAL 10 MINUTES")
            )
        )
    ).select("event_id", "p_user", "c_user", "click_ts")


# ----------- Q192b STREAMING KMV — distinct-count sketch as keyed state
_Q192B_K = 1024
_Q192B_BUCKETS = 8


@query("q192b_stream_kmv_distinct", oracle=None,
       tags=("streaming", "sketch", "approx"))
def q192b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING KMV: q192's k-minimum-values summary maintained as
    KEYED STREAMING STATE — completing the sketch matrix for cardinality
    (with q180b frequencies and q181b quantiles every mergeable summary
    runs batch AND streaming). Hashes bucket by pmod(xxhash64, 8); each
    bucket's state holds ITS OWN k smallest distinct hashes (per-bucket
    k = full k: in the worst case every global minimum lands in one
    bucket, so nothing smaller guarantees containment of the global
    k-min), folded monotonically across micro-batches (`keyed_fold`) by
    the same `_kmv_update` step `kmv_summary` uses, trimmed to k per
    Arrow chunk. The k-min fold commutes, so arrival grouping CANNOT
    change the result. The final answer unions the bucket sets, takes
    the global k smallest, and applies the SAME `kmv_estimate`
    arithmetic as batch — which is why the streaming estimate must
    EQUAL batch q192's order_keys estimate exactly, the equality the
    pytest contract pins (MG/KLL can only pin bounds; KMV's set-purity
    makes streaming == batch a hard equality).

    Scale shape: state bounded at 8k longs total regardless of stream
    length; emission is per-bucket per-trigger (append mode), the
    union/estimate a bounded driver fold (the centroid-collect
    policy). Rows-only by design (the q180/q181 category);
    APPROX_EVIDENCE records the equality at both SFs."""
    import json

    from ..operators.sketch import _kmv_update, kmv_estimate

    sdf = stream_table(spark, sf, "lineitem").select(
        F.xxhash64("l_orderkey").alias("h")
    ).select(F.pmod("h", F.lit(_Q192B_BUCKETS)).alias("bucket"), "h")
    finals = keyed_fold(
        sdf, "bucket", [],
        lambda cur, pdf: _kmv_update(cur, pdf["h"], _Q192B_K).tolist(),
        "q192b",
    ).collect()
    merged = sorted(
        {h for r in finals for h in json.loads(r["state"])}
    )[:_Q192B_K]
    est, n_kept = kmv_estimate(merged, _Q192B_K)
    return spark.createDataFrame(
        [("order_keys", est, n_kept, _Q192B_K, n_kept < _Q192B_K)],
        "scope string, est_distinct long, n_kept long, k long, "
        "exact boolean",
    )


# --------------- Q191b STREAMING PQ encode — index maintenance at ingest
@query("q191b_stream_pq_encode", oracle=None,
       tags=("streaming", "similarity", "approx"))
def q191b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING PQ encoding — the index-MAINTENANCE half of
    ANN serving (q191 trains/serves, this keeps the codes table fresh):
    the sub-codebooks are trained ONCE on the static corpus (same
    `pq_codebooks`, the train-offline/apply-online split of
    q177b/q179b), shipped as bounded task-closure constants, and every
    arriving vector encodes in the same Arrow-batched kernel batch
    `pq_encode` uses — one arithmetic home, no state, no join, no
    explode: append mode, one (vec_id, codes) row per arrival, exactly
    what a production pipeline upserts into the partitioned codes
    table.

    Rows-only by design (codes are not SQL-expressible at sane oracle
    size) — but with the q192b-style HARD equality: encoding is a pure
    per-row function, so the streamed codes must equal batch
    `pq_encode` bit-for-bit, pinned by the pytest contract and
    asserted in APPROX_EVIDENCE at both SFs. The output projects the
    codes to a stable compare shape (vec_id, first/last code, code
    sum) so the driver's rows-only check still covers every row."""
    from ..operators import similarity

    (emb,) = load(spark, sf, "embeddings")
    books = similarity.pq_codebooks(emb, m=16, n_cent=16)
    sdf = stream_table(spark, sf, "embeddings")
    enc = similarity.pq_encode(sdf, books, dim=64).select("vec_id", "codes")
    out = enc.select(
        "vec_id",
        F.element_at("codes", 1).alias("c_first"),
        F.element_at("codes", 16).alias("c_last"),
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, c: a + c
        ).alias("c_sum"),
    )
    return run_to_memory(out, "q191b", output_mode="append")


# ------------------------------ Q51d stream-stream LEFT SEMI interval join
@query(
    "q51d_stream_stream_semi_join",
    oracle=f"""
        WITH {_Q51_CTES},
             {_Q51_WM_CTE}
        SELECT p.event_id, p.user_id
        FROM p CROSS JOIN wm
        WHERE p.ts <= wm.cutoff
          AND EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = p.user_id
              AND c.click_ts > p.ts - INTERVAL '10 minutes'
              AND c.click_ts <= p.ts)
    """,
    tags=("streaming", "join", "slow"),
)
def q51d(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — with q51/q51b/q51c this
    covers every stream-stream interval-join type Spark
    supports (inner, left outer, full outer, left semi; left anti is
    not a supported stream-stream type): purchases that HAD at least
    one prior click — the attribution FILTER shape, emitting each
    qualifying purchase ONCE regardless of how many clicks matched (the
    inner join's fan-out is exactly what the semi form removes).

    A purchase emits as soon as its first matching click is seen;
    unmatched purchases never emit. The replay still compares the
    watermark-closed region (purchases with ts <= cutoff): an OPEN
    purchase's status could change if a matching click arrived later,
    so only closed rows are deterministic — the same cutoff scalar the
    oracle restates around its EXISTS. State bounds are q51's; the
    semi form HALVES the output side (no click columns cross the
    sink)."""
    j = _interval_join(
        stream_table(spark, sf, "events"), stream_table(spark, sf, "events"),
        "left_semi",
    )
    sink = run_to_memory(j, "q51d", output_mode="append")
    cut = _events_cutoff(spark, sf)
    return sink.filter(F.col("ts") <= F.lit(cut)).select(
        "event_id", "user_id"
    )


# --------- Q196b STREAMING Kneser-Ney scoring — perplexity filter at ingest
def _q196b_oracle() -> str:
    """Batch mirror: q196's oracle verbatim — the stream emits exactly
    the batch per-document rows (the model is fit on the SAME static
    corpus the batch query trains on)."""
    return REGISTRY["q196_kneser_ney_score"].oracle


@query(
    "q196b_stream_kneser_ney_score",
    oracle=_q196b_oracle,
    tags=("streaming", "text", "llm", "quality"),
)
def q196b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING Kneser-Ney scoring — the CCNet deployment
    shape: the LM is TRAINED OFFLINE on the static corpus (q196's exact
    count tables, one arithmetic home) and shipped to workers as a
    bounded artifact (KenLM deployments ship the binary model file the
    same way; the q179b shipped-tokenizer argument), then every
    arriving document scores in ONE Arrow-batched kernel — its own
    bigrams looked up in the closure dict, quantized micro-nat sum,
    one output row per arrival. No explode, no join, no state: append
    mode. The oracle is q196's batch text verbatim, so equality proves
    the kernel's lookup-and-sum matches the distributed join-and-sum
    bit-for-bit."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from collections.abc import Iterator

    from .llm import load as llm_load  # same loader, one home

    (documents,) = llm_load(spark, sf, "documents")
    toks = F.split("text", " ")
    bg = documents.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("s")
    ).select(F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
    bgc_rows = (
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")).collect()
    )
    # bounded model artifact: |bigram types| rows (vocabulary-squared
    # ceiling; a production KenLM binary is the same bounded ship)
    cb = {(r["w1"], r["w2"]): int(r["cb"]) for r in bgc_rows}
    cw1: dict = {}
    n1l: dict = {}
    n1r: dict = {}
    for (w1, w2), c in cb.items():
        cw1[w1] = cw1.get(w1, 0) + c
        n1l[w1] = n1l.get(w1, 0) + 1
        n1r[w2] = n1r.get(w2, 0) + 1
    B = len(cb)

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_ids, out_n, out_avg = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ts = text.split(" ")
                if len(ts) < 2:
                    continue
                qsum = 0
                n = 0
                for w1, w2 in zip(ts, ts[1:]):
                    num = B * (4 * cb[(w1, w2)] - 3) + 3 * n1l[w1] * n1r[w2]
                    den = 4 * cw1[w1] * B
                    qsum += math.floor(math.log(num / den) * 1_000_000 + 0.5)
                    n += 1
                out_ids.append(int(doc_id))
                out_n.append(n)
                # engines ROUND half-up on the double's SHORTEST decimal
                # string (Spark: BigDecimal.valueOf -> Double.toString),
                # not its full binary expansion — Python's repr() is the
                # same shortest round-trip string, so Decimal(repr(x))
                # reproduces the engine boundary cases exactly (found on
                # a real x.xxxxxx5 doc; Decimal(float) uses the full
                # expansion and rounds the other way there)
                val = qsum / (n * 1_000_000.0)
                out_avg.append(float(
                    Decimal(repr(val)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                ))
            yield pd.DataFrame({
                "doc_id": pd.Series(out_ids, dtype="int64"),
                "n_bigrams": pd.Series(out_n, dtype="int64"),
                "avg_logprob_kn": pd.Series(out_avg, dtype="float64"),
            })

    sdf = stream_table(spark, sf, "documents").select("doc_id", "text")
    out = sdf.mapInPandas(
        score, "doc_id long, n_bigrams long, avg_logprob_kn double"
    )
    return run_to_memory(out, "q196b", output_mode="append")


# ----------------- Q160c streaming audio fingerprint dedup (at ingest)
@query(
    "q160c_stream_afp_dedup",
    oracle="""
        SELECT CAST(3 * (doc_id // 3) AS BIGINT) AS group_rep,
               CAST(COUNT(*) AS BIGINT) AS n_members
        FROM documents GROUP BY 1
    """,
    tags=("streaming", "multimodal", "dedup", "slow"),
)
def q160c(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming AUDIO dedup at ingest — q165's shape for
    the audio modality, completing the batch+stream matrix for both
    perceptual families (images: q158/q165; audio: q160b/here). The
    documents replay synthesizes each group's clip THROUGH TWO CODECS
    in-stream (q160b's fixture: WAV at gain 1, multi-frame FLAC at
    gains 2-3), the codec-dispatching decode + energy AFP runs INSIDE
    the streaming plan (Arrow mapInPandas on the unbounded frame), and
    a streaming aggregation folds arrivals by fingerprint — duplicates
    collapse regardless of which micro-batch (or codec) carries them.
    AFP gain-invariance + FLAC losslessness make the hash exactly
    group-constant, so the result equals the batch closed form
    EXACTLY. Complete mode (open-ended group state, the q29/q165
    rationale). Fixture synthesis shared with batch q160b
    (`_synth_group_clips_dualcodec`, one home)."""
    from ..operators import multimodal
    from .llm import _synth_group_clips_dualcodec

    sdf = stream_table(spark, sf, "documents")
    hashed = multimodal.afp_blobs(_synth_group_clips_dualcodec(sdf))
    agg = (
        hashed.groupBy("afp")
        .agg(
            F.min("doc_id").alias("group_rep"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("group_rep", "n_members")
    )
    return run_to_memory(agg, "q160c", output_mode="complete")


# --------- Q205 streaming MinHash-banded near-dup candidates at ingest
_Q205_PERMS = 64
_Q205_BANDS = 16


def minhash_candidate_stream(
    sdf: DataFrame,
    num_perm: int = _Q205_PERMS,
    bands: int = _Q205_BANDS,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The shipped q205 pipeline as a reusable streaming transform
    (one code home — the schedule-invariance pytest drives THIS, not a
    private copy): band each arriving doc through `minhash_bands` and
    self-join the banded stream on (band, bsig) (`bucket_pair_stream`),
    so a candidate pair is emitted the moment its later member lands.
    Callers dedupe the cross-band emissions with a final distinct."""
    return bucket_pair_stream(
        minhash_banded_projection(sdf, num_perm, bands, n, seed)
    )


def minhash_banded_projection(
    df: DataFrame,
    num_perm: int = _Q205_PERMS,
    bands: int = _Q205_BANDS,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, band, bsig) banded-minhash rows over ``df`` — the
    projection half of `minhash_candidate_stream`, batch/streaming
    agnostic (the single-fold plan pytest drives it on a batch frame).

    The signature is materialized in its OWN projection before banding
    (the `_lsh_candidate_pairs` shape). Nesting minhash_signature(...)
    directly inside minhash_bands would inline the whole O(shingles x
    perms) fold into every one of the bands x rows_per_band
    element_at references (64 recomputes per doc: measured ~110 s vs
    ~2 s on the sf0.1 corpus); the
    Generate (explode) barrier between the two projections is what
    keeps Catalyst from collapsing them back together."""
    from ..operators.dedup import (
        _spread,
        minhash_bands,
        minhash_signature_frame,
        tokens,
    )

    # _spread before the fold (guide §2.5): the replayed single-file
    # micro-batch arrives as ONE source partition, so the O(shingles x
    # perms) signature fold otherwise runs on one core per trigger. The
    # repartition moves only (doc_id, text) rows and is keyed by id, so
    # it is valid on the streaming side too (plain exchange, no state);
    # the downstream bucket join re-shuffles by (band, bsig).
    # Measured: q205b stream-projection stage 3.2 s -> sub-1 s.
    # The permutation fold runs in the Arrow-batched numpy kernel
    # (minhash_signature_frame, bit-identical by the equality pytest)
    # instead of the interpreted higher-order-function expression;
    # it works on the streaming side because mapInPandas is stateless.
    sig = minhash_signature_frame(
        _spread(df.filter(F.size(tokens("text")) >= n), "doc_id"),
        "doc_id",
        "text",
        num_perm,
        n,
        seed,
    )
    return (
        sig.select(
            "doc_id",
            F.explode(
                minhash_bands(F.col("sig"), num_perm, bands)
            ).alias("bs"),
        )
        .select(
            "doc_id",
            F.col("bs.band").alias("band"),
            F.col("bs.bsig").alias("bsig"),
        )
    )


def bucket_pair_stream(banded: DataFrame) -> DataFrame:
    """Bucket-collision pairs of an unbounded (doc_id, band, bsig)
    frame: every (d1, d2) with d1 < d2 that share a (band, bsig)
    bucket, emitted the moment the later member lands. The shared
    candidate emitter of q205/q205b (MinHash text buckets), q214b (SRP
    embedding buckets) and q232b (weighted-MinHash buckets); a pair
    that collides in several bands is emitted once per band, and
    callers collapse those duplicates with a final distinct.

    It is a stream-stream inner equi-join of ``banded`` with itself on
    (band, bsig). The symmetric hash join emits each matching row pair
    exactly once, across triggers and within one, so the emitted pair
    set equals the batch band equi-join for every trigger schedule,
    whatever order the ids arrive in. Both join sides are the same
    projection, so the micro-batch plan reuses one exchange of it and
    the banding kernel runs once per trigger.

    - State holds one row per delivered (doc, band) on each side: a
      re-delivered doc adds rows (and re-emits its pairs) rather than
      being folded into a member set.
    - State is unbounded; there is no eviction.
    - A checkpoint written by the earlier GroupState emitter cannot
      resume onto this operator and needs a state reset."""
    left = banded.withColumnRenamed("doc_id", "d1")
    right = banded.withColumnRenamed("doc_id", "d2")
    return (
        left.join(right, ["band", "bsig"])
        .where("d1 < d2")
        .select("d1", "d2")
    )


@query(
    "q205_stream_minhash_candidates",
    oracle=None,  # the banded index is Spark-hash-based (q26b's category);
                  # the contract is HARD equality with the batch candidate
                  # set, pinned in pytest + APPROX_EVIDENCE
    tags=("streaming", "dedup", "llm", "approx", "stateful", "slow"),
)
def q205(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING near-dup candidate detection at ingest —
    the text analog of q165's streaming perceptual dedup and the
    missing production shape next to batch q26b: every arriving
    document's MinHash signature bands into 16 bucket keys (the SAME
    `minhash_bands` home the batch equi-join uses), and a stream-stream
    self-join on (band, bsig) emits a candidate pair against every
    earlier member of its bucket THE MOMENT it lands, and each pair
    among same-trigger arrivals once. Cross-band duplicate emissions
    collapse in the final distinct, so the emitted pair SET equals
    batch `_lsh_candidate_pairs` EXACTLY regardless of arrival grouping
    — the hard equality APPROX_EVIDENCE records at both SFs and pytest
    pins across micro-batch schedules.

    Scale shape: signatures and banding are scan projections on the
    unbounded frame; join state holds one (doc, band) row per side —
    the SAME Sum(bucket^2) candidate bill the batch join pays, bounded
    by band selectivity (16 of 64 perms per key); both join sides read
    one exchange of the (doc_id, band, bsig) rows. Rows-only by design
    (the q26b category: Spark-hash-based banding has no SQL
    restatement)."""
    sdf = stream_table(spark, sf, "documents")
    pairs = minhash_candidate_stream(sdf)
    sink = run_to_memory(pairs, "q205", output_mode="append")
    return sink.distinct().orderBy("d1", "d2")


def minhash_verified_stream(
    sdf: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    num_perm: int = _Q205_PERMS,
    bands: int = _Q205_BANDS,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """END-TO-END streaming near-dup dedup: q205's candidate emission
    extended with IN-STREAM exact-Jaccard verification and a keep/drop
    decision, all inside the one streaming plan. Candidates from the
    banded self-join (`minhash_candidate_stream`, one code home)
    stream-static join back to the corpus store's per-doc shingle
    arrays (two equi-joins on the doc id — the q63 enrichment shape),
    true n-gram Jaccard is intersected expression-side, sub-threshold
    candidates are DROPPED in-stream, and each surviving pair carries
    its decision: `drop_id` = the larger member (min-id-keeper policy,
    the q110/q168 convention — an ingest service anti-joins arrivals
    against the accumulating drop set).

    Scale shape: verify cost is O(|candidates| x avg_shingles) per
    micro-batch — the same bill batch `minhash_verified_pairs` pays,
    bounded by band selectivity; the static side is a doc-id equi-join
    (shuffled-hash/broadcast by size), never a cross join. Cross-band
    duplicate emissions re-verify (<= bands x) and collapse in the
    caller's distinct; a production sink would dropDuplicates per
    trigger instead."""
    from ..operators.dedup import shingles, spread
    from ..plans import materialize_once

    cand = minhash_candidate_stream(sdf, num_perm, bands, n, seed)
    # The static shingle side feeds BOTH join sides (s1 and s2), and a
    # stream-static join replays its static subtree every micro-batch —
    # without a lineage cut the corpus is re-shingled 2 x batches times
    # (guide §3.3 duplicated subtrees). Shingle once, spread across
    # cores (the one-row-group scan), checkpoint lazily; the frame is
    # (id, shingle array) — the same bytes the batch verify holds.
    sh = materialize_once(
        spread(corpus, "doc_id").select(
            "doc_id", shingles("text", n).alias("sh")
        ),
        eager=False,
    )
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    joined = cand.join(s1, "d1").join(s2, "d2")
    common = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = (F.size("sh1") + F.size("sh2")).cast("double") - common
    jac = F.round(common / union, 6)
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard", F.col("d2").alias("drop_id"))
    )


@query(
    "q205b_stream_minhash_verify",
    bench=True,  # the stream-verify shape gets bench coverage; the
                 # oracle performs the exact pairwise-Jaccard verify,
                 # a comparable-work ratio row
    oracle="""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                     generate_series(1, len(string_split(text,' ')) - 2),
                     i -> string_split(text,' ')[i] || ' ' ||
                          string_split(text,' ')[i+1] || ' ' ||
                          string_split(text,' ')[i+2])) AS shingles
          FROM documents
        ),
        ex AS (SELECT doc_id, unnest(shingles) AS s,
                      len(shingles) AS n FROM sh),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common,
                 any_value(a.n) AS n1, any_value(b.n) AS n2
          FROM ex a JOIN ex b
            ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT d1, d2,
               ROUND(common * 1.0 / (n1 + n2 - common), 6) AS jaccard,
               d2 AS drop_id
        FROM pairs
        WHERE ROUND(common * 1.0 / (n1 + n2 - common), 6) >= 0.5
        ORDER BY d1, d2
    """,
    tags=("streaming", "dedup", "llm", "stateful", "slow"),
)
def q205b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING near-dup dedup END-TO-END — the last
    missing production shape in the dedup matrix: q205 stops at
    candidate emission; this pipeline VERIFIES (in-stream exact
    3-gram Jaccard via stream-static shingle join) and DECIDES
    (drop_id = larger member, the q110 min-id-keeper policy) before
    anything reaches the sink. Because streamed candidates equal batch
    `_lsh_candidate_pairs` for any schedule (the join emits every
    bucket pair once, pinned in pytest) and the verify expressions are
    the SAME ones `minhash_verified_pairs` uses, the streamed verified
    set equals the batch q26d result exactly — which on this corpus
    equals the full unblocked pairwise exact-Jaccard >= 0.5 set (100%
    recall at the operating point), so this entry is HASH-checked
    against the same closed-form SQL oracle as q26d, not rows-only."""
    sdf = stream_table(spark, sf, "documents")
    (corpus,) = load(spark, sf, "documents")
    verified = minhash_verified_stream(sdf, corpus)
    sink = run_to_memory(verified, "q205b", output_mode="append")
    return sink.distinct().orderBy("d1", "d2")


# ---------- Q203b STREAMING Gopher repetition filter (at ingest)
def _q203b_oracle() -> str:
    from .llm import _Q203_DUP_BP, _Q203_TOP_BP

    flag_exprs = []
    for n, bp in _Q203_TOP_BP.items():
        flag_exprs.append(
            f"MAX(CASE WHEN n = {n} AND top_raw * 10000"
            f" // GREATEST(n_chars, 1) > {bp} THEN 1 ELSE 0 END)"
            f" AS f_top{n}"
        )
    for n, bp in _Q203_DUP_BP.items():
        flag_exprs.append(
            f"MAX(CASE WHEN n = {n} AND dup_raw * 10000"
            f" // GREATEST(n_chars, 1) > {bp} THEN 1 ELSE 0 END)"
            f" AS f_dup{n}"
        )
    all_flags = [f"f_top{n}" for n in _Q203_TOP_BP] + [
        f"f_dup{n}" for n in _Q203_DUP_BP
    ]
    return f"""
        WITH t AS (SELECT doc_id, lang, n_chars,
                          string_split(text, ' ') AS ts
                   FROM documents),
        g AS (SELECT doc_id, n,
                     array_to_string(list_slice(ts, i, i + n - 1), ' ')
                         AS gram
              FROM t,
                   LATERAL unnest(generate_series(2, 10)) AS nn(n),
                   LATERAL unnest(generate_series(1,
                       GREATEST(len(ts) - n + 1, 0))) AS ii(i)),
        c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt,
                     len(gram) AS glen
              FROM g GROUP BY doc_id, n, gram, len(gram)),
        per AS (SELECT doc_id, n,
                       MAX(cnt * glen) AS top_raw,
                       COALESCE(SUM(CASE WHEN cnt >= 2
                                         THEN cnt * glen END), 0)
                           AS dup_raw
                FROM c GROUP BY doc_id, n),
        j AS (SELECT t.doc_id, t.lang, t.n_chars, per.n,
                     per.top_raw, per.dup_raw
              FROM t LEFT JOIN per ON per.doc_id = t.doc_id)
        SELECT doc_id, lang,
               {", ".join(flag_exprs)},
               CASE WHEN {" + ".join(
                   f"MAX(CASE WHEN n = {n} AND top_raw * 10000"
                   f" // GREATEST(n_chars, 1) > {bp} THEN 1 ELSE 0 END)"
                   for n, bp in _Q203_TOP_BP.items())}
                    + {" + ".join(
                   f"MAX(CASE WHEN n = {n} AND dup_raw * 10000"
                   f" // GREATEST(n_chars, 1) > {bp} THEN 1 ELSE 0 END)"
                   for n, bp in _Q203_DUP_BP.items())} = 0
                    THEN 1 ELSE 0 END AS pass_all
        FROM j
        GROUP BY doc_id, lang
        ORDER BY doc_id
    """


@query(
    "q203b_stream_repetition_filter",
    oracle=_q203b_oracle,
    tags=("streaming", "text", "llm", "quality", "slow"),
)
def q203b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING Gopher repetition filtering — q203's nine n-gram
    rules the way an ingestion service applies them (the q178b
    deployment shape): every arriving document carries its own
    per-rule verdicts, computed ROW-LOCALLY in a pure scan projection
    (append mode, no state, no shuffle — the gram counts are within
    the document by definition, so the batch groupBy reformulates as
    nested higher-order functions, O(L^2) per doc per n in codegen,
    bounded by document length, never corpus size). Thresholds are the
    SAME integer basis points as batch q203 (one rule home). Output:
    (doc_id, lang, f_top2..4, f_dup5..10, pass_all) per arrival —
    hash-matched against the batch per-doc SQL at both SFs."""
    from .llm import _Q203_DUP_BP, _Q203_TOP_BP

    sdf = stream_table(spark, sf, "documents")
    d = sdf.select(
        "doc_id", "lang", "n_chars", F.split("text", " ").alias("ts")
    )

    def grams(n):
        # guard: sequence(1, 0) is DESCENDING [1, 0] in Spark, so a
        # doc with < n tokens must yield an empty gram array (q203's
        # fix, same trap): unguarded, slice start 0 crashes and i=1
        # would emit a partial gram
        return F.when(
            F.size("ts") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - n + 1),
                lambda i: F.array_join(F.slice("ts", i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def counted_structs(n):
        # (cnt, glen) per DISTINCT n-gram, all row-local; plain
        # closures (PySpark reads lambda arity: a second default arg
        # would be parsed as the element INDEX)
        gs = grams(n)

        def cnt_struct(g):
            return F.struct(
                F.size(F.filter(gs, lambda z: z == g))
                .cast("long").alias("cnt"),
                F.length(g).cast("long").alias("glen"),
            )

        return F.transform(F.array_distinct(gs), cnt_struct)

    # raw masses first (named columns), then integer-DIV flags via expr
    raw_cols = []
    for n in list(_Q203_TOP_BP) + list(_Q203_DUP_BP):
        counted = counted_structs(n)
        if n in _Q203_TOP_BP:
            raw = F.when(
                F.size("ts") >= n,
                F.array_max(
                    F.transform(
                        counted, lambda s: s["cnt"] * s["glen"]
                    )
                ),
            ).otherwise(F.lit(0)).cast("long")
            raw_cols.append(raw.alias(f"top{n}_raw"))
        else:
            raw = F.aggregate(
                counted,
                F.lit(0).cast("long"),
                lambda acc, s: acc
                + F.when(s["cnt"] >= 2, s["cnt"] * s["glen"])
                .otherwise(F.lit(0).cast("long")),
            )
            raw_cols.append(raw.alias(f"dup{n}_raw"))
    m = d.select("doc_id", "lang", "n_chars", *raw_cols)
    flag_exprs = [
        F.expr(
            f"CASE WHEN top{n}_raw * 10000 DIV GREATEST(n_chars, 1)"
            f" > {th} THEN 1 ELSE 0 END"
        ).alias(f"f_top{n}")
        for n, th in _Q203_TOP_BP.items()
    ] + [
        F.expr(
            f"CASE WHEN dup{n}_raw * 10000 DIV GREATEST(n_chars, 1)"
            f" > {th} THEN 1 ELSE 0 END"
        ).alias(f"f_dup{n}")
        for n, th in _Q203_DUP_BP.items()
    ]
    flagged = m.select("doc_id", "lang", *flag_exprs)
    all_flags = [f"f_top{n}" for n in _Q203_TOP_BP] + [
        f"f_dup{n}" for n in _Q203_DUP_BP
    ]
    out = flagged.withColumn(
        "pass_all",
        F.when(
            sum((F.col(c) for c in all_flags), F.lit(0)) == 0, 1
        ).otherwise(0),
    )
    return run_to_memory(out, "q203b", output_mode="append").orderBy(
        "doc_id"
    )


# --------- Q212b STREAMING unigram-LM application — tokenize at ingest
@query(
    "q212b_stream_unigram_tokenize",
    oracle=None,  # Viterbi segmentation has no closed SQL form (q212's
                  # category); hard equality with the pure-Python mirror
                  # is pinned in pytest + APPROX_EVIDENCE
    tags=("streaming", "text", "llm", "tokenizer", "approx"),
)
def q212b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING unigram-LM application — tokenize at ingest with a
    vocabulary TRAINED batch-side (q179b's universal production split,
    for the SentencePiece family): q212's Viterbi-EM runs on the static
    corpus (`_unigram_train`, one home), the final vocabulary's integer
    micro-log-prob scores ship in the task closure (a BOUNDED artifact,
    <= 96 pieces here, ~32k in a production vocab — ships either way),
    and every arriving document tokenizes in ONE Arrow-batched kernel:
    Viterbi DP per word over the score table, with a per-batch word
    cache so the kernel is O(distinct words), not O(tokens). No
    explode, no join, no state — append mode, one row per arrival with
    its piece count. The DP is total on ANY arriving word, not just the
    training corpus: out-of-vocabulary single characters score as a
    SentencePiece-style UNK floor inside `_unigram_viterbi`, so chars
    the training vocabulary never covered (unseen at ingest, or seen
    only in words beyond the training length bound) segment instead of
    crashing the kernel."""
    from .llm import _unigram_scores, _unigram_train, _unigram_viterbi

    (documents,) = load(spark, sf, "documents")
    _seg, vocab = _unigram_train(spark, documents)
    score = _unigram_scores(vocab)

    def tokenize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}

        def n_pieces(w: str) -> int:
            got = cache.get(w)
            if got is None:
                got = len(_unigram_viterbi(w, score)) if w else 0
                cache[w] = got
            return got

        for pdf in it:
            words = pdf["text"].str.split(" ")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_pieces": [
                        sum(n_pieces(w) for w in ws) for ws in words
                    ],
                    "n_words": [len(ws) for ws in words],
                }
            )

    sdf = stream_table(spark, sf, "documents")
    out = sdf.select("doc_id", "text").mapInPandas(
        tokenize, "doc_id long, n_pieces long, n_words long"
    )
    return run_to_memory(out, "q212b", output_mode="append").orderBy(
        "doc_id"
    )


# ------- Q211b STREAMING lakehouse ingest — z-ordered writes at ingest
@query(
    "q211b_stream_lakehouse_ingest",
    oracle=_q211_oracle,
    tags=("streaming", "pipeline", "layout", "write"),
)
def q211b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING lakehouse ingest — q211's write path the
    way a production pipeline runs it: arriving orders flow through
    `foreachBatch`, each micro-batch staged by the SAME
    `layout.zorder_stage` home (cell id from the top interleaved z
    bits, z-sorted within files) and APPENDED to the directory-
    partitioned table — the streaming writer cannot partition-write
    natively, so foreachBatch + batch writer is the canonical shape.
    After the replay drains, the catalog manifest is recomputed FROM
    THE WRITTEN FILES and checked against the same closed-form SQL as
    q211: equality proves streamed ingest lost and duplicated nothing
    across micro-batch appends. Per-cell stats stay tight because
    every appended file is itself z-sorted — the skipping contract is
    preserved under continuous ingest (the multi-batch append pytest
    pins it)."""
    import shutil

    from ..operators import layout
    from ..session import scratch_dir
    from ..streaming.replay import run_foreach_batch

    out = scratch_dir("kstreamjs_zorder_stream", sf)
    shutil.rmtree(out, ignore_errors=True)  # append mode: start clean

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        x = layout.quantize16(F.col("o_custkey"))
        y = layout.quantize16(F.floor(F.col("o_totalprice")))
        layout.zorder_stage(batch_df, x, y, file_bits=4).write.mode(
            "append"
        ).partitionBy("zfile").parquet(out)

    sdf = stream_table(spark, sf, "orders")
    run_foreach_batch(sdf, write_batch, "q211b")

    from ..operators.layout import quantize16

    back = spark.read.parquet(out)
    bx = quantize16(F.col("o_custkey"))
    by = quantize16(F.floor(F.col("o_totalprice")))
    return (
        back.groupBy(F.col("zfile").cast("long").alias("zfile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(bx).alias("min_x"),
            F.max(bx).alias("max_x"),
            F.min(by).alias("min_y"),
            F.max(by).alias("max_y"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("sum_price_c"),
        )
        .orderBy("zfile")
    )


# --- Q215b STREAMING ingest with INLINE compaction — the OPTIMIZE loop
@query(
    "q215b_stream_ingest_compacted",
    oracle=_q211_oracle,
    bench=True,
    tags=("streaming", "pipeline", "layout", "write", "maintenance",
          "closed_form_oracle"),
)
def q215b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING ingest with INLINE compaction — q211b's
    append loop composed with q215's OPTIMIZE, the way a production
    table actually lives: every micro-batch z-stages and APPENDS its
    rows (one small file per batch per cell), and AFTER each commit
    the maintenance pass compacts every over-threshold cell
    (`layout.compact_partitions` — census, staged rewrite of only
    those cells, atomic swap). foreachBatch serializes the two, so
    compaction never races an append; steady-state file count per
    cell stays bounded by the threshold regardless of how many
    batches have ever landed — the property unbounded ingest needs
    and q211b alone does not give. Manifest recomputed FROM THE
    COMPACTED FILES hash-matches q211's closed-form SQL: ingest +
    continuous OPTIMIZE lost, duplicated, and corrupted nothing. The
    multi-batch pytest drives 3 triggers and pins the bounded
    file-count invariant after every commit."""
    return stream_ingest_compacted(
        spark, stream_table(spark, sf, "orders"),
        _q215b_root(sf), max_files=1,
    )


def _q215b_root(sf: str) -> str:
    from ..session import scratch_dir

    return scratch_dir("kstreamjs_zorder_compact_stream", sf)


def stream_ingest_compacted(
    spark: SparkSession, sdf: DataFrame, out: str, max_files: int = 1
) -> DataFrame:
    """q215b's pipeline as a reusable transform (one code home — the
    multi-batch pytest drives THIS): per micro-batch z-staged append +
    inline compaction, returning the per-cell manifest frame."""
    import shutil

    from ..operators import layout
    from ..streaming.replay import run_foreach_batch

    shutil.rmtree(out, ignore_errors=True)  # append mode: start clean

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        x = layout.quantize16(F.col("o_custkey"))
        y = layout.quantize16(F.floor(F.col("o_totalprice")))
        layout.zorder_stage(batch_df, x, y, file_bits=4).write.mode(
            "append"
        ).partitionBy("zfile").parquet(out)
        # the maintenance half, inline: serialized with the append by
        # foreachBatch, so the swap never races a writer
        layout.compact_partitions(
            batch_df.sparkSession, out, "zfile", max_files=max_files
        )

    run_foreach_batch(sdf, write_batch, "q215b")

    back = spark.read.parquet(out)
    bx = layout.quantize16(F.col("o_custkey"))
    by = layout.quantize16(F.floor(F.col("o_totalprice")))
    return (
        back.groupBy(F.col("zfile").cast("long").alias("zfile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(bx).alias("min_x"),
            F.max(bx).alias("max_x"),
            F.min(by).alias("min_y"),
            F.max(by).alias("max_y"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("sum_price_c"),
        )
        .orderBy("zfile")
    )


# --------- Q213 STREAMING SCD1 upsert — CDC apply via versioned merges
@query(
    "q213_stream_scd1_upsert",
    oracle="""
        -- last_value via lexicographic struct MAX, mirroring the
        -- engine's F.max(struct(ts, value)) exactly: deterministic
        -- even under tied ts (arg_max(value, ts) picks an
        -- arbitrary row on ties)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts) AS last_ts,
               (MAX(struct_pack(ts := ts, v := value))).v AS last_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "pipeline", "write", "cdc"),
)
def q213(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING SCD-TYPE-1 UPSERT (partition-pruned MERGE) — the
    CDC-apply write shape next to q121's batch SCD2 analytics:
    arriving events merge into a keyed dimension table
    (one row per user: latest state + lifetime event count) through
    `foreachBatch`. The table is hash-bucketed by key and each commit
    rewrites ONLY the buckets containing batch keys, copy-on-write at
    bucket granularity with a JSON manifest per commit — the
    Delta/Iceberg MERGE shape without the format dependency (see
    `scd1_upsert_stream` for the full protocol: versioned bucket dirs,
    atomic manifest flip, superseded-copy retention pruning). The
    bucket-granular copy-on-write is also what makes
    read-own-table-then-overwrite safe (a commit never overwrites a
    path it reads). Merge arithmetic is pure aggregation — counts ADD
    across commits, last_ts MAXes — so the final table equals the
    batch groupBy no matter how the replay batches (the multi-batch
    pytest pins it; the byte-identity pytest pins that untouched
    bucket files are never rewritten).

    Scale shape: per-commit cost is O(touched buckets + batch), not
    O(table) — a trickle of CDC keys against a wide table rewrites
    k/B of it, with B sized to the table. Hash contract: the
    read-back dimension table equals the closed-form per-user rollup
    over the SOURCE table — a match proves no event lost, duplicated,
    or mis-merged across commits."""
    from ..session import scratch_dir

    root = scratch_dir("kstreamjs_scd1", sf)
    sdf = stream_table(spark, sf, "events")
    return scd1_upsert_stream(sdf, root).orderBy("user_id")


def scd1_upsert_stream(
    sdf: DataFrame,
    root: str,
    n_buckets: int = 16,
    changelog: bool = False,
    retain_commits: int = 0,
    evolve_sum_from: str | None = None,
) -> DataFrame:
    """q213's pipeline as a reusable transform (one code home — the
    multi-batch pytest drives THIS): foreachBatch PARTITION-PRUNED
    MERGE of per-user (count, latest (ts, value)) into ``root``,
    returning the final snapshot as a batch frame.

    Commit protocol (the Delta/Iceberg MERGE shape without the
    format dependency, instead of a whole-snapshot rewrite): the
    dimension table is hash-bucketed by key
    (``pmod(xxhash64(user_id), n_buckets)``) and each commit rewrites
    ONLY the buckets containing batch keys, copy-on-write at bucket
    granularity:

    - layout: ``root/commit_v{n}/pbucket={b}`` holds bucket ``b`` as
      written by commit ``n``; a bucket's CURRENT copy is the one from
      the latest commit that touched it (the in-driver manifest tracks
      bucket -> commit, and each commit persists it to
      ``root/_manifest/v{n}.json`` so the swap is table-atomic:
      readers resolve the newest manifest, never a half-written dir);
    - per-commit cost is O(touched buckets + batch), not O(table):
      a batch touching k of B buckets reads and rewrites ~k/B of the
      table (at 100 TB, B scales with the table so a trickle of CDC
      keys rewrites a sliver — the exact partition-pruning contract
      MERGE gives; untouched bucket files are NOT opened, copied, or
      rewritten, which the byte-identity pytest pins);
    - retention: once commit ``n`` rewrites bucket ``b``, the
      superseded ``commit_v{old}/pbucket={b}`` directory is garbage
      FOR THE LATEST VIEW and is pruned after the commit lands (the
      unbounded-snapshot growth otherwise); emptied commit dirs
      are removed too, so steady-state storage is exactly one live
      copy per bucket plus manifests. ``retain_commits``
      is the VACUUM horizon: a superseded copy survives until the
      table is ``retain_commits`` commits past the version that
      superseded it, which keeps every manifest within the horizon
      fully readable — TIME TRAVEL (`scd1_read_as_of`) works AS OF
      any retained version and degrades exactly like Delta's VACUUM:
      reads past the horizon fail because their files are gone, by
      design, not by accident. Default 0 = prune immediately (only
      the latest view readable);
    - an empty source (zero micro-batches) raises a clear error
      instead of a confusing path-not-found on a ``v-1`` read.

    Merge arithmetic is pure aggregation — counts ADD across commits,
    the (ts, value) struct MAXes — so the final table equals the batch
    groupBy for ANY micro-batch schedule (the multi-batch pytest) and
    the bucket column is re-derived from the key after every merge
    (functionally dependent, never trusted from the file).

    ``evolve_sum_from`` (q213d — SCHEMA EVOLUTION across a
    commit boundary, the remaining Delta pillar after MERGE/changelog/
    time-travel/OPTIMIZE): when set to a timestamp literal T, the
    dimension table ADDS a ``sum_value`` column — lifetime sum of
    ``value`` over events with ts >= T — starting at the FIRST commit
    whose batch contains such an event. Commits before that boundary
    write the v1 schema (the column physically absent from their
    parquet footers, real evolution, not a pre-created NULL column);
    from the boundary on, every rewritten bucket carries v2.
    Reconciliation rule, applied identically at merge time (a v2
    commit reading a v1 bucket copy) and at read time (a manifest
    spanning the boundary, read with mergeSchema): a row from a v1
    file carries the DOCUMENTED DEFAULT 0.0 — semantically exact,
    because pre-T events contribute 0 to the since-T sum by
    definition. That anchoring of the evolution boundary to EVENT
    TIME (not commit index) is what keeps the final table equal to a
    closed-form rollup for ANY micro-batch schedule: sum_value ==
    COALESCE(SUM(value) FILTER (ts >= T), 0) per key, regardless of
    which commit first crossed T — the q213d hash contract. The
    mixed-manifest mechanics (v1 files really lack the column,
    time-travel reads before the boundary default-fill, spanning
    reads reconcile) are pinned by the 3-trigger pytest."""
    import json
    import os
    import shutil

    from ..streaming.replay import run_foreach_batch

    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)
    # tombstones: (superseded_at_version, old_commit, bucket) — a copy
    # superseded at version s serves AS OF < s reads; VACUUM drops it
    # once the table reaches version s + retain_commits.
    state: dict = {
        "version": -1,
        "bucket_commit": {},
        "tombstones": [],
        "evolved": False,
    }
    bucket_of = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).cast(
        "int"
    )
    evolve_ts = (
        F.lit(evolve_sum_from).cast("timestamp")
        if evolve_sum_from is not None
        else None
    )

    def bucket_path(commit: int, b: int) -> str:
        return f"{root}/commit_v{commit}/pbucket={b}"

    def commit(batch_df: DataFrame, _bid: int) -> None:
        n = state["version"] + 1
        # "last" rides as a struct ordered (ts, value): struct MAX is
        # lexicographic, and (user_id, ts) is unique in the source
        # (asserted by the pytest), so the latest VALUE merges exactly
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max(
                F.struct(F.col("ts").alias("ts"),
                         F.col("value").alias("value"))
            ).alias("last"),
        ]
        if evolve_ts is not None:
            aggs.append(
                F.sum(
                    F.when(F.col("ts") >= evolve_ts, F.col("value"))
                    .otherwise(F.lit(0.0))
                ).alias("sum_value")
            )
        delta = (
            batch_df.groupBy("user_id").agg(*aggs)
            .withColumn("bucket", bucket_of)
        )
        # Touched-bucket discovery: a <= n_buckets-row collect (bounded
        # by the bucket count, never by data). The evolution-boundary
        # probe rides in the SAME aggregate (any event at/after T iff
        # max per-user last.ts crosses it) — the earlier separate
        # batch_df.agg paid one extra full-batch scan per pre-boundary
        # commit.
        if evolve_ts is not None and not state["evolved"]:
            probe = delta.agg(
                F.sort_array(F.collect_set("bucket")).alias("tb"),
                F.max(F.col("last.ts") >= evolve_ts).alias("crossed"),
            ).first()
            touched = [int(b) for b in probe["tb"]]
            state["evolved"] = bool(probe["crossed"])
        else:
            touched = sorted(
                r["bucket"]
                for r in delta.select("bucket").distinct().collect()
            )
        if evolve_ts is not None and not state["evolved"]:
            # pre-boundary commits write the v1 schema: the column is
            # PHYSICALLY absent, not a pre-created default (Catalyst
            # prunes the unused aggregate expression with it)
            delta = delta.drop("sum_value")
        prev_paths = [
            bucket_path(state["bucket_commit"][b], b)
            for b in touched
            if b in state["bucket_commit"]
        ]
        if prev_paths:
            # Read ONLY the touched buckets' current copies; the
            # bucket column is re-derived from the key (reading the
            # partition dirs directly drops the partition column).
            prev = batch_df.sparkSession.read.option(
                "mergeSchema", "true"
            ).parquet(*prev_paths)
            cols = ["user_id", "n_events", "last"]
            m_aggs = [
                F.sum("n_events").cast("long").alias("n_events"),
                F.max("last").alias("last"),
            ]
            if "sum_value" in delta.columns:
                # schema-evolution reconciliation at MERGE time: a v1
                # bucket copy lacks the column — its rows carry the
                # documented default 0.0 (pre-T events contribute 0 to
                # the since-T sum by definition)
                if "sum_value" not in prev.columns:
                    prev = prev.withColumn("sum_value", F.lit(0.0))
                prev = prev.withColumn(
                    "sum_value",
                    F.coalesce(F.col("sum_value"), F.lit(0.0)),
                )
                cols.append("sum_value")
                m_aggs.append(F.sum("sum_value").alias("sum_value"))
            merged = (
                prev.select(*cols)
                .unionByName(delta.drop("bucket"))
                .groupBy("user_id")
                .agg(*m_aggs)
                .withColumn("bucket", bucket_of)
            )
        else:
            merged = delta
        # One job writes every touched bucket, partitioned at bucket
        # granularity; untouched buckets' files are never opened.
        merged.withColumn("pbucket", F.col("bucket")).write.mode(
            "overwrite"
        ).partitionBy("pbucket").parquet(f"{root}/commit_v{n}")
        if changelog:
            # CDC OUT (q213b): per commit, one change row per
            # BATCH key — old state from the still-live previous bucket
            # copies (n_before=0 for first appearances), new state from
            # the just-written commit. Written BEFORE retention prunes
            # the superseded copies; consumers subscribe to
            # root/_changelog instead of re-diffing snapshots.
            new_state = batch_df.sparkSession.read.parquet(
                f"{root}/commit_v{n}"
            )
            keys = delta.select("user_id")
            after = keys.join(new_state, "user_id").select(
                "user_id",
                F.col("n_events").alias("n_after"),
                F.col("last.ts").alias("last_ts_after"),
                F.col("last.value").alias("last_value_after"),
            )
            if prev_paths:
                before = (
                    keys.join(
                        batch_df.sparkSession.read.parquet(*prev_paths),
                        "user_id",
                        "left",
                    )
                    .select(
                        "user_id",
                        F.coalesce(F.col("n_events"), F.lit(0))
                        .cast("long")
                        .alias("n_before"),
                    )
                )
            else:
                before = keys.select(
                    "user_id",
                    F.lit(0).cast("long").alias("n_before"),
                )
            (
                after.join(before, "user_id")
                .withColumn("commit", F.lit(n).cast("long"))
                .write.mode("overwrite")
                .parquet(f"{root}/_changelog/c{n}")
            )
        superseded = [
            (state["bucket_commit"][b], b)
            for b in touched
            if b in state["bucket_commit"]
        ]
        state["version"] = n
        for b in touched:
            state["bucket_commit"][b] = n
        # Manifest AFTER the data lands: the table flips to commit n
        # atomically at manifest write, bucket map included.
        # write-temp-then-rename so a cross-process reader (the
        # scd1_read_as_of contract) can never observe a torn manifest
        # — the same atomicity the concurrent publisher gets from
        # os.link
        mtmp = f"{root}/_manifest/v{n}.json.tmp"
        with open(mtmp, "w") as fh:
            json.dump(
                {
                    "version": n,
                    "bucket_commit": {
                        str(b): c
                        for b, c in state["bucket_commit"].items()
                    },
                    # bucket -> data dir, explicit: the
                    # concurrent-writer path publishes uniquely-named
                    # dirs that are not dense commit_v{n} ids, so
                    # readers resolve dirs from the manifest instead
                    # of deriving them from commit numbers
                    "bucket_dir": {
                        str(b): f"commit_v{c}"
                        for b, c in state["bucket_commit"].items()
                    },
                    "n_buckets": n_buckets,
                },
                fh,
            )
        os.replace(mtmp, f"{root}/_manifest/v{n}.json")
        # Retention / VACUUM: a copy superseded at version n serves
        # AS OF < n; it survives until the table is retain_commits
        # past n, then prunes (with any commit dir it emptied) —
        # storage stays one live copy per bucket plus the retained
        # time-travel horizon, not one snapshot per micro-batch.
        state["tombstones"].extend(
            (n, old_commit, b) for old_commit, b in superseded
        )
        due = [
            t for t in state["tombstones"]
            if t[0] + retain_commits <= n
        ]
        state["tombstones"] = [
            t for t in state["tombstones"]
            if t[0] + retain_commits > n
        ]
        for _s, old_commit, b in due:
            shutil.rmtree(bucket_path(old_commit, b),
                          ignore_errors=True)
        for old_commit in {c for _s, c, _b in due}:
            d = f"{root}/commit_v{old_commit}"
            if os.path.isdir(d) and not any(
                name.startswith("pbucket=") for name in os.listdir(d)
            ):
                shutil.rmtree(d, ignore_errors=True)

    run_foreach_batch(sdf, commit, "scd1")
    if state["version"] < 0:
        raise ValueError(
            "scd1_upsert_stream: source stream produced zero "
            "micro-batches — no dimension table was committed under "
            f"{root!r} (nothing to read back)"
        )
    live = [
        bucket_path(c, b)
        for b, c in sorted(state["bucket_commit"].items())
    ]
    back = sdf.sparkSession.read.option("mergeSchema", "true").parquet(
        *live
    )
    out_cols = [
        F.col("user_id"),
        F.col("n_events"),
        F.col("last.ts").alias("last_ts"),
        F.col("last.value").alias("last_value"),
    ]
    if evolve_sum_from is not None:
        # read-time reconciliation across the evolution boundary:
        # rows from v1 files (or a table that never evolved) carry
        # the documented default 0.0
        sum_col = (
            F.coalesce(F.col("sum_value"), F.lit(0.0))
            if "sum_value" in back.columns
            else F.lit(0.0)
        )
        out_cols.append(sum_col.alias("sum_value"))
    return back.select(*out_cols)


def _manifest_bucket_dir(man: dict) -> dict:
    """bucket -> data-dir map of a manifest. `bucket_dir` is
    authoritative when PRESENT (key test, not truthiness — an empty
    table's manifest is a present-but-empty dict, and the concurrent-
    writer manifests carry no `bucket_commit` to fall back to);
    deriving from `bucket_commit` keeps manifests written before
    `bucket_dir` existed readable. One home for the compatibility rule
    (three copies of it once shared a falsy-empty-dict bug)."""
    if "bucket_dir" in man:
        return dict(man["bucket_dir"])
    return {b: f"commit_v{c}" for b, c in man["bucket_commit"].items()}


def scd1_read_as_of(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    extra_cols: dict[str, float] | None = None,
) -> DataFrame:
    """TIME-TRAVEL read of an `scd1_upsert_stream` table: resolve the
    manifest for ``version`` (default: the newest committed) and read
    exactly the bucket copies it references — the table AS OF that
    commit, independent of any later MERGE activity. Works for every
    version inside the writer's ``retain_commits`` VACUUM horizon;
    past it the referenced files are pruned and the read fails, by
    design (Delta's time-travel-vs-VACUUM contract). Reads ONLY the
    manifest JSON + the referenced parquet — no driver state, so any
    process can time-travel a table another process wrote.

    ``extra_cols`` (q213d): schema-evolved columns with
    their documented defaults ({name: default}) — a manifest whose
    referenced files span the evolution boundary is read with
    mergeSchema and each evolved column default-fills rows from
    pre-evolution files; a manifest entirely BEFORE the boundary
    (none of its files carry the column) returns the default for
    every row, so an AS-OF reader always sees the LATEST schema.

    MERGE-ON-READ deletes (q220): a manifest produced by
    `scd1_delete_where` lists equality-delete dirs per bucket; the
    read anti-joins the union of exactly the listed (dir, bucket)
    pairs on the key. Per-bucket applicability needs no per-bucket
    plan: key -> bucket is functional, so a delete key can only ever
    match rows of its own bucket, and dropped entries (a bucket
    rewritten AFTER the delete) are simply not read. AS-OF a version
    BEFORE the delete reads a manifest with no delete entries and
    sees the deleted rows — DELETE commits prune nothing, so the
    time-travel horizon is unaffected."""
    import json
    import os

    mdir = os.path.join(root, "_manifest")
    if version is None:
        versions = sorted(
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        if not versions:
            raise ValueError(
                f"scd1_read_as_of: no manifest under {mdir!r}"
            )
        version = versions[-1]
    with open(os.path.join(mdir, f"v{version}.json")) as fh:
        man = json.load(fh)
    bdir = _manifest_bucket_dir(man)
    paths = [
        f"{root}/{d}/pbucket={b}" for b, d in sorted(bdir.items())
    ]
    if not paths:
        # fully-deleted table (every bucket dropped and purged):
        # the manifest is valid and the table is
        # EMPTY — return the empty table with its logical schema
        # instead of letting spark.read.parquet() fail on zero paths
        cols = [
            F.lit(None).cast("long").alias("user_id"),
            F.lit(None).cast("long").alias("n_events"),
            F.lit(None).cast("timestamp").alias("last_ts"),
            F.lit(None).cast("double").alias("last_value"),
        ]
        for name, default in (extra_cols or {}).items():
            cols.append(F.lit(default).alias(name))
        return spark.range(0).select(*cols)
    back = spark.read.option("mergeSchema", "true").parquet(*paths)
    dpaths = [
        f"{root}/{d}/pbucket={b}"
        for b, ds in sorted(man.get("delete_files", {}).items())
        for d in ds
    ]
    if dpaths:
        dkeys = spark.read.parquet(*dpaths).select("user_id").distinct()
        back = back.join(dkeys, "user_id", "anti")
    cols = [
        F.col("user_id"),
        F.col("n_events"),
        F.col("last.ts").alias("last_ts"),
        F.col("last.value").alias("last_value"),
    ]
    for name, default in (extra_cols or {}).items():
        filled = (
            F.coalesce(F.col(name), F.lit(default))
            if name in back.columns
            else F.lit(default)
        )
        cols.append(filled.alias(name))
    return back.select(*cols)


class ConcurrentWriteConflict(RuntimeError):
    """Raised by `_scd1_publish` when another writer committed an
    OVERLAPPING bucket set between this writer's snapshot and its
    publish attempt — the prepared merge was computed against copies
    that are no longer current, so publishing it would lose the other
    writer's rows. Callers recompute from a fresh snapshot
    (`scd1_commit_batch` does this automatically up to max_retries)."""


def _scd1_snapshot(root: str) -> dict:
    """Latest committed table view — (version, bucket -> data dir,
    bucket -> applicable equality-delete dirs) — read from the manifest
    dir alone: the optimistic reader's side of the protocol, no writer
    state, any process. ``delete_files`` is absent from pre-DV
    manifests (the streaming writer's, and every round-<=15 table) —
    `.get` compatibility, same policy as `_manifest_bucket_dir`."""
    import json
    import os

    mdir = os.path.join(root, "_manifest")
    versions = (
        sorted(
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        if os.path.isdir(mdir)
        else []
    )
    if not versions:
        return {
            "version": -1,
            "bucket_dir": {},
            "delete_files": {},
            "n_buckets": None,
        }
    with open(os.path.join(mdir, f"v{versions[-1]}.json")) as fh:
        man = json.load(fh)
    return {
        "version": man["version"],
        "bucket_dir": _manifest_bucket_dir(man),
        "delete_files": {
            b: list(v) for b, v in man.get("delete_files", {}).items()
        },
        # bucket SPEC (q225): absent from older manifests —
        # writers can only validate against tables that record it
        "n_buckets": man.get("n_buckets"),
    }


def _scd1_check_spec(snap: dict, n_buckets: int, who: str) -> None:
    """q225's loud-failure rule: a writer whose ``n_buckets`` differs
    from the table's recorded bucket spec would scatter a key's rows
    across DIFFERENT buckets than its existing state lives in — the
    merge would duplicate keys with partial counts, silently. Raise
    instead; `scd1_rebucket` is the sanctioned spec change."""
    spec = snap.get("n_buckets")
    if spec is not None and spec != n_buckets:
        raise ValueError(
            f"{who}: table bucket spec is n_buckets={spec} but caller "
            f"passed n_buckets={n_buckets} — a mixed-spec merge would "
            "silently duplicate keys across buckets; use scd1_rebucket "
            "to change the spec"
        )


def _scd1_prepare(
    spark: SparkSession,
    root: str,
    snap: dict,
    batch_df: DataFrame,
    n_buckets: int = 16,
) -> dict:
    """OPTIMISTIC-phase compute: merge the batch into the touched
    buckets' copies AS OF ``snap`` and write the results under a
    writer-UNIQUE data dir (commit_w{uuid} — never a dense version
    name, so two concurrent preparers cannot collide on a path). No
    table metadata is touched; the table does not change until
    `_scd1_publish`. Merge arithmetic mirrors the streaming writer's
    commit() (count ADDs, the (ts, value) struct MAXes — kept inline
    there because of its schema-evolution branch)."""
    import uuid

    _scd1_check_spec(snap, n_buckets, "scd1_commit_batch")
    bucket_of = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).cast(
        "int"
    )
    delta = (
        batch_df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max(
                F.struct(F.col("ts").alias("ts"),
                         F.col("value").alias("value"))
            ).alias("last"),
        )
        .withColumn("bucket", bucket_of)
    )
    touched = sorted(
        r["bucket"] for r in delta.select("bucket").distinct().collect()
    )
    prev_paths = [
        f"{root}/{snap['bucket_dir'][str(b)]}/pbucket={b}"
        for b in touched
        if str(b) in snap["bucket_dir"]
    ]
    if prev_paths:
        prev = spark.read.option("mergeSchema", "true").parquet(
            *prev_paths
        )
        # refuse schema-evolved tables LOUDLY: this committer merges
        # the base (user_id, n_events, last) schema only — rewriting
        # an evolved bucket with a base-schema copy would silently
        # reset the evolved column to its read-time default for every
        # key in the bucket
        extra = set(prev.columns) - {"user_id", "n_events", "last",
                                     "pbucket", "bucket"}
        if extra:
            raise ValueError(
                f"scd1_commit_batch: table carries schema-evolved "
                f"column(s) {sorted(extra)} this committer does not "
                "merge — committing would erase them; use the "
                "evolution-aware streaming writer for this table"
            )
        # apply the snapshot's pending equality-deletes for the
        # touched buckets BEFORE merging (q220): the rewrite
        # materializes them, and `_scd1_publish` drops their manifest
        # entries for exactly these buckets. Without this a deleted
        # key would resurrect with its FULL pre-delete history from
        # the prev copy; with it, a batch re-inserting a deleted key
        # re-creates it from the new events alone (DELETE erases
        # history — the documented resurrection semantics).
        dpaths = [
            f"{root}/{d}/pbucket={b}"
            for b in touched
            for d in snap.get("delete_files", {}).get(str(b), [])
        ]
        if dpaths:
            dkeys = spark.read.parquet(*dpaths).select(
                "user_id"
            ).distinct()
            prev = prev.join(dkeys, "user_id", "anti")
        merged = (
            prev.select("user_id", "n_events", "last")
            .unionByName(delta.drop("bucket"))
            .groupBy("user_id")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.max("last").alias("last"),
            )
            .withColumn("bucket", bucket_of)
        )
    else:
        merged = delta
    dirname = f"commit_w{uuid.uuid4().hex[:12]}"
    merged.withColumn("pbucket", F.col("bucket")).write.mode(
        "overwrite"
    ).partitionBy("pbucket").parquet(f"{root}/{dirname}")
    return {
        "dir": dirname,
        "buckets": touched,
        "read_version": snap["version"],
        "read_map": dict(snap["bucket_dir"]),
        "read_deletes": {
            b: list(v)
            for b, v in snap.get("delete_files", {}).items()
        },
        "kind": "merge",
        "n_buckets": n_buckets,
    }


def _scd1_publish(root: str, pending: dict) -> int:
    """OPTIMISTIC publish (the Delta commit-protocol shape at bucket
    granularity): attempt versions read_version+1, +2, ... — each
    attempt atomically LINKS a fully-written manifest into place
    (os.link of a temp file: create-with-content is atomic, so a
    concurrent reader can never observe a half-written manifest).
    Losing a version race is harmless as long as every intervening
    winner touched a DISJOINT bucket set — our merged copies are then
    still correct against the advanced table, and our manifest builds
    on the winner's map (the rebase). An overlapping winner means our
    merge inputs are stale: raise ConcurrentWriteConflict, never
    publish a lost update. Touched-set derivation needs no extra
    bookkeeping: version n touched bucket b iff map_n[b] != map_{n-1}
    [b] (dirs are writer-unique, so equality is identity) OR its
    equality-delete list changed (a DELETE commit rewrites no data dir
    but still invalidates a concurrent merge of the same bucket —
    q220's conflict rule).

    ``pending["kind"]`` (q220): "merge" (default) publishes
    ``pending["dir"]`` as the touched buckets' new data dirs and DROPS
    their delete entries (the prepare step applied them); "delete"
    leaves the data map untouched and APPENDS ``pending["dir"]`` to
    the touched buckets' delete lists; "rebucket" (q225) REPLACES the
    whole map with the new-spec dirs — it touches every bucket, so
    ANY intervening commit conflicts (no rebase is possible).

    Every manifest records the table's bucket spec
    (``pending["n_buckets"]``) so later writers can validate theirs
    (`_scd1_check_spec`)."""
    import json
    import os
    import uuid

    mdir = os.path.join(root, "_manifest")
    os.makedirs(mdir, exist_ok=True)
    mine = {str(b) for b in pending["buckets"]}
    kind = pending.get("kind", "merge")
    prev_map = dict(pending["read_map"])
    prev_del = {
        b: list(v) for b, v in pending.get("read_deletes", {}).items()
    }
    n = pending["read_version"]
    while True:
        n += 1
        path = os.path.join(mdir, f"v{n}.json")
        new_map = dict(prev_map)
        new_del = {b: list(v) for b, v in prev_del.items()}
        if kind == "delete":
            for b in mine:
                new_del.setdefault(b, []).append(pending["dir"])
        elif kind == "rebucket":
            # whole-map replacement under the NEW spec; deletes were
            # applied during the rewrite
            new_map = {b: pending["dir"] for b in mine}
            new_del = {}
        else:
            # a touched bucket the rewrite left EMPTY (every key
            # deleted — the q220 purge case) wrote no partition dir:
            # it leaves the map entirely instead of pointing at a
            # nonexistent path
            dropped = {str(b) for b in pending.get("drop_buckets", ())}
            new_map.update(
                {b: pending["dir"] for b in mine - dropped}
            )
            for b in dropped:
                new_map.pop(b, None)
            for b in mine:
                new_del.pop(b, None)
        new_del = {b: v for b, v in sorted(new_del.items()) if v}
        tmp = f"{path}.w{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "version": n,
                    "bucket_dir": new_map,
                    "delete_files": new_del,
                    "n_buckets": pending.get("n_buckets"),
                },
                fh,
            )
        try:
            os.link(tmp, path)
        except FileExistsError:
            os.unlink(tmp)
            if kind == "rebucket":
                raise ConcurrentWriteConflict(
                    f"version {n} landed after the rebucket snapshot "
                    f"at v{pending['read_version']} — a rebucket "
                    "touches every bucket, recompute from fresh"
                )
            with open(path) as fh:
                theirs = json.load(fh)
            their_map = _manifest_bucket_dir(theirs)
            their_del = {
                b: list(v)
                for b, v in theirs.get("delete_files", {}).items()
            }
            their_touched = {
                b
                for b in (
                    set(their_map)
                    | set(prev_map)
                    | set(their_del)
                    | set(prev_del)
                )
                if their_map.get(b) != prev_map.get(b)
                or their_del.get(b, []) != prev_del.get(b, [])
            }
            if their_touched & mine:
                raise ConcurrentWriteConflict(
                    f"version {n} rewrote buckets "
                    f"{sorted(their_touched & mine)} after our "
                    f"snapshot at v{pending['read_version']} — "
                    "prepared merge is stale, recompute"
                )
            prev_map, prev_del = their_map, their_del
            continue
        os.unlink(tmp)
        return n


def scd1_commit_batch(
    spark: SparkSession,
    root: str,
    batch_df: DataFrame,
    n_buckets: int = 16,
    max_retries: int = 3,
) -> int:
    """CONCURRENT-WRITER batch commit into an SCD1 MERGE table (the
    multi-writer lakehouse story: q215b serializes compaction against
    ingest inside
    ONE foreachBatch; this is the protocol for two INDEPENDENT
    processes committing to the same table root with no shared
    state). Optimistic concurrency in the Delta mold, conflicts
    detected at bucket granularity:

    1. SNAPSHOT the latest manifest (version + bucket -> dir map);
    2. PREPARE: merge the batch against that snapshot's copies into a
       writer-unique data dir (no table mutation);
    3. PUBLISH: atomically link the next version's manifest; a lost
       race against a DISJOINT writer rebases onto the winner's map
       and retries the next version (our copies are still correct); a
       lost race against an OVERLAPPING writer raises
       ConcurrentWriteConflict and this wrapper recomputes from a
       fresh snapshot (up to ``max_retries``) — the lost-update
       anomaly is impossible by construction, which the interleaved-
       writer pytest pins.

    Scope, stated plainly: coordinates optimistic committers with each
    other (and readers — `scd1_read_as_of` sees only fully-linked
    manifests). The long-running streaming writer keeps its in-driver
    state and assumes it is the sole writer of its table; pointing
    both at one root is not supported. Superseded copies from external
    commits are left for a maintenance VACUUM (manifest-diff prune),
    not reclaimed inline. Returns the committed version."""
    import shutil

    last: ConcurrentWriteConflict | None = None
    for _ in range(max_retries + 1):
        snap = _scd1_snapshot(root)
        pending = _scd1_prepare(spark, root, snap, batch_df, n_buckets)
        try:
            return _scd1_publish(root, pending)
        except ConcurrentWriteConflict as e:
            # abandoned attempt: drop the orphaned data dir, recompute
            shutil.rmtree(f"{root}/{pending['dir']}",
                          ignore_errors=True)
            last = e
    raise last  # type: ignore[misc]


def scd1_delete_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    n_buckets: int = 16,
    max_retries: int = 3,
) -> int:
    """MERGE-ON-READ DELETE on an SCD1 MERGE table (q220 —
    the deletion-vector pillar: Iceberg v2 equality-delete files /
    Delta deletion vectors, both public formats): rows matching
    ``predicate`` are deleted WITHOUT rewriting any data file. The
    commit writes one key-list parquet dir partitioned by bucket
    (``root/delete_d{uuid}/pbucket={b}``) and publishes a manifest
    whose per-bucket ``delete_files`` lists it; readers anti-join the
    listed keys at scan time (`scd1_read_as_of`), and the files are
    reconciled away by the next writer to touch the bucket
    (`_scd1_prepare` applies-then-drops them) or by an explicit
    `scd1_purge_deletes` OPTIMIZE.

    Why this is THE delete shape at 100 TB: a predicate matching 0.1%
    of keys under copy-on-write rewrites every touched bucket — a
    table-sized write amplification for a sliver of deletes; here the
    commit cost is O(matched keys), data files are never opened for
    write (the byte-identity pytest pins it), and the read-side bill
    is one bounded anti-join until compaction folds it in.

    Semantics:
    - ``predicate`` is a Spark SQL boolean over the PHYSICAL table
      schema (``user_id``, ``n_events``, ``last.ts``, ``last.value``);
      it is evaluated against the snapshot's live view (existing
      deletes applied first, so re-deleting is a no-op);
    - DELETE erases history: a later upsert re-inserting a deleted key
      re-creates it from the new events alone (the prepare step
      anti-joins the delete keys before merging);
    - AS-OF reads BEFORE the delete still see the rows (delete commits
      prune nothing);
    - concurrency: the optimistic publish treats a delete as touching
      its matched buckets — overlapping concurrent merges conflict and
      recompute (up to ``max_retries``), disjoint ones rebase.

    ``n_buckets`` must match the writer's (key -> bucket is
    ``pmod(xxhash64(user_id), n_buckets)``). Returns the committed
    version (the snapshot's, unchanged, when nothing matches)."""
    import shutil
    import uuid

    last: ConcurrentWriteConflict | None = None
    for _ in range(max_retries + 1):
        snap = _scd1_snapshot(root)
        if snap["version"] < 0:
            raise ValueError(
                f"scd1_delete_where: no committed table under {root!r}"
            )
        _scd1_check_spec(snap, n_buckets, "scd1_delete_where")
        bmap = snap["bucket_dir"]
        paths = [
            f"{root}/{d}/pbucket={b}" for b, d in sorted(bmap.items())
        ]
        live = spark.read.option("mergeSchema", "true").parquet(*paths)
        old_dpaths = [
            f"{root}/{d}/pbucket={b}"
            for b, ds in snap["delete_files"].items()
            for d in ds
        ]
        if old_dpaths:
            prior = spark.read.parquet(*old_dpaths).select(
                "user_id"
            ).distinct()
            live = live.join(prior, "user_id", "anti")
        bucket_of = F.pmod(
            F.xxhash64("user_id"), F.lit(n_buckets)
        ).cast("int")
        matched = (
            live.filter(predicate)
            .select("user_id")
            .withColumn("pbucket", bucket_of)
        )
        touched = sorted(
            r["pbucket"]
            for r in matched.select("pbucket").distinct().collect()
        )
        if not touched:
            return snap["version"]
        dirname = f"delete_d{uuid.uuid4().hex[:12]}"
        matched.write.partitionBy("pbucket").parquet(
            f"{root}/{dirname}"
        )
        pending = {
            "dir": dirname,
            "buckets": touched,
            "read_version": snap["version"],
            "read_map": dict(bmap),
            "read_deletes": snap["delete_files"],
            "kind": "delete",
            "n_buckets": n_buckets,
        }
        try:
            return _scd1_publish(root, pending)
        except ConcurrentWriteConflict as e:
            shutil.rmtree(f"{root}/{dirname}", ignore_errors=True)
            last = e
    raise last  # type: ignore[misc]


def scd1_purge_deletes(
    spark: SparkSession,
    root: str,
    n_buckets: int = 16,
    max_retries: int = 3,
) -> int:
    """OPTIMIZE for q220's merge-on-read deletes: materialize every
    pending equality-delete by rewriting exactly the buckets that
    carry one (data minus delete keys, written under a writer-unique
    dir) and publish a manifest with those delete entries dropped —
    the read-side anti-join disappears and the table is pure
    copy-on-write again. The Delta `REORG ... PURGE` / Iceberg
    rewrite-data-files maintenance step; q215's small-file compaction
    is the sibling for the file-count axis.

    Runs under the same optimistic protocol as any writer (a
    concurrent overlapping commit conflicts and the purge recomputes
    from a fresh snapshot); superseded copies are left for the
    maintenance VACUUM, the `scd1_commit_batch` scope rule. No-op
    (returns the current version) when no delete files are pending."""
    import shutil
    import uuid

    last: ConcurrentWriteConflict | None = None
    for _ in range(max_retries + 1):
        snap = _scd1_snapshot(root)
        _scd1_check_spec(snap, n_buckets, "scd1_purge_deletes")
        dels = snap["delete_files"]
        if not dels:
            return snap["version"]
        touched = sorted(int(b) for b in dels)
        prev = spark.read.option("mergeSchema", "true").parquet(
            *[
                f"{root}/{snap['bucket_dir'][str(b)]}/pbucket={b}"
                for b in touched
            ]
        )
        dkeys = spark.read.parquet(
            *[
                f"{root}/{d}/pbucket={b}"
                for b, ds in dels.items()
                for d in ds
            ]
        ).select("user_id").distinct()
        bucket_of = F.pmod(
            F.xxhash64("user_id"), F.lit(n_buckets)
        ).cast("int")
        clean = prev.join(dkeys, "user_id", "anti").withColumn(
            "pbucket", bucket_of
        )
        dirname = f"commit_w{uuid.uuid4().hex[:12]}"
        clean.write.partitionBy("pbucket").parquet(f"{root}/{dirname}")
        survivors = {
            r["pbucket"]
            for r in clean.select("pbucket").distinct().collect()
        }
        pending = {
            "dir": dirname,
            "buckets": touched,
            "drop_buckets": [b for b in touched if b not in survivors],
            "read_version": snap["version"],
            "read_map": dict(snap["bucket_dir"]),
            "read_deletes": dels,
            "kind": "merge",
            "n_buckets": n_buckets,
        }
        try:
            return _scd1_publish(root, pending)
        except ConcurrentWriteConflict as e:
            shutil.rmtree(f"{root}/{dirname}", ignore_errors=True)
            last = e
    raise last  # type: ignore[misc]


# ------- Q213c SCD1 time travel — manifest AS-OF reads within VACUUM
@query(
    "q213c_scd1_time_travel",
    oracle="""
        -- last_value via lexicographic struct MAX, mirroring the
        -- engine's F.max(struct(ts, value)) exactly: deterministic
        -- even under tied ts (arg_max(value, ts) picks an
        -- arbitrary row on ties)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts) AS last_ts,
               (MAX(struct_pack(ts := ts, v := value))).v AS last_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "pipeline", "write", "cdc"),
)
def q213c(spark: SparkSession, sf: str) -> DataFrame:
    """SCD1 TIME TRAVEL — the last Delta-style pillar on
    the MERGE table: q213 is MERGE (CDC in), q213b the changelog (CDC
    out), q215/q215b OPTIMIZE; this is AS-OF reads bounded by a VACUUM
    horizon. The MERGE runs with ``retain_commits=2`` so superseded
    bucket copies outlive the commits that superseded them, keeping
    every manifest in the horizon fully readable; the table is then
    read back through `scd1_read_as_of` — manifest JSON + referenced
    parquet only, NO writer state, so any process can time-travel a
    table another process wrote. AS OF the newest version must equal
    the closed-form rollup for ANY batching (hash contract); the
    multi-commit semantics — each retained version reproducing its
    prefix rollup exactly, and the VACUUMed version's files actually
    gone — are pinned by the 3-trigger pytest."""
    from ..session import scratch_dir

    root = scratch_dir("kstreamjs_scd1_tt", sf)
    sdf = stream_table(spark, sf, "events")
    scd1_upsert_stream(sdf, root, retain_commits=2)
    return scd1_read_as_of(spark, root).orderBy("user_id")


# -------- Q220 merge-on-read DELETE — equality-delete files (DVs)
@query(
    "q220_scd1_delete_vectors",
    oracle="""
        -- deterministic struct-MAX mirror of the engine fold
        -- (arg_max is arbitrary under tied ts)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts) AS last_ts,
               (MAX(struct_pack(ts := ts, v := value))).v AS last_value
        FROM events GROUP BY user_id
        HAVING NOT ((MAX(struct_pack(ts := ts, v := value))).v < 30.0)
        ORDER BY user_id
    """,
    tags=("streaming", "pipeline", "write", "cdc"),
)
def q220(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE-ON-READ DELETE via equality-delete files (the
    deletion-vector pillar: Iceberg v2 position/equality deletes,
    Delta deletion vectors; both public formats): the events stream
    MERGEs into the SCD1 dimension table (q213's pipeline), then
    `scd1_delete_where` deletes every user whose latest value is
    below 30 WITHOUT rewriting a single data file — the commit
    writes one key-list parquet per touched bucket plus a manifest
    listing it, and `scd1_read_as_of` reconciles at scan time with
    one anti-join. At 100 TB this is the only sane delete shape for
    sliver-sized predicates (GDPR erasure, spam takedown): cost is
    O(matched keys), not O(touched buckets rewritten); write
    amplification moves to the explicit `scd1_purge_deletes`
    OPTIMIZE, scheduled when the read-side anti-join bill exceeds
    the rewrite bill.

    Hash contract: surviving table == the closed-form rollup with the
    predicate restated as HAVING NOT — for ANY micro-batch schedule
    (the MERGE arithmetic is schedule-invariant, the delete is a pure
    predicate on the converged table). The merge-on-read mechanics —
    data files byte-identical after DELETE, pre-delete versions still
    readable, purge equivalence, resurrection semantics, concurrent
    overlap conflicts — are pinned by the q220 pytest family."""
    from ..session import scratch_dir

    root = scratch_dir("kstreamjs_scd1_dv", sf)
    sdf = stream_table(spark, sf, "events")
    scd1_upsert_stream(sdf, root)
    scd1_delete_where(spark, root, "last.value < 30.0")
    return scd1_read_as_of(spark, root).orderBy("user_id")


# -------- Q213b SCD1 MERGE changelog — the CDC-OUT direction
@query(
    "q213b_scd1_changelog",
    oracle="""
        -- deterministic struct-MAX mirror of the engine fold
        -- (arg_max is arbitrary under tied ts)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_after,
               MAX(ts) AS last_ts_after,
               (MAX(struct_pack(ts := ts, v := value))).v
                   AS last_value_after
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "pipeline", "write", "cdc"),
)
def q213b(spark: SparkSession, sf: str) -> DataFrame:
    """SCD1 MERGE CHANGELOG — the CDC-OUT direction
    completing q213's CDC-IN: each MERGE commit also emits one change
    row per batch key (old count, new count + latest state) into
    ``root/_changelog/c{n}``, written from the just-committed and
    still-live previous bucket copies BEFORE retention prunes them —
    the change-data-feed a downstream consumer subscribes to instead
    of re-diffing dimension snapshots. Output here is the LATEST
    changelog entry per key, which must equal the dimension table
    itself for ANY micro-batch schedule (changelog-follows-table, the
    invariant that makes a feed trustworthy) — hash-matched against
    the same closed-form rollup as q213. The multi-commit semantics
    (per-commit deltas summing to the final count, n_before chaining
    to the prior commit's n_after) are pinned by the multi-batch
    pytest, which replays three triggers and checks the ledger row by
    row."""
    from ..session import scratch_dir

    from pyspark.sql import Window

    root = scratch_dir("kstreamjs_scd1_cdc", sf)
    sdf = stream_table(spark, sf, "events")
    scd1_upsert_stream(sdf, root, changelog=True)
    log = spark.read.parquet(f"{root}/_changelog/c*")
    w = Window.partitionBy("user_id").orderBy(F.col("commit").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id", "n_after", "last_ts_after", "last_value_after"
        )
        .orderBy("user_id")
    )


# ------ Q213d SCD1 schema evolution — add a column across a commit
_Q213D_EVOLVE_TS = "2024-01-15 00:00:00"


@query(
    "q213d_scd1_schema_evolution",
    oracle=f"""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts) AS last_ts,
               (MAX(struct_pack(ts := ts, v := value))).v AS last_value,
               ROUND(COALESCE(SUM(value) FILTER (
                   WHERE ts >= TIMESTAMP '{_Q213D_EVOLVE_TS}'), 0),
                   4) AS sum_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "pipeline", "write", "cdc", "schema"),
)
def q213d(spark: SparkSession, sf: str) -> DataFrame:
    """SCD1 SCHEMA EVOLUTION across a commit boundary (the Delta
    pillar after MERGE/changelog/time-travel/OPTIMIZE): the dimension
    table ADDS a ``sum_value`` column — lifetime sum of ``value`` over events at/after the
    boundary timestamp — starting at the first commit whose batch
    crosses it. Pre-boundary commits write the v1 schema (the column
    physically ABSENT from their footers); reads and merges spanning
    the boundary reconcile v1 bucket files with the documented
    default 0.0 (exact, because pre-boundary events contribute 0 to
    the since-boundary sum by definition). Anchoring evolution to
    EVENT TIME rather than commit index is what makes the final table
    a closed-form rollup for ANY micro-batch schedule — the hash
    contract; the mixed-manifest mechanics (v1 files really lack the
    column, AS-OF reads before the boundary default-fill through
    `scd1_read_as_of(extra_cols=...)`) are pinned by the 3-trigger
    pytest."""
    from ..session import scratch_dir

    root = scratch_dir("kstreamjs_scd1_evo", sf)
    sdf = stream_table(spark, sf, "events")
    dim = scd1_upsert_stream(
        sdf, root, evolve_sum_from=_Q213D_EVOLVE_TS
    )
    return dim.withColumn(
        "sum_value", F.round("sum_value", 4)
    ).orderBy("user_id")


# ------ Q214b STREAMING embedding near-dup — verify + decide at ingest
def cosine_verified_stream(
    sdf: DataFrame, vectors: DataFrame, threshold: float
) -> DataFrame:
    """Embedding near-dup pairs among the arriving (vec_id, embedding)
    rows of ``sdf``, verified and decided in-stream: SRP band
    collisions (`srp_banded_buckets` into `bucket_pair_stream`)
    stream-static join back to the vector store ``vectors``, TRUE
    cosine >= ``threshold`` keeps a pair, and each kept pair carries
    drop_id = its larger id. The streaming twin of batch
    `cosine_neardup_pairs_lsh`; callers collapse cross-band duplicate
    emissions with a final distinct."""
    from ..operators.dedup import spread
    from ..operators.similarity import as_double, cosine, srp_banded_buckets
    from ..plans import materialize_once

    banded = srp_banded_buckets(
        sdf, caller="q214b_stream_cosine_neardup"
    ).withColumnRenamed("vec_id", "doc_id")
    cand = bucket_pair_stream(banded).select(
        F.col("d1").alias("v1"), F.col("d2").alias("v2")
    )
    # q205b's rationale: the static vector store feeds BOTH verify-join
    # sides and a stream-static join replays its static subtree every
    # micro-batch — cast + scan once, checkpoint, derive both sides
    # (guide §3.3 duplicated subtrees).
    e = materialize_once(
        spread(vectors, "vec_id").select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        ),
        eager=False,
    )
    s1 = e.select(F.col("vec_id").alias("v1"), F.col("v").alias("va"))
    s2 = e.select(F.col("vec_id").alias("v2"), F.col("v").alias("vb"))
    score = F.round(cosine(F.col("va"), F.col("vb")), 6)
    return (
        cand.join(s1, "v1").join(s2, "v2")
        .withColumn("score", score)
        .filter(F.col("score") >= threshold)
        .select("v1", "v2", "score", F.col("v2").alias("drop_id"))
    )


@query(
    "q214b_stream_embedding_neardup",
    oracle=None,  # q214's category; hard streaming==batch equality
                  # pinned in pytest + APPROX_EVIDENCE at both SFs
    tags=("streaming", "dedup", "similarity", "llm", "approx",
          "stateful"),
)
def q214b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING embedding near-dup at ingest — the q205b
    shape for the EMBEDDING modality, completing the streaming dedup
    matrix (text candidates+verified, perceptual image+audio, now
    semantic): every arriving vector's banded SRP signature (the ONE
    `srp_banded_buckets` home the batch pair join uses) keys the
    generic `bucket_pair_stream` self-join, collision pairs stream-static
    join back to the vector store, TRUE cosine verifies in-stream, and
    survivors carry the drop decision (larger id — the q110 keeper
    policy). The join makes the emitted pair set equal the
    batch equi-join for ANY arrival schedule, so the verified output
    equals batch `cosine_neardup_pairs_lsh` exactly — the hard
    equality APPROX_EVIDENCE records at both SFs and pytest pins
    across schedules including descending ids."""
    from .llm import _Q214_THRESHOLD

    (emb,) = load(spark, sf, "embeddings")
    sdf = stream_table(spark, sf, "embeddings")
    verified = cosine_verified_stream(sdf, emb, _Q214_THRESHOLD)
    sink = run_to_memory(verified, "q214b", output_mode="append")
    return sink.distinct().orderBy("v1", "v2")


# ------ Q216b STREAMING WordPiece application — tokenize at ingest
def _q216b_oracle() -> str:
    from ..operators.text import greedy_chain_sql, wordpiece_vocab_sql

    return f"""
        WITH RECURSIVE {wordpiece_vocab_sql()},
        {greedy_chain_sql("wp_wc")},
        doc_words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents
        )
        SELECT d.doc_id,
               CAST(SUM(COALESCE(s.n_pieces, 0)) AS BIGINT) AS n_pieces,
               CAST(COUNT(*) AS BIGINT) AS n_words
        FROM doc_words d LEFT JOIN wp_seg s ON s.w = d.w
        GROUP BY d.doc_id
        ORDER BY d.doc_id
    """


@query(
    "q216b_stream_wordpiece_tokenize",
    oracle=_q216b_oracle(),
    tags=("streaming", "text", "llm", "tokenizer"),
)
def q216b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING WordPiece application — tokenize at ingest,
    completing the tokenizer family's production split (q179b
    BPE, q212b unigram, now greedy): the vocabulary trains batch-side
    (`text.wordpiece_vocab`, one home with q216), and every arriving
    document tokenizes in a pure EXPRESSION projection — the greedy
    fold applied per word inside an `aggregate` over the token array,
    no UDF, no state, no join; append mode, one row per arrival with
    its piece and word counts. Unlike q179b/q212b this streaming twin
    is HASH-MATCHED (the recursive-CTE oracle), not rows-only — the
    first streaming tokenizer row the driver can value-check.

    OOV honesty: unseen single chars emit '[UNK]' and advance (the
    `greedy_pieces_sql` contract), so the projection is total on any
    ingest text, not just the replayed corpus."""
    from ..operators.text import greedy_pieces_sql, wordpiece_vocab

    (documents,) = load(spark, sf, "documents")
    vocab = wordpiece_vocab(documents)
    per_word = greedy_pieces_sql("__word", vocab)
    sdf = stream_table(spark, sf, "documents")
    out = sdf.select(
        "doc_id",
        F.expr(
            f"""aggregate(split(text, ' '), CAST(0 AS BIGINT),
                 (__acc_d, __word) -> __acc_d + ({per_word}).n_pieces)"""
        ).alias("n_pieces"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
    )
    return run_to_memory(out, "q216b", output_mode="append").orderBy(
        "doc_id"
    )


def scd1_rebucket(
    spark: SparkSession,
    root: str,
    new_n_buckets: int,
    max_retries: int = 3,
) -> int:
    """BUCKET-SPEC EVOLUTION (q225 — the partition-spec-
    evolution pillar, Iceberg's spec-id mechanism restated for a
    hash-bucketed MERGE table): atomically rewrite the table from its
    current ``n_buckets`` to ``new_n_buckets``. Unlike Iceberg's lazy
    per-file spec (viable there because its MERGE rewrites files),
    a hash-bucketed dim table CANNOT run mixed specs — a key's rows
    would live in different buckets under each spec and the
    bucket-granular MERGE would silently duplicate them (the exact
    corruption `_scd1_check_spec` now refuses). So the sanctioned
    change is this maintenance op: read every live bucket copy, apply
    pending equality-deletes, re-derive the bucket under the NEW
    spec, write the whole table under one writer-unique dir, and
    publish a whole-map-replacing manifest recording the new spec.

    One table-sized rewrite, scheduled like any OPTIMIZE — the price
    of keeping the per-key locality invariant every other commit's
    O(touched-bucket) bill depends on. A rebucket touches every
    bucket, so ANY intervening commit conflicts (publish raises and
    this wrapper recomputes from a fresh snapshot, up to
    ``max_retries``); AS-OF reads before the rebucket resolve the old
    manifests untouched."""
    import shutil
    import uuid

    last: ConcurrentWriteConflict | None = None
    for _ in range(max_retries + 1):
        snap = _scd1_snapshot(root)
        if snap["version"] < 0:
            raise ValueError(
                f"scd1_rebucket: no committed table under {root!r}"
            )
        bmap = snap["bucket_dir"]
        if not bmap:
            # fully-deleted table: nothing to
            # rewrite — publish a manifest recording the NEW spec
            # with an empty bucket map (spec evolution on an empty
            # table is legitimate; the next MERGE writes under it)
            pending = {
                "dir": "",  # unreferenced: no buckets survive
                "buckets": [],
                "read_version": snap["version"],
                "read_map": {},
                "read_deletes": snap["delete_files"],
                "kind": "rebucket",
                "n_buckets": new_n_buckets,
            }
            try:
                return _scd1_publish(root, pending)
            except ConcurrentWriteConflict as e:
                last = e
                continue
        prev = spark.read.option("mergeSchema", "true").parquet(
            *[
                f"{root}/{d}/pbucket={b}"
                for b, d in sorted(bmap.items())
            ]
        )
        dpaths = [
            f"{root}/{d}/pbucket={b}"
            for b, ds in snap["delete_files"].items()
            for d in ds
        ]
        if dpaths:
            dkeys = spark.read.parquet(*dpaths).select(
                "user_id"
            ).distinct()
            prev = prev.join(dkeys, "user_id", "anti")
        moved = prev.withColumn(
            "pbucket",
            F.pmod(F.xxhash64("user_id"), F.lit(new_n_buckets)).cast(
                "int"
            ),
        )
        dirname = f"commit_w{uuid.uuid4().hex[:12]}"
        moved.write.partitionBy("pbucket").parquet(f"{root}/{dirname}")
        survivors = sorted(
            r["pbucket"]
            for r in moved.select("pbucket").distinct().collect()
        )
        pending = {
            "dir": dirname,
            "buckets": survivors,
            "read_version": snap["version"],
            "read_map": dict(bmap),
            "read_deletes": snap["delete_files"],
            "kind": "rebucket",
            "n_buckets": new_n_buckets,
        }
        try:
            return _scd1_publish(root, pending)
        except ConcurrentWriteConflict as e:
            shutil.rmtree(f"{root}/{dirname}", ignore_errors=True)
            last = e
    raise last  # type: ignore[misc]


# ------- Q219b streaming kNN-graph maintenance: search-then-link insert
_Q219B_K = 20       # out-degree cap == q218's k (comparable graphs)
_Q219B_BEAM = 16    # q219's shipped search knobs
_Q219B_HOPS = 4
_Q219B_ENTRIES = 4
_Q219B_REFINE = 2   # link-then-refine rounds (sweep in APPROX_EVIDENCE)


def knn_graph_insert_stream(
    sdf: DataFrame,
    seed_vectors: DataFrame,
    k: int = _Q219B_K,
    beam: int = _Q219B_BEAM,
    hops: int = _Q219B_HOPS,
    n_entries: int = _Q219B_ENTRIES,
    refine_rounds: int = 1,
    persist_root: str | None = None,
) -> DataFrame:
    """STREAMING k-NN-graph maintenance (the index-
    MAINTENANCE half of the graph-ANN family, the q191/q191b
    train-offline/apply-online split): the index is BUILT batch-side
    by q218's NN-Descent on the seed corpus; every arriving vector is
    then inserted HNSW-style (Malkov & Yashunin 2016's insert:
    search, then link) — beam-search the CURRENT graph for the
    arrival's top-k (q219's walk, entries kept inside the seed's
    dense id range via ``entry_mod``), add the found edges in BOTH
    directions, and cut every touched node back to out-degree k by
    score rank (the neighbor-selection prune). Already-indexed ids
    are skipped by an anti-join (idempotent re-delivery, the q168
    ingest-dedup contract).

    Per-trigger bill: arrivals × (entries + hops·beam·2k) scored
    candidates — a graph WALK per arrival, never a scan of the
    indexed corpus; state is the (vectors, edges) pair, advanced by
    equi-joins + one bounded window and localCheckpoint per commit
    (the q56/scd1 policy). Intra-trigger arrivals search the
    PRE-trigger index (they link to each other only through later
    reverse edges / the next trigger) — deterministic for any fixed
    schedule; the planted-manifold pytest and the APPROX_EVIDENCE
    recall row quantify the graph against the exact one.

    ``persist_root``: when set, the index ALSO
    rides the on-disk bucketed-manifest store — the seed graph lands
    as `ann_index_write`'s v0 commit and every trigger commits the
    COMPLETE new adjacency of its touched srcs (arrivals, their found
    neighbors, every refinement endpoint — a tracked superset of the
    rows that changed) via `ann_index_commit`'s per-src replacement
    MERGE. After the stream, `ann_index_read(root)` equals the
    returned in-memory graph exactly (the persistence pytest pins
    it), and a serving restart reopens the maintained index with one
    bucketed scan."""
    from ..operators import similarity
    from ..streaming.replay import run_foreach_batch

    seed = seed_vectors.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("vec")
    ).localCheckpoint()
    n_seed = seed.count()
    g0 = similarity.nn_descent(seed_vectors, k=k, iters=8)
    state = {
        "vectors": seed,
        "graph": g0.drop("rn").localCheckpoint(),
    }
    if persist_root is not None:
        ann_index_write(state["graph"], persist_root)
    w_src = Window.partitionBy("src").orderBy(
        F.col("score").desc(), "dst"
    )

    def commit(batch_df: DataFrame, _bid: int) -> None:
        arriv = (
            batch_df.select(
                F.col("vec_id").alias("node"),
                F.col("embedding").alias("vec"),
            )
            .dropDuplicates(["node"])
            .join(state["vectors"].select("node"), "node", "anti")
            .localCheckpoint()
        )
        if arriv.limit(1).count() == 0:
            return
        qs = arriv.select(
            F.col("node").alias("qid"), F.col("vec").alias("qv")
        )
        found = similarity.graph_ann_topk(
            state["graph"],
            state["vectors"],
            qs,
            k=k,
            beam=beam,
            hops=hops,
            n_entries=n_entries,
            entry_mod=n_seed,
        ).drop("rn")
        touched = [
            qs.select(F.col("qid").alias("src")),
            found.select(F.col("node").alias("src")),
        ]
        edges = found.select(
            F.col("qid").alias("src"), F.col("node").alias("dst"), "score"
        )
        edges = edges.unionByName(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "score",
            )
        )
        g = (
            state["graph"]
            .unionByName(edges)
            .dropDuplicates(["src", "dst"])
            .withColumn("rn", F.row_number().over(w_src))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )
        vecs = state["vectors"].unionByName(arriv).localCheckpoint()
        # LINK-THEN-REFINE: ``refine_rounds`` neighbor-of-neighbor
        # candidate rounds restricted to pairs INVOLVING an arrival
        # (incremental NN-Descent's new-flag rule, Dong et al. 2011
        # §2.3) — without it, same-trigger arrivals can only reach
        # each other through the next trigger's reverse edges and the
        # inserted-half recall collapses (measured 0.51 vs 0.96 at
        # sf0.01; the APPROX_EVIDENCE sweep). Bill per round: touched
        # pivots x (2k x new-neighbors-per-pivot), never a full-graph
        # descent round.
        sv = vecs.select(F.col("node").alias("u"), F.col("vec").alias("_sv"))
        dv = vecs.select(F.col("node").alias("w"), F.col("vec").alias("_dv"))
        for _ in range(refine_rounds):
            adj = g.select("src", "dst").unionByName(
                g.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            ).dropDuplicates(["src", "dst"])
            a_p = adj.select(
                F.col("src").alias("p"), F.col("dst").alias("u")
            )
            a_new = (
                adj.join(arriv.select(F.col("node").alias("dst")), "dst")
                .select(F.col("src").alias("p"), F.col("dst").alias("w"))
            )
            cand = (
                a_p.join(a_new, "p")
                .filter(F.col("u") != F.col("w"))
                .select("u", "w")
                .dropDuplicates(["u", "w"])
            )
            touched.append(cand.select(F.col("u").alias("src")))
            touched.append(cand.select(F.col("w").alias("src")))
            ref = (
                cand.join(sv, "u")
                .join(dv, "w")
                .select(
                    F.col("u").alias("src"),
                    F.col("w").alias("dst"),
                    F.round(
                        similarity.cosine(F.col("_sv"), F.col("_dv")), 6
                    ).alias("score"),
                )
            )
            # each computed similarity updates BOTH endpoints' lists
            # (Dong et al.'s both-lists rule; the one-directional
            # form would leave inserted nodes' out-edges
            # frozen at the search result) — the reverse edge is free
            ref = ref.unionByName(
                ref.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    "score",
                )
            )
            g = (
                g.unionByName(ref)
                .dropDuplicates(["src", "dst"])
                .withColumn("rn", F.row_number().over(w_src))
                .filter(F.col("rn") <= k)
                .drop("rn")
                .localCheckpoint()
            )
        state["graph"] = g.localCheckpoint() if refine_rounds == 0 else g
        state["vectors"] = vecs
        if persist_root is not None:
            from functools import reduce

            tn = reduce(
                lambda a, b: a.unionByName(b), touched
            ).dropDuplicates(["src"])
            delta = state["graph"].join(tn, "src", "semi")
            ann_index_commit(
                batch_df.sparkSession, persist_root, delta
            )

    run_foreach_batch(sdf, commit, "knn_insert")
    return state["graph"].withColumn("rn", F.row_number().over(w_src))


@query(
    "q219b_stream_knn_graph_insert",
    oracle=None,
    tags=("streaming", "similarity", "graph", "ann", "approx", "slow"),
)
def q219b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING kNN-graph insert — q218 builds the index
    offline on the first half of the embedding corpus (ids [0, N/2):
    a dense prefix, so the descent's modular init applies unchanged);
    the stream then replays the full table and every NEW vector is
    inserted by search-then-link (`knn_graph_insert_stream`), the
    first-half arrivals skipping via the idempotency anti-join. The
    returned frame is the final maintained graph (src, dst, score,
    rn) — the same shape q218 emits, so the two index paths are
    directly comparable.

    Rows-only by design (the insert order is a property of the
    STREAM, not SQL-expressible); the quantitative contract lives in
    APPROX_EVIDENCE: graph recall of the maintained index vs the
    exact all-pairs graph, overall AND restricted to the streamed-in
    half, at both SFs, with a pytest gate — plus the planted-manifold
    insert pytest (inserted nodes link only inside their cluster)."""
    (emb,) = load(spark, sf, "embeddings")
    half = emb.count() // 2
    seed = emb.filter(F.col("vec_id") < half)
    sdf = stream_table(spark, sf, "embeddings")
    return knn_graph_insert_stream(
        sdf, seed, refine_rounds=_Q219B_REFINE
    ).orderBy("src", "rn")


# -------- Q224 streaming bottom-k sample — keyed hash-priority state
_Q224_K = 5
_Q224_SEED = 7


def _bottomk_update(kept, pdf, k: int = _Q224_K) -> list:
    """Fold one chunk of ``(priority, doc_id)`` rows into ``kept``, the
    ``k`` smallest ``(priority, doc_id)`` pairs seen so far, ascending:
    q224's per-key step (a `keyed_fold` step)."""
    pairs = [tuple(pair) for pair in kept]
    pairs.extend(zip(map(int, pdf["priority"]), map(int, pdf["doc_id"])))
    return sorted(pairs)[:k]


@query(
    "q224_stream_bottomk_sample",
    oracle=f"""
        SELECT lang, doc_id, priority, rn FROM (
            SELECT lang, doc_id,
                   {hash_bucket_sql('doc_id', seed=_Q224_SEED)}
                       AS priority,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY {hash_bucket_sql('doc_id',
                                                 seed=_Q224_SEED)},
                                doc_id) AS BIGINT) AS rn
            FROM documents
        ) WHERE rn <= {_Q224_K}
        ORDER BY lang, rn
    """,
    tags=("streaming", "sampling", "stateful", "llm"),
)
def q224(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING RESERVOIR SAMPLING per stratum — bottom-k by
    deterministic hash priority, folded per key across micro-batches
    (`keyed_fold`): every language keeps the k=5 documents with the
    smallest LCG priority (`sampling.hash_bucket`, the q52/q53 hash
    family) across ALL micro-batches — the streaming twin of the
    batch sampling rows, and the shape an ingest pipeline uses to
    hold a uniform per-stratum sample of an unbounded stream in O(k)
    state per key.

    The design point vs classic reservoir sampling (Vitter's
    Algorithm R): hash-PRIORITY bottom-k is ORDER-INVARIANT — the
    kept set is a pure function of the ids seen, not of arrival
    order or RNG state — so the streaming result equals the batch
    window rank for ANY micro-batch schedule and the query is
    HASH-matched, not rows-only (the same property that makes
    bottom-k sketches mergeable across partitions; Cohen & Kaplan
    2007). State per key is k (priority, id) pairs — bytes; each
    trigger folds its batch through one bounded sort
    (`_bottomk_update`).

    At 100 TB: state is langs x k pairs regardless of stream length;
    the per-trigger bill is one groupBy(lang) over the batch."""
    import json

    from ..operators.sampling import hash_bucket

    sdf = stream_table(spark, sf, "documents").select(
        "lang",
        "doc_id",
        hash_bucket("doc_id", seed=_Q224_SEED).alias("priority"),
    )
    # langs x k pairs — a bounded driver artifact
    finals = keyed_fold(sdf, "lang", [], _bottomk_update, "q224").collect()
    rows = [
        (r["lang"], int(d), int(p), rn + 1)
        for r in finals
        for rn, (p, d) in enumerate(json.loads(r["state"]))
    ]
    return spark.createDataFrame(
        rows, "lang string, doc_id long, priority long, rn long"
    ).orderBy("lang", "rn")


# ------- Q225 bucket-spec evolution: REBUCKET 8 -> 16 under manifests
@query(
    "q225_scd1_bucket_evolution",
    oracle="""
        -- last_value via lexicographic struct MAX, mirroring the
        -- engine's F.max(struct(ts, value)) exactly: deterministic
        -- even under tied ts (arg_max(value, ts) picks an
        -- arbitrary row on ties)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts) AS last_ts,
               (MAX(struct_pack(ts := ts, v := value))).v AS last_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "pipeline", "write", "cdc"),
)
def q225(spark: SparkSession, sf: str) -> DataFrame:
    """BUCKET-SPEC EVOLUTION — the partition-spec-evolution
    pillar on the SCD1 MERGE table, completing the Delta/Iceberg set
    (MERGE, changelog, time travel + VACUUM, OPTIMIZE, schema
    evolution, concurrent writers, deletion vectors, and now spec
    change): the events stream MERGEs in under an 8-bucket spec, then
    `scd1_rebucket` rewrites the table to 16 buckets — the resize a
    growing table needs, because every commit's O(touched-bucket)
    bill scales with bucket SIZE. The spec is recorded in every
    manifest, and every writer now VALIDATES its n_buckets against it
    (`_scd1_check_spec` — a mismatched writer previously corrupted
    silently by scattering a key's rows across two specs' buckets;
    pinned by the q225 pytest family). The hash
    contract: the post-rebucket table equals the closed-form rollup —
    a rebucket moves every row, loses none, duplicates none."""
    from ..session import scratch_dir

    root = scratch_dir("kstreamjs_scd1_rb", sf)
    sdf = stream_table(spark, sf, "events")
    scd1_upsert_stream(sdf, root, n_buckets=8)
    scd1_rebucket(spark, root, 16)
    return scd1_read_as_of(spark, root).orderBy("user_id")


# ------ Q226 streaming CDC apply with tombstones (last-writer-wins)
@query(
    "q226_stream_cdc_lww_tombstones",
    oracle="""
        -- deterministic mirror of the engine's three-field struct
        -- MAX (ts, is_del, value): on a tied ts the tombstone wins,
        -- then the larger value (arg_max is arbitrary under
        -- ties)
        WITH lww AS (
          SELECT user_id,
                 CAST(COUNT(*) AS BIGINT) AS n_records,
                 MAX(ts) AS last_ts,
                 MAX(struct_pack(ts := ts,
                                 d := (event_type = 'error'),
                                 v := value)) AS last
          FROM events GROUP BY user_id
        )
        SELECT user_id, n_records, last_ts, (last).v AS last_value
        FROM lww WHERE NOT (last).d
        ORDER BY user_id
    """,
    tags=("streaming", "pipeline", "cdc", "stateful"),
)
def q226(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING CDC APPLY with DELETE tombstones, last-writer-wins
    (the Debezium-consumer shape the SCD1 family still
    lacked: q213 MERGEs additive facts, q220 deletes by PREDICATE;
    this applies a change FEED where each record is an upsert or a
    tombstone and the key's fate is decided by its LATEST record):
    the events replay is read as a CDC ledger — event_type 'error'
    is the tombstone op (~20% of records), everything else upserts —
    and per key the state keeps (record count, latest (ts, is_delete,
    value)). A key whose latest record is a tombstone is ABSENT from
    the emitted table; a later upsert resurrects it with its full
    record history intact (CDC consumers count every record — unlike
    q220's predicate DELETE, a tombstone does not erase history, it
    ends the key's visibility until the next upsert).

    Why this is hash-matched (not rows-only): both state components
    are ORDER-INVARIANT folds — the count ADDs, the latest-record
    struct MAXes on the unique ts — so the converged table equals
    the closed-form rollup (HAVING NOT arg_max(is_delete, ts)) for
    ANY micro-batch schedule; the 2-trigger pytest replays
    upsert/delete/upsert sequences split across trigger boundaries
    both ways. State advances per trigger by one groupBy + struct
    MAX and localCheckpoint (the q219b/q56 policy); at 100 TB the
    same fold runs as q213's partition-pruned bucket MERGE — the
    LWW struct is just a different merge aggregate on the same
    commit protocol."""
    from ..streaming.replay import run_foreach_batch

    sdf = stream_table(spark, sf, "events").select(
        "user_id",
        "ts",
        "value",
        (F.col("event_type") == "error").alias("is_del"),
    )
    state: dict = {"df": None}

    def commit(batch_df: DataFrame, _bid: int) -> None:
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.max(
                F.struct(
                    F.col("ts").alias("ts"),
                    F.col("is_del").alias("is_del"),
                    F.col("value").alias("value"),
                )
            ).alias("last"),
        )
        if state["df"] is None:
            state["df"] = delta.localCheckpoint()
        else:
            state["df"] = (
                state["df"]
                .unionByName(delta)
                .groupBy("user_id")
                .agg(
                    F.sum("n_records").cast("long").alias("n_records"),
                    F.max("last").alias("last"),
                )
                .localCheckpoint()
            )

    run_foreach_batch(sdf, commit, "cdc_lww")
    if state["df"] is None:
        raise ValueError(
            "q226: source stream produced zero micro-batches"
        )
    return (
        state["df"]
        .filter(~F.col("last.is_del"))
        .select(
            "user_id",
            "n_records",
            F.col("last.ts").alias("last_ts"),
            F.col("last.value").alias("last_value"),
        )
        .orderBy("user_id")
    )


# ----- Q229 streaming graph-ANN query SERVING (stateless apply-online)
@query(
    "q229_stream_graph_ann_serve",
    oracle=_q219_oracle,
    tags=("streaming", "similarity", "graph", "ann", "slow"),
)
def q229(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING graph-ANN query serving — q219's search
    deployed the way an ANN service runs it: the index (NN-Descent
    graph) is built ONCE batch-side, then QUERIES arrive as a stream
    and every micro-batch is answered by the same beam walk through a
    foreachBatch serving loop (the q177b/q179b apply-online split,
    except the apply step is itself a distributed JOIN pipeline, so
    it runs per-batch under foreachBatch rather than as a scan
    projection). No state between batches — the graph is static, each
    query's answer depends only on (graph, query) — so the streamed
    result equals batch q219 EXACTLY for any micro-batch schedule,
    which is why this streaming row carries q219's full hash oracle
    VERBATIM rather than a rows-only check (the strongest stream==
    batch argument: stateless serving over a frozen index).

    At 100 TB: the per-trigger bill is the walk bill times the
    trigger's query count; the graph and vector tables never move
    between triggers (localCheckpoint once, before the stream
    starts)."""
    from ..operators import similarity
    from .pipeline import (
        _Q218_ITERS,
        _Q218_K,
        _Q219_BEAM,
        _Q219_ENTRIES,
        _Q219_HOPS,
        _Q219_K,
        _Q219_NQ,
    )
    from ..streaming.replay import run_foreach_batch

    (emb,) = load(spark, sf, "embeddings")
    g = similarity.nn_descent(
        emb, k=_Q218_K, iters=_Q218_ITERS
    ).drop("rn").localCheckpoint()
    vv = emb.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("vec")
    ).localCheckpoint()
    n = vv.count()
    sdf = stream_table(spark, sf, "embeddings").filter(
        F.col("vec_id") < _Q219_NQ
    )
    acc: dict = {"df": None}

    def commit(batch_df: DataFrame, _bid: int) -> None:
        qs = batch_df.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        ).dropDuplicates(["qid"])
        if qs.limit(1).count() == 0:
            return
        res = similarity.graph_ann_topk(
            g,
            vv,
            qs,
            k=_Q219_K,
            beam=_Q219_BEAM,
            hops=_Q219_HOPS,
            n_entries=_Q219_ENTRIES,
            entry_mod=n,
        ).localCheckpoint()
        acc["df"] = (
            res if acc["df"] is None else acc["df"].unionByName(res)
        )

    run_foreach_batch(sdf, commit, "ann_serve")
    if acc["df"] is None:
        raise ValueError(
            "q229: query stream produced zero micro-batches"
        )
    return acc["df"].orderBy("qid", "rn")


# ---- Q232b streaming weighted-MinHash dedup at ingest (CWS + verify)
@query(
    "q232b_stream_weighted_minhash",
    oracle=None,
    tags=("streaming", "dedup", "text", "approx", "stateful", "slow"),
)
def q232b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING weighted near-dup detection AT INGEST —
    the q205b shape for the WEIGHTED family: every arriving document
    projects its ICWS band signatures scan-side
    (`cws_banded_projection` — the one home shared with batch q232;
    per-row (token, tf) entries from the row's own array, no shuffle,
    streaming-safe), the shared bucket emitter
    (`bucket_pair_stream`, a stream-stream self-join) turns
    band collisions into candidate pairs the moment the second
    member lands, and a batch post-pass EXACT-verifies the collected
    candidates with q231's `_wjac_pairs` arithmetic restricted to
    same-source pairs — emitted pairs are exact-verified weighted
    Jaccard >= theta, precision 1.0 by construction.

    Rows-only by design (the q205/q214b category), with the HARD
    equality contract: bucket_pair_stream's emitted candidate set
    equals the batch band self-join for ANY schedule (its pinned
    property) and the verify arithmetic is shared, so the final
    frame must equal batch q232 EXACTLY — pinned by the pytest and
    re-attested in APPROX_EVIDENCE alongside q232's vs-exact rows."""
    from .llm import _wjac_pairs, _wjac_tf, cws_banded_projection

    (documents,) = load(spark, sf, "documents")
    tf = _wjac_tf(documents)
    src = tf.select("doc_id", "source").dropDuplicates(["doc_id"])
    sdf = stream_table(spark, sf, "documents")
    # source-scoped band signatures: the emitter's bucket identity
    # must carry the blocking key the batch path expresses as a join
    # column (see the projection docstring's 16.4M-pair measurement)
    banded = cws_banded_projection(sdf, scope_col="source")
    pairs = run_to_memory(
        bucket_pair_stream(banded), "q232b", output_mode="append"
    ).dropDuplicates(["d1", "d2"])
    cand = (
        pairs.join(
            src.select(F.col("doc_id").alias("d1"),
                       F.col("source").alias("s1")),
            "d1",
        )
        .join(
            src.select(F.col("doc_id").alias("d2"),
                       F.col("source").alias("s2")),
            "d2",
        )
        .filter(F.col("s1") == F.col("s2"))
        .select("d1", "d2")
    )
    return _wjac_pairs(tf, cand)


# ------- Q221b STREAMING chunk dedup AT INGEST (the CCNet transform
# deployed: the deployment shape of the chunk-dedup family member)
@query(
    "q221b_stream_chunk_dedup",
    oracle=lambda: REGISTRY["q221_chunk_dedup_rebuild"].oracle,
    tags=("streaming", "dedup", "text", "llm", "stateful"),
)
def q221b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING corpus-wide chunk dedup with document reconstruction
    — q221's CCNet paragraph-dedup transform run the way an
    ingestion service runs it: arriving documents CHUNK SCAN-SIDE
    (fixed-8-token windows + rolling-hash fingerprints — a pure
    projection over the row's own token array, no shuffle before the
    per-batch rank), first-occurrence state is the accumulated
    DISTINCT chunk-fingerprint set (8 bytes per distinct chunk — the
    q168 "history IS the state" shape at sub-document granularity,
    never text), and each trigger emits its documents REBUILT from
    the chunks that survive against (a) all prior triggers' state and
    (b) the within-batch (doc_id, st) rank — exactly q221's
    first-occurrence rule when arrival order is doc-id order, which
    is the ingest contract (arrival DEFINES "first" in a streaming
    dedup; the replayed corpus arrives in doc order, so this row
    carries q221's full hash oracle VERBATIM — the q229 idiom).
    Schedule-invariance (any in-order trigger split yields the
    identical table, cross-trigger duplicates dropped, within-trigger
    duplicates ranked) is pinned by the 3-way split pytest.

    At 100 TB: per-trigger cost is one chunk projection + one
    fingerprint equi-join against the state set + one per-doc
    aggregate — the state join is the q57/q168 anti-join a runtime
    bloom or bucketed fingerprint table represents at scale; the
    shuffle carries (doc_id, st, cfp) at ~20 bytes a chunk, never
    text; reconstruction joins the per-doc kept-start lists back to
    the batch's own rows (one equi-join, token arrays move once).

    Ref parity: window/state semantics from the reference's single
    stateful operator (src/stream.ts:130-200) — here the state is a
    dedup set rather than a window buffer, same at-ingest shape."""
    sdf = stream_table(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    )
    return chunk_dedup_stream(sdf)


def chunk_dedup_stream(sdf: DataFrame) -> DataFrame:
    """q221b's fold as a reusable transform over any streaming frame of
    (doc_id, ts: array<string>) — the one code home the multi-trigger
    schedule-invariance pytest drives with its own file splits."""
    from ..operators import text as text_ops
    from ..streaming.replay import run_foreach_batch
    from .curation import _Q221_W

    state: dict = {"seen": None, "out": None}

    def commit(batch_df: DataFrame, _bid: int) -> None:
        d = batch_df.localCheckpoint()  # chunk + rebuild read it twice
        ex = d.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("ts"), F.lit(_Q221_W))
            ).alias("st"),
            text_ops.fingerprint(
                F.array_join(
                    F.slice("ts", F.col("st"), _Q221_W), " "
                )
            ).alias("cfp"),
        )
        w = Window.partitionBy("cfp").orderBy("doc_id", "st")
        k = ex.withColumn("rk", F.row_number().over(w))
        if state["seen"] is not None:
            k = k.join(
                state["seen"].withColumn("_old", F.lit(True)),
                "cfp",
                "left",
            )
        else:
            k = k.withColumn("_old", F.lit(None).cast("boolean"))
        keep = (F.col("rk") == 1) & F.col("_old").isNull()
        agg = k.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.count(F.when(keep, 1)).cast("long").alias("n_kept"),
            F.sort_array(
                F.collect_list(F.when(keep, F.col("st")))
            ).alias("sts"),
        )
        rebuilt = F.array_join(
            F.transform(
                F.col("sts"),
                lambda s: F.array_join(
                    F.slice(F.col("ts"), s, _Q221_W), " "
                ),
            ),
            " ",
        )
        out = (
            agg.join(d, "doc_id")
            .select(
                "doc_id",
                "n_chunks",
                "n_kept",
                F.when(F.col("n_kept") == 0, F.lit(0).cast("long"))
                .otherwise(text_ops.fingerprint(rebuilt))
                .alias("rebuilt_fp"),
            )
        )
        state["out"] = (
            out if state["out"] is None
            else state["out"].unionByName(out)
        ).localCheckpoint()
        batch_fps = ex.select("cfp").distinct()
        state["seen"] = (
            batch_fps if state["seen"] is None
            else state["seen"].unionByName(batch_fps).distinct()
        ).localCheckpoint()

    run_foreach_batch(sdf, commit, "chunk_dedup_ingest")
    if state["out"] is None:
        raise ValueError(
            "chunk_dedup_stream: source produced zero micro-batches"
        )
    return state["out"].orderBy("doc_id")


# ---- Graph-ANN index PERSISTENCE: the
# NN-Descent edge frame rides the lakehouse write path — hash-bucketed
# by src under the scd1 versioned-manifest commit protocol
# (`_scd1_publish`: same atomic manifest flip, same optimistic
# conflict rule, one commit-protocol home) — so a serving restart
# pays ONE BUCKETED SCAN instead of an O(N·k²·iters) descent rebuild,
# and streaming insert commits maintain the on-disk index at bucket
# granularity (per-src adjacency REPLACEMENT, the q213 MERGE shape).
_ANN_IDX_BUCKETS = 16


def _ann_bucket_of(n_buckets: int):
    return F.pmod(F.xxhash64("src"), F.lit(n_buckets)).cast("int")


def ann_index_write(graph: DataFrame, root: str,
                    n_buckets: int = _ANN_IDX_BUCKETS) -> int:
    """Initial commit: the full (src, dst, score) edge frame written
    bucketed by src. Bucketing by src co-locates each node's whole
    adjacency list in one file — the beam walk's hop join reads and
    the insert path's per-src rewrites both key on src."""
    import os
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)
    rows = graph.select("src", "dst", "score").withColumn(
        "pbucket", _ann_bucket_of(n_buckets)
    )
    dirname = "commit_v0"
    rows.write.partitionBy("pbucket").parquet(f"{root}/{dirname}")
    survivors = sorted(
        r["pbucket"] for r in rows.select("pbucket").distinct().collect()
    )
    return _scd1_publish(root, {
        "dir": dirname,
        "buckets": survivors,
        "read_version": -1,
        "read_map": {},
        "read_deletes": {},
        "kind": "merge",
        "n_buckets": n_buckets,
    })


def ann_index_commit(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    n_buckets: int = _ANN_IDX_BUCKETS,
    max_retries: int = 3,
) -> int:
    """Per-src REPLACEMENT merge: ``delta`` carries the COMPLETE new
    adjacency (src, dst, score) for every touched src; only the
    buckets containing touched srcs are read and rewritten (rows of
    untouched srcs in those buckets survive via an anti-join), the
    partition-pruned MERGE bill q213 pays — O(touched buckets), not
    O(index)."""
    import shutil
    import uuid

    delta = delta.select("src", "dst", "score").localCheckpoint()
    last: ConcurrentWriteConflict | None = None
    for _ in range(max_retries + 1):
        snap = _scd1_snapshot(root)
        _scd1_check_spec(snap, n_buckets, "ann_index_commit")
        d = delta.withColumn("pbucket", _ann_bucket_of(n_buckets))
        touched = sorted(
            r["pbucket"]
            for r in d.select("pbucket").distinct().collect()
        )
        prev_paths = [
            f"{root}/{snap['bucket_dir'][str(b)]}/pbucket={b}"
            for b in touched
            if str(b) in snap["bucket_dir"]
        ]
        out = d
        if prev_paths:
            keep = (
                spark.read.parquet(*prev_paths)
                .join(delta.select("src").distinct(), "src", "anti")
                .withColumn("pbucket", _ann_bucket_of(n_buckets))
            )
            out = keep.unionByName(out)
        dirname = f"commit_w{uuid.uuid4().hex[:12]}"
        out.write.partitionBy("pbucket").parquet(f"{root}/{dirname}")
        survivors = {
            r["pbucket"]
            for r in out.select("pbucket").distinct().collect()
        }
        pending = {
            "dir": dirname,
            "buckets": touched,
            "drop_buckets": [b for b in touched if b not in survivors],
            "read_version": snap["version"],
            "read_map": dict(snap["bucket_dir"]),
            "read_deletes": {},
            "kind": "merge",
            "n_buckets": n_buckets,
        }
        try:
            return _scd1_publish(root, pending)
        except ConcurrentWriteConflict as e:
            shutil.rmtree(f"{root}/{dirname}", ignore_errors=True)
            last = e
    raise last  # type: ignore[misc]


def ann_index_read(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """(src, dst, score) AS OF a manifest version (default newest) —
    one bucketed parquet scan, the serving restart's whole bill. The
    manifest-then-paths resolution is snapshot-isolated exactly like
    `scd1_read_as_of` (immutable manifests, writer-unique dirs)."""
    import json
    import os

    mdir = os.path.join(root, "_manifest")
    if version is None:
        versions = sorted(
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        if not versions:
            raise ValueError(f"ann_index_read: no manifest under {root!r}")
        version = versions[-1]
    with open(os.path.join(mdir, f"v{version}.json")) as fh:
        man = json.load(fh)
    bdir = _manifest_bucket_dir(man)
    paths = [
        f"{root}/{d}/pbucket={b}" for b, d in sorted(bdir.items())
    ]
    if not paths:
        return spark.range(0).select(
            F.lit(None).cast("long").alias("src"),
            F.lit(None).cast("long").alias("dst"),
            F.lit(None).cast("double").alias("score"),
        )
    return spark.read.parquet(*paths).select("src", "dst", "score")


# ---- Q229b streaming graph-ANN serving FROM THE PERSISTED INDEX
@query(
    "q229b_stream_ann_serve_persisted",
    oracle=_q219_oracle,
    tags=("streaming", "similarity", "graph", "ann", "write", "slow"),
)
def q229b(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING graph-ANN serving from the ON-DISK index (closes
    q229's restart gap): the NN-Descent graph is
    built once, PERSISTED through the bucketed-manifest store
    (`ann_index_write` — the q217 bucketed-layout idea under the q213
    commit protocol), and the serving loop then answers every query
    trigger from `ann_index_read`'s frame — so a serving RESTART pays
    one bucketed parquet scan (+ manifest resolve), never the
    O(N·k²·iters) descent rebuild q229 would repeat. The persisted
    edges are value-identical to the built frame (parquet round-trips
    (long, long, double) exactly), the walk is deterministic, and the
    serving is stateless over a frozen index — so this row carries
    q219's full hash oracle VERBATIM, now pinning BOTH the round-trip
    and the serve (write -> read -> walk == the batch walk).

    At 100 TB: the index table is src-bucketed (each node's adjacency
    co-located in one file); maintenance commits rewrite only touched
    buckets (`ann_index_commit`, exercised by the q219b persistence
    path and its pytest); serving cost per trigger is unchanged from
    q229."""
    from ..operators import similarity
    from ..session import scratch_dir
    from ..streaming.replay import run_foreach_batch
    from .pipeline import (
        _Q218_ITERS,
        _Q218_K,
        _Q219_BEAM,
        _Q219_ENTRIES,
        _Q219_HOPS,
        _Q219_K,
        _Q219_NQ,
    )

    (emb,) = load(spark, sf, "embeddings")
    root = scratch_dir("kstreamjs_ann_serve", sf)
    ann_index_write(
        similarity.nn_descent(
            emb, k=_Q218_K, iters=_Q218_ITERS
        ).drop("rn"),
        root,
    )
    # the restart path: everything the serving loop knows about the
    # index comes off disk (one bucketed scan, pinned in memory for
    # the triggers that follow)
    g = ann_index_read(spark, root).localCheckpoint()
    vv = emb.select(
        F.col("vec_id").alias("node"), F.col("embedding").alias("vec")
    ).localCheckpoint()
    n = vv.count()
    sdf = stream_table(spark, sf, "embeddings").filter(
        F.col("vec_id") < _Q219_NQ
    )
    acc: dict = {"df": None}

    def commit(batch_df: DataFrame, _bid: int) -> None:
        qs = batch_df.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        ).dropDuplicates(["qid"])
        if qs.limit(1).count() == 0:
            return
        res = similarity.graph_ann_topk(
            g, vv, qs,
            k=_Q219_K, beam=_Q219_BEAM, hops=_Q219_HOPS,
            n_entries=_Q219_ENTRIES, entry_mod=n,
        ).localCheckpoint()
        acc["df"] = (
            res if acc["df"] is None else acc["df"].unionByName(res)
        )

    run_foreach_batch(sdf, commit, "ann_serve_disk")
    if acc["df"] is None:
        raise ValueError(
            "q229b: query stream produced zero micro-batches"
        )
    return acc["df"].orderBy("qid", "rn")

