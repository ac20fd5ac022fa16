"""Relational query inventory Q01-Q25 (SURVEY.md §2B).

Each query is idiomatic DataFrame code: filters/projections are declared
before joins so Catalyst pushes them into the parquet scan; small dimensions
are broadcast; aggregations run partial+final automatically.

Reference parity cites (what the reference itself had): projection/map
/root/reference/src/stream.ts:38-56, filter src/stream.ts:57-77, explode
src/stream.ts:78-90, tumbling window src/stream.ts:130-200, union
src/stream.ts:201-230. Everything else (joins, groupBy, window functions,
set ops, subqueries...) is the analytical surface the reference lacks,
mandated by BASELINE.json.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.percentile import histogram_percentiles
from ..tables import load
from . import query


# ---------------------------------------------------------------- Q01 scan
@query(
    "q01_scan_count",
    oracle="SELECT COUNT(*) AS cnt FROM lineitem",
    tags=("scan",),
    bench=True,
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet scan + count. At 100 TB this is metadata-only for parquet
    (row-group stats), no full read."""
    (lineitem,) = load(spark, sf, "lineitem")
    return lineitem.agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------- Q02 projection
@query(
    "q02_project_revenue",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS revenue
        FROM lineitem
    """,
    tags=("map",),
)
def q02(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level projection (reference `map`, src/stream.ts:38-56).
    Pure IEEE arithmetic — unrounded, bitwise-identical across engines.
    ReadSchema prunes to 4 columns of 11."""
    (lineitem,) = load(spark, sf, "lineitem")
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


# -------------------------------------------------------------- Q03 filter
@query(
    "q03_filter_purchases",
    oracle="""
        SELECT event_id FROM events
        WHERE event_type = 'purchase' AND value > 50
    """,
    tags=("filter",),
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    """Predicate filter (reference `filter`, src/stream.ts:57-77).
    Both predicates push down to the parquet scan (PushedFilters)."""
    (events,) = load(spark, sf, "events")
    return (
        events.filter((F.col("event_type") == "purchase") & (F.col("value") > 50))
        .select("event_id")
    )


# ------------------------------------------------------------- Q04 explode
@query(
    "q04_explode_tokens",
    oracle="""
        SELECT doc_id, word FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        ) ORDER BY doc_id, word LIMIT 1000
    """,
    tags=("explode",),
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    """UNNEST (reference `explode`, src/stream.ts:78-90): one row per array
    element, parent columns retained."""
    (documents,) = load(spark, sf, "documents")
    return (
        documents.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .orderBy("doc_id", "word")
        .limit(1000)
    )


# ------------------------------------------- Q05 tumbling window agg (batch)
@query(
    "q05_hourly_agg",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour,
               ROUND(SUM(value), 4) AS sum_value,
               COUNT(*) AS cnt
        FROM events GROUP BY 1
    """,
    tags=("window-agg",),
    bench=True,
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    """Batch replay of the reference's tumbling event-time window
    (src/stream.ts:130-200): hourly SUM/COUNT over events. Partial
    aggregation is map-side; one shuffle on the truncated hour."""
    (events,) = load(spark, sf, "events")
    return events.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.count(F.lit(1)).alias("cnt"),
    )


# --------------------------------------------------------------- Q06 union
@query(
    "q06_union",
    oracle="""
        SELECT event_id FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT event_id FROM events WHERE event_type = 'view'
    """,
    tags=("union",),
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    """Stream merge (reference `union`, src/stream.ts:201-230) as unionByName.
    Interleaving order is unspecified in both systems; compare is
    order-insensitive."""
    (events,) = load(spark, sf, "events")
    clicks = events.filter(F.col("event_type") == "click").select("event_id")
    views = events.filter(F.col("event_type") == "view").select("event_id")
    return clicks.unionByName(views)


# ------------------------------------------------ Q07 hash agg (TPC-H Q1)
@query(
    "q07_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(FLOOR(l_quantity * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_qty,
               SUM(CAST(FLOOR(l_extendedprice * 10000 + 0.5) AS BIGINT))
                   / 10000.0 AS sum_base_price,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                        AS BIGINT)) / 10000.0 AS sum_disc_price,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                              * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_charge,
               ROUND(AVG(l_quantity), 6)       AS avg_qty,
               ROUND(AVG(l_extendedprice), 4)  AS avg_price,
               ROUND(AVG(l_discount), 6)       AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
    bench=True,
)
def q07(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate hash aggregation. Catalyst plans
    partial (map-side) + final agg; whole-stage codegen covers the scan +
    both agg phases. Low cardinality keys -> tiny shuffle."""
    (lineitem,) = load(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # SUMs of doubles are summation-order-dependent (engines disagree in the
    # last ulp, which can straddle a rounding boundary), and double->decimal
    # casts differ too (JVM shortest-repr vs binary rounding). Quantize each
    # term with pure IEEE ops — floor(x*1e4 + 0.5) is bit-identical
    # everywhere — sum exactly as BIGINT, divide once at the end.
    dec = lambda c: (  # noqa: E731
        F.sum(F.floor(c * 10000 + 0.5).cast("long")) / F.lit(10000.0)
    )
    return lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        dec(F.col("l_quantity")).alias("sum_qty"),
        dec(F.col("l_extendedprice")).alias("sum_base_price"),
        dec(disc_price).alias("sum_disc_price"),
        dec(charge).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ------------------------------------------------------------ Q08 distinct
@query(
    "q08_count_distinct",
    oracle="SELECT COUNT(DISTINCT user_id) AS users FROM events",
    tags=("distinct",),
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT): planned as two-phase partial-distinct then count —
    no row explosion on the driver."""
    (events,) = load(spark, sf, "events")
    return events.agg(F.count_distinct("user_id").alias("users"))


# ------------------------------------------- Q09 multi-way inner equi-join
@query(
    "q09_revenue_by_nation",
    oracle="""
        SELECT n_name,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                        AS BIGINT)) / 10000.0 AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    tags=("join",),
    bench=True,
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: fact-fact join (orders x lineitem: shuffle/sort-merge
    or shuffled-hash, AQE decides) + broadcast of the 25-row nation dim.
    The orderdate filter is pushed into the orders scan, shrinking the
    build side before any shuffle — at 100 TB this is the difference
    between shuffling 2 years and shuffling 7."""
    customer, orders, lineitem, nation = load(
        spark, sf, "customer", "orders", "lineitem", "nation"
    )
    orders_f = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.join(orders_f, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            (F.sum(F.floor(revenue * 10000 + 0.5).cast("long")) / F.lit(10000.0))
            .alias("revenue")
        )
    )


# ------------------------------------------------------ Q10 left outer join
@query(
    "q10_customer_order_counts",
    oracle="""
        SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
    tags=("join",),
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    """Left outer join preserving customers with no orders; COUNT(col)
    ignores the nulls the outer side introduces."""
    customer, orders = load(spark, sf, "customer", "orders")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


# ------------------------------------------------------- Q11 semi/anti join
@query(
    "q11a_customers_with_orders",
    oracle="""
        SELECT c_custkey FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def q11a(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi join (EXISTS). Spark plans a semi-join that only ships the
    join key of the right side — no payload shuffle."""
    customer, orders = load(spark, sf, "customer", "orders")
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey")


@query(
    "q11b_customers_without_orders",
    oracle="""
        SELECT c_custkey FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def q11b(spark: SparkSession, sf: str) -> DataFrame:
    """Left-anti join (NOT EXISTS; NOT IN is avoided for its null
    semantics)."""
    customer, orders = load(spark, sf, "customer", "orders")
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey")


# ----------------------------------------------- Q12 ranking window function
@query(
    "q12_top3_orders_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    tags=("window-fn",),
    bench=True,
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking window function. Spark 3.5+/4.x inserts a WindowGroupLimit
    (rank pushdown) so each partition keeps only its top-3 before the full
    sort — essential when one customer key is hot."""
    (orders,) = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------- Q13 analytic window (frames)
@query(
    "q13_running_sum",
    oracle="""
        SELECT event_id, user_id,
               ROUND(SUM(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS running_value,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    """,
    tags=("window-fn",),
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic window functions with an explicit frame; (ts, event_id) is a
    total order within each user partition so the running sum is
    deterministic."""
    (events,) = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(frame), 4).alias("running_value"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


# ------------------------------------------------------ Q14 sort/limit/topk
@query(
    "q14_top10_orders",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=("sort",),
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject — per-partition heaps, no
    global sort, no full-result shuffle. O(k) driver memory at any scale."""
    (orders,) = load(spark, sf, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


# ------------------------------------------------------------- Q15 set ops
@query(
    "q15a_intersect",
    oracle="""
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
    tags=("setop",),
)
def q15a(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT (set semantics): users with both clicks and purchases."""
    (events,) = load(spark, sf, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id")
    buys = events.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


@query(
    "q15b_except",
    oracle="""
        SELECT user_id FROM events WHERE event_type = 'click'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'error'
    """,
    tags=("setop",),
)
def q15b(spark: SparkSession, sf: str) -> DataFrame:
    """EXCEPT (set semantics): click users minus error users."""
    (events,) = load(spark, sf, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id")
    errs = events.filter(F.col("event_type") == "error").select("user_id")
    return clicks.subtract(errs)


# ----------------------------------------------------- Q16 rollup/cube/sets
@query(
    "q16_rollup",
    oracle="""
        SELECT n_name, o_orderpriority, COUNT(*) AS cnt
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP(n_name, o_orderpriority)
    """,
    tags=("agg", "slow"),
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping sets: Spark expands to a union of grouping sets in a
    single Expand+Aggregate — one pass over the data, not one per set."""
    customer, orders, nation = load(spark, sf, "customer", "orders", "nation")
    joined = customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey")
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    return joined.rollup("n_name", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# ----------------------------------------------------- Q17 string functions
@query(
    "q17_string_fns",
    oracle="""
        SELECT p_partkey,
               upper(p_name) AS up_name,
               substring(p_name, 1, 5) AS pfx,
               CAST(length(p_name) AS BIGINT) AS name_len,
               concat(p_brand, '|', p_type) AS brand_type,
               (p_name LIKE '%a%') AS has_a,
               replace(p_type, ' ', '_') AS type_u,
               CAST(instr(p_name, 'e') AS BIGINT) AS first_e
        FROM part
    """,
    tags=("scalar-fn",),
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar string function surface (upper/substr/length/concat/like/
    replace/instr), all JVM-side in whole-stage codegen."""
    (part,) = load(spark, sf, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.substring("p_name", 1, 5).alias("pfx"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.col("p_name").like("%a%").alias("has_a"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_u"),
        F.instr(F.col("p_name"), "e").cast("long").alias("first_e"),
    )


# -------------------------------------------------- Q18 date/time functions
@query(
    "q18_date_fns",
    oracle="""
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mo,
               COUNT(*) AS cnt,
               CAST(MIN(date_diff('day', DATE '1995-01-01',
                                  o_orderdate::DATE)) AS BIGINT) AS min_day_off
        FROM orders
        GROUP BY 1, 2, 3
    """,
    tags=("scalar-fn",),
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    """Date/time functions: truncation, extraction, day arithmetic."""
    (orders,) = load(spark, sf, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").alias("mon"),
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")))
            .cast("long")
            .alias("min_day_off"),
        )
    )


# ------------------------------------------------------- Q19 math functions
@query(
    "q19_math_fns",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               abs(l_discount - 0.05) AS d_abs,
               CAST(floor(l_extendedprice) AS BIGINT) AS p_floor,
               CAST(ceil(l_quantity) AS BIGINT) AS q_ceil,
               ROUND(sqrt(l_extendedprice), 6) AS p_sqrt,
               ROUND(ln(l_extendedprice + 1), 6) AS p_ln,
               ROUND(pow(l_quantity, 2), 6) AS q_sq
        FROM lineitem
    """,
    tags=("scalar-fn",),
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    """Math function surface. sqrt is IEEE-exact; ln/pow go through libm so
    they are rounded to 6 dp (possible 1-ulp differences across engines)."""
    (lineitem,) = load(spark, sf, "lineitem")
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("d_abs"),
        F.floor("l_extendedprice").alias("p_floor"),
        F.ceil("l_quantity").alias("q_ceil"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("p_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("p_ln"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("q_sq"),
    )


# ------------------------------------------------------ Q20 array functions
@query(
    "q20_array_fns",
    oracle="""
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               CAST(embedding[1] AS DOUBLE) AS h1,
               CAST(embedding[2] AS DOUBLE) AS h2,
               CAST(embedding[3] AS DOUBLE) AS h3,
               CAST(list_min(embedding) AS DOUBLE) AS emin,
               CAST(list_max(embedding) AS DOUBLE) AS emax
        FROM embeddings
    """,
    tags=("array-fn",),
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    """Array function surface over the embedding column (size / slice /
    element_at / array_min / array_max). Floats are upcast to double (exact)
    so both engines hand back identical values. Output is all scalars: the
    driver's canonicalizer cannot sort rows containing array cells, so the
    head-of-vector probe is emitted as three scalar columns taken *through*
    a slice (exercising the array path without an array-typed result).
    F.get (0-based, null-safe) rather than element_at: with ANSI mode on
    (the Spark 4 default) element_at raises ARRAY_INDEX_OUT_OF_BOUNDS on a
    short vector, while the oracle's embedding[k] returns NULL."""
    (emb,) = load(spark, sf, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    head3 = F.slice(as_double, 1, 3)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.get(head3, 0).alias("h1"),
        F.get(head3, 1).alias("h2"),
        F.get(head3, 2).alias("h3"),
        F.array_min(as_double).alias("emin"),
        F.array_max(as_double).alias("emax"),
    )


# --------------------------------------------------- Q21 map/JSON functions
@query(
    "q21_json_fns",
    oracle="""
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int
        FROM events
    """,
    tags=("json-fn",),
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic-JSON escape hatch (reference payloads are schema-less JSON,
    /root/reference/src/context.ts:143): get_json_object over a raw string
    column."""
    (events,) = load(spark, sf, "events")
    k = F.get_json_object("props", "$.k")
    return events.select(
        "event_id",
        k.alias("k_str"),
        k.cast("long").alias("k_int"),
    )


# ------------------------------------------- Q22 CASE / conditional / nulls
@query(
    "q22_case_when",
    oracle="""
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'neg'
                    WHEN c_acctbal < 5000 THEN 'low'
                    ELSE 'high' END AS segment,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg2
        FROM customer
    """,
    tags=("scalar-fn",),
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    """CASE WHEN / COALESCE / NULLIF surface."""
    (customer,) = load(spark, sf, "customer")
    return customer.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("segment"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER"))
        .alias("seg2"),
    )


# --------------------------------------------- Q23 correlated subquery shape
@query(
    "q23_above_avg_orders",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice > (
            SELECT AVG(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey)
    """,
    tags=("subquery",),
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery, expressed as the decorrelated plan Spark
    itself would produce: aggregate-then-join on the correlation key."""
    (orders,) = load(spark, sf, "orders")
    avg_per_cust = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.avg("o_totalprice").alias("avg_price")
    )
    return (
        orders.join(avg_per_cust, F.col("o_custkey") == F.col("ck"))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ----------------------------------------------- Q24 percentiles (exact+approx)
@query(
    "q24_percentiles",
    oracle="""
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
               ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (hash-checked). The approximate
    variants (approx_count_distinct / percentile_approx) are declared as
    q24b with a rows-only check — sketches are not bit-comparable across
    engines."""
    (lineitem,) = load(spark, sf, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 6).alias("median_qty"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90_price"),
    )


@query("q24b_approx_aggs", oracle=None, tags=("agg", "approx"))
def q24b(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate aggregates (HLL++ count-distinct, GK-sketch percentile).
    At 100 TB these replace their exact counterparts: fixed-size sketches,
    mergeable map-side, no giant shuffle. Rows-only check by design."""
    (events,) = load(spark, sf, "events")
    return events.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_median_value"),
    )


# ------------------------------------------------------- Q25 exact dedup
@query(
    "q25_dedup_exact",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("dedup",),
    bench=True,
)
def q25(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup on a key subset (dropDuplicates ≡ hash groupBy on the
    key). Partial map-side dedup happens before the shuffle, so at 100 TB
    the shuffle carries only the distinct keys per partition."""
    (events,) = load(spark, sf, "events")
    return events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )


# ------------------------------------------------------------- Q38 pivot
@query(
    "q38_pivot",
    oracle="""
        SELECT date_trunc('month', o_orderdate) AS month,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                   AS urgent,
               COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
               COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')
                   AS medium,
               COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')
                   AS not_specified,
               COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
        FROM orders GROUP BY 1
    """,
    tags=("pivot", "agg"),
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT: order counts per month spread across priority columns. The
    value list is pinned (no discovery pass over the data), so Spark plans
    a single aggregate — one scan, one shuffle on the month."""
    (orders,) = load(spark, sf, "orders")
    prio = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "not_specified",
        "5-LOW": "low",
    }
    pivoted = (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .pivot("o_orderpriority", list(prio))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "month",
        *[F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(a) for v, a in prio.items()],
    )


# ------------------------------------------------------------ Q16b cube
@query(
    "q16b_cube",
    oracle="""
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
               SUM(CAST(FLOOR(o_totalprice * 10000 + 0.5) AS BIGINT))
                   / 10000.0 AS sum_price
        FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
    tags=("agg",),
)
def q16b(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations) in one Expand+Aggregate pass.
    Same quantized-sum determinism trick as q07."""
    (orders,) = load(spark, sf, "orders")
    qsum = F.sum(
        F.floor(F.col("o_totalprice") * 10000 + 0.5).cast("long")
    ) / F.lit(10000.0)
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"), qsum.alias("sum_price")
    )


# ---------------------------------------------------------- Q45 unpivot
@query(
    "q45_unpivot",
    oracle="""
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
               l_quantity AS val FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
    tags=("pivot",),
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT/melt: wide measures to (measure, val) long form. Spark plans
    a single Expand (one scan, 4x row output) — not four scans like the
    UNION ALL the oracle spells out."""
    (lineitem,) = load(spark, sf, "lineitem")
    return lineitem.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )


# --------------------------------------------------------- Q39 as-of join
@query(
    "q39_asof_join",
    oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts FROM events
                   WHERE event_type = 'click')
        SELECT p.event_id, p.user_id, p.ts,
               (SELECT max(c.ts) FROM c
                WHERE c.user_id = p.user_id AND c.ts <= p.ts)
                   AS asof_click_ts
        FROM p
    """,
    tags=("join", "asof"),
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click at
    or before it (NULL when none). Implemented as union + one
    last(ignorenulls) window — single shuffle on user_id, no range-join
    explosion (see operators.asof for the 100 TB notes). The oracle states
    the same semantics as a correlated subquery."""
    from ..operators.asof import asof_join

    (events,) = load(spark, sf, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_ts"],
    )


@query(
    "q72_asof_forward",
    oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts FROM events
                   WHERE event_type = 'click')
        SELECT p.event_id, p.user_id, p.ts,
               (SELECT min(c.ts) FROM c
                WHERE c.user_id = p.user_id AND c.ts >= p.ts)
                   AS asof_click_ts
        FROM p
    """,
    tags=("join", "asof"),
)
def q72(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of join: each purchase matched to the user's NEXT click
    at or after it (NULL when none) — the time-to-next-event attribution
    query, q39's mirror. Same single-shuffle window plan with a mirrored
    first(ignorenulls) pass (operators.asof direction='forward'); the
    oracle states the semantics as a correlated MIN subquery."""
    from ..operators.asof import asof_join

    (events,) = load(spark, sf, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_ts"],
        direction="forward",
    )


@query(
    "q73_asof_nearest",
    oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts FROM events
                   WHERE event_type = 'click')
        SELECT p.event_id, p.user_id, p.ts,
               (SELECT c.ts FROM c
                WHERE c.user_id = p.user_id
                ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)), c.ts
                LIMIT 1) AS asof_click_ts
        FROM p
    """,
    tags=("join", "asof"),
)
def q73(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest as-of join: each purchase matched to the user's closest
    click in either time direction, exact ties preferring the earlier
    (backward) click — pandas merge_asof's convention, which the oracle's
    ORDER BY abs(delta), ts replays exactly. Both directional passes run
    over ONE shuffle on user_id (operators.asof direction='nearest')."""
    from ..operators.asof import asof_join

    (events,) = load(spark, sf, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_ts"],
        direction="nearest",
    )


# ------------------------------------------------------ Q43 range join
@query(
    "q43_range_join",
    oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts FROM events
                   WHERE event_type = 'click')
        SELECT p.event_id, p.user_id,
               (SELECT COUNT(*) FROM c
                WHERE c.user_id = p.user_id
                  AND c.ts > p.ts - INTERVAL '10 minutes'
                  AND c.ts <= p.ts) AS clicks_10m
        FROM p
    """,
    tags=("join", "range"),
)
def q43(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded time-range join: clicks in the 10 minutes before each
    purchase, per user. Bucketed equi-join (see operators.rangejoin) — the
    inequality never reaches the planner alone, so no nested-loop join.
    The oracle states the same semantics as a correlated COUNT."""
    from ..operators.rangejoin import bucketed_range_join

    (events,) = load(spark, sf, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    pairs = bucketed_range_join(
        purchases, clicks, on=["user_id"], left_ts="ts",
        right_ts="click_ts", window_seconds=600,
    )
    return pairs.groupBy("event_id", "user_id").agg(
        F.count("click_ts").alias("clicks_10m")
    )


# -------------------------------------------------- Q47 ordered string agg
@query(
    "q47_listagg",
    oracle="""
        SELECT n_name,
               string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segs
        FROM (
            SELECT DISTINCT n_name, c_mktsegment
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        ) GROUP BY n_name
    """,
    tags=("agg", "string"),
)
def q47(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic LISTAGG: distinct segments per nation, sorted then
    joined — collect_list is order-nondeterministic in a distributed agg,
    so the sort happens inside the array before join (the only
    reproducible form at any parallelism)."""
    customer, nation = load(spark, sf, "customer", "nation")
    pairs = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("n_name", "c_mktsegment").distinct()
    return pairs.groupBy("n_name").agg(
        F.array_join(F.array_sort(F.collect_list("c_mktsegment")), ",").alias("segs")
    )


# ------------------------------------- Q13b distribution window functions
@query(
    "q13b_distribution_fns",
    oracle="""
        SELECT o_orderkey,
               CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pr,
               ROUND(CUME_DIST() OVER w, 6) AS cd,
               first_value(o_orderkey) OVER w AS cheapest,
               CAST(RANK() OVER w AS BIGINT) AS rnk,
               CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window-fn",),
)
def q13b(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution/ranking window functions (ntile, percent_rank,
    cume_dist, first_value, rank, dense_rank) over a totally-ordered
    partition — completes the window-function surface next to q12 (row
    top-k) and q13 (frames/lag)."""
    (orders,) = load(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.first("o_orderkey").over(w).alias("cheapest"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


# --------------------------------------------- Q49 hypertable time rollup
@query(
    "q49_hypertable_rollup",
    oracle="""
        SELECT 'minute' AS resolution, date_trunc('minute', ts)
                   AS bucket_start,
               SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0
                   AS sum_value,
               COUNT(*) AS cnt
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'hour', date_trunc('hour', ts),
               SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0,
               COUNT(*)
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'day', date_trunc('day', ts),
               SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0,
               COUNT(*)
        FROM events GROUP BY 2
    """,
    tags=("agg", "rollup", "timeseries"),
)
def q49(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable rollup: minute/hour/day sums where hour aggregates the
    minute partials and day the hour partials — ONE raw scan for all
    resolutions (the oracle spells out three scans; quantized BIGINT
    partials make the hierarchy exactly associative, so results match
    bit-for-bit). See operators/rollup_time.py for the 100 TB notes."""
    from ..operators.rollup_time import time_rollup

    (events,) = load(spark, sf, "events")
    return time_rollup(events, "ts", "value")


# ------------------------------------------ Q50 mergeable sketch rollup
@query("q50_sketch_rollup", oracle=None, tags=("agg", "sketch", "approx"))
def q50(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-sketch rollup (Apache DataSketches HLL): one sketch of
    user_id per day, then the MONTHLY distinct estimate from hll_union of
    the daily sketches — never re-touching raw data. This is THE 100 TB
    distinct-count pattern: fixed-size (KB) sketches materialize per
    partition/day and any coarser rollup (week, month, all-time) is a
    sketch union, not a re-scan. Rows-only check; estimate-vs-exact
    tolerance asserted in tests."""
    (events,) = load(spark, sf, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return daily.groupBy(F.date_trunc("month", "day").alias("month")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count(F.lit(1)).alias("n_days"),
    )


# ----------------------------------------- Q75 latest record per key
@query(
    "q75_latest_per_key",
    oracle="""
        SELECT event_id, user_id, ts, event_type,
               ROUND(value, 6) AS value_r
        FROM (
          SELECT event_id, user_id, ts, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        WHERE rn = 1
        ORDER BY user_id
    """,
    tags=("window", "cdc"),
)
def q75(spark: SparkSession, sf: str) -> DataFrame:
    """Latest-record-per-key compaction (the CDC/SCD 'current state' op):
    keep each user's most recent event row whole, newest-first rank with
    a unique tiebreak. rn=1 plans WindowGroupLimit — each task keeps one
    row per key before the shuffle, so compaction cost tracks keys, not
    history length. Round the double payload on both sides per the repo's
    determinism rules."""
    (events,) = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.select(
            "event_id", "user_id", "ts", "event_type",
            F.round("value", 6).alias("value_r"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


# ------------------------------------------------- Q76 value histogram
@query(
    "q76_histogram",
    oracle="""
        WITH mm AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax
                    FROM events)
        SELECT LEAST(19, CAST(FLOOR((value - vmin)
                                    / ((vmax - vmin) / 20.0)) AS BIGINT))
                   AS bin,
               COUNT(*) AS cnt
        FROM events, mm
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("agg", "histogram"),
)
def q76(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width 20-bin histogram of the event value distribution —
    two scan passes (scalar min/max broadcast back, then a map-side-
    combined count per bin; 20 groups shuffle kilobytes at any scale).
    Bin arithmetic is pure IEEE on exact MIN/MAX doubles — identical
    across engines with no rounding step needed."""
    (events,) = load(spark, sf, "events")
    mm = events.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(20.0)
    bin_ = F.least(
        F.lit(19).cast("long"),
        F.floor((F.col("value") - F.col("vmin")) / width).cast("long"),
    )
    return (
        events.crossJoin(F.broadcast(mm))
        .groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bin")
    )


# --------------------------------------- Q89 trailing range-frame window
@query(
    "q89_trailing_window",
    oracle="""
        SELECT event_id, user_id,
               SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) OVER w
                   / 10000.0 AS trailing_sum,
               CAST(COUNT(*) OVER w AS BIGINT) AS trailing_cnt
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    tags=("window-fn", "range-frame"),
)
def q89(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 1-hour per-user aggregate via a RANGE window frame (value
    range on microsecond epoch, not row count) — the time-decayed feature
    shape (rolling rates, recent-activity scores) that rows-frames (q13)
    cannot express when events are irregularly spaced. Framing on
    `unix_micros` keeps the bound arithmetic integer-exact on both
    engines; equal-timestamp peers fall in the frame together under the
    same RANGE rule. The summed value is quantized to int64 1e-4 quanta
    per ROW before the window SUM (standard idiom, cf. q44/q81b): DuckDB
    evaluates moving SUMs with a segment tree and Spark with per-frame
    accumulation, so a double sum associates differently and ulp drift
    could flip a rounding boundary — integer quanta make the
    frame sum order-free. One hashpartitioning(user_id) exchange +
    per-key sort, evaluated streamingly per frame — no quadratic re-scan;
    at 100 TB the same skew caveat as all keyed windows applies (salt or
    split hot users upstream)."""
    (events,) = load(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    quantum = F.floor(F.col("value") * 1e4 + 0.5).cast("long")
    return events.select(
        "event_id",
        "user_id",
        (F.sum(quantum).over(w) / 10000.0).alias("trailing_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_cnt"),
    )


# ------------------------------------------------- Q93 event funnel
@query(
    "q93_event_funnel",
    oracle="""
        WITH u AS (
          SELECT user_id,
                 list(epoch_us(ts)) FILTER (WHERE event_type = 'view')
                     AS vs,
                 list(epoch_us(ts)) FILTER (WHERE event_type = 'click')
                     AS cs,
                 list(epoch_us(ts)) FILTER (WHERE event_type = 'purchase')
                     AS ps
          FROM events GROUP BY user_id
        ),
        f AS (
          SELECT user_id, f1,
                 list_min(list_filter(cs, x -> x > f1)) AS f2, ps
          FROM (SELECT user_id, list_min(vs) AS f1, cs, ps FROM u)
        ),
        g AS (
          SELECT user_id, f1, f2,
                 list_min(list_filter(ps, x -> x > f2)) AS f3
          FROM f
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(COUNT(f1) AS BIGINT) AS n_viewed,
               CAST(COUNT(f2) AS BIGINT) AS n_clicked_after,
               CAST(COUNT(f3) AS BIGINT) AS n_purchased_after,
               ROUND(COUNT(f3) * 1.0 / COUNT(f1), 6) AS view_to_purchase
        FROM g
    """,
    tags=("agg", "funnel", "behavioral"),
)
def q93(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-funnel analysis: users whose earliest view is followed by a
    click, then that click by a purchase (strict event-time ordering, not
    mere co-occurrence — the conversion metric co-occurrence counts get
    wrong). ONE shuffle: per-user event-type timestamp lists collected in
    a single groupBy, then the min-chain f1 = min(views),
    f2 = min(clicks > f1), f3 = min(purchases > f2) runs as pure array
    expressions whose NULL propagation (no view -> f1 NULL -> comparison
    NULL -> empty filter -> NULL min) encodes the funnel drop-out without
    a single join; min() is order-free, so no sort is needed anywhere.
    Timestamps compare as exact microsecond integers on both engines. At
    100 TB: per-user lists are session-sized; the skew caveat of any
    per-user collect applies (cap list length upstream for adversarial
    users)."""
    from ..operators import funnel as funnel_ops

    (events,) = load(spark, sf, "events")
    g = funnel_ops.ordered_funnel(events, ["view", "click", "purchase"])
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count("f1").cast("long").alias("n_viewed"),
        F.count("f2").cast("long").alias("n_clicked_after"),
        F.count("f3").cast("long").alias("n_purchased_after"),
        F.round(
            F.count("f3") * F.lit(1.0) / F.count("f1"), 6
        ).alias("view_to_purchase"),
    )


# ---------------------------------------------- Q98 full outer join
@query(
    "q98_full_outer_daily",
    oracle="""
        WITH c AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n_clicks
          FROM events WHERE event_type = 'click' GROUP BY 1
        ),
        p AS (
          SELECT CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n_purchases
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        )
        SELECT COALESCE(c.day, p.day) AS day,
               COALESCE(c.n_clicks, 0) AS n_clicks,
               COALESCE(p.n_purchases, 0) AS n_purchases
        FROM c FULL OUTER JOIN p ON c.day = p.day
        ORDER BY day
    """,
    tags=("join", "outer"),
)
def q98(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER join — the join flavor the inventory lacked: daily click
    totals against daily purchase totals, preserving days where only one
    side has activity (exactly what an inner join silently drops from an
    activity report). Both inputs are already-aggregated day rows, so the
    full-outer shuffle moves day-cardinality rows regardless of event
    volume; type-filters push to the scans."""
    (events,) = load(spark, sf, "events")
    day = F.to_date("ts").alias("day")
    c = (
        events.filter(F.col("event_type") == "click")
        .groupBy(day)
        .agg(F.count(F.lit(1)).cast("long").alias("n_clicks"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
    )
    return (
        c.join(p, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_clicks", F.lit(0).cast("long")).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0).cast("long")).alias(
                "n_purchases"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------- Q99 explicit grouping sets
@query(
    "q99_grouping_sets",
    oracle="""
        SELECT lang, source,
               CAST(GROUPING(lang, source) AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
        ORDER BY gid, lang, source
    """,
    tags=("agg", "grouping-sets"),
)
def q99(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id — the hand-picked subtotal
    combinations ROLLUP (q16) and CUBE (q16b) cannot express (here: both
    marginals plus the grand total, without the (source, lang) hierarchy
    ROLLUP would impose). Spark lowers all grouping-set variants to ONE
    Expand + one aggregate — a single scan however many sets are listed —
    and both engines define grouping_id with the first column as the most
    significant bit, so the subtotal labels hash-match exactly."""
    (docs,) = load(spark, sf, "documents")
    return (
        docs.groupingSets(
            [["lang", "source"], ["lang"], ["source"], []], "lang", "source"
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select("lang", "source", "gid", "n_docs", "total_chars")
        .orderBy("gid", "lang", "source")
    )


# ------------------------------------ Q101 event-type transition matrix
@query(
    "q101_transition_matrix",
    oracle="""
        WITH s AS (
          SELECT event_type AS curr,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events
        )
        SELECT prev, curr,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               ROUND(COUNT(*) * 1.0
                     / SUM(COUNT(*)) OVER (PARTITION BY prev), 6) AS p
        FROM s WHERE prev IS NOT NULL
        GROUP BY prev, curr
        ORDER BY prev, curr
    """,
    tags=("window-fn", "behavioral"),
)
def q101(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix of event types: per-user
    event-time ordering (lag), then global (prev, curr) counts and
    row-normalized transition probabilities — the behavioral-model
    fingerprint that funnel analysis (q93) summarizes one path of. One
    user_id shuffle for the lag; the matrix itself is |types|² cells, so
    the normalizing window runs over a kilobyte-scale aggregate at any
    input size. Probabilities are exact int/int divisions rounded at 6."""
    from ..operators import funnel as funnel_ops

    (events,) = load(spark, sf, "events")
    return funnel_ops.transitions(events).orderBy("prev", "curr")


# ---------------------------------- Q103 exact inter-event gap percentiles
@query(
    "q103_gap_percentiles",
    oracle="""
        WITH g AS (
          SELECT event_type,
                 (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                      PARTITION BY user_id, event_type
                      ORDER BY ts, event_id)) // 1000000 AS gap_s
          FROM events
        ),
        d AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL),
        n AS (SELECT event_type, COUNT(*) AS n_g FROM d GROUP BY event_type),
        h AS (SELECT event_type, gap_s, COUNT(*) AS c
              FROM d GROUP BY event_type, gap_s),
        cum AS (SELECT event_type, gap_s,
                       SUM(c) OVER (PARTITION BY event_type
                                    ORDER BY gap_s) AS cc
                FROM h),
        p50 AS (SELECT event_type, MIN(gap_s) AS p50_gap_s
                FROM cum JOIN n USING (event_type)
                WHERE cc * 2 >= n_g GROUP BY event_type),
        p90 AS (SELECT event_type, MIN(gap_s) AS p90_gap_s
                FROM cum JOIN n USING (event_type)
                WHERE cc * 10 >= 9 * n_g GROUP BY event_type)
        SELECT event_type, CAST(n_g AS BIGINT) AS n_gaps,
               p50_gap_s, p90_gap_s
        FROM n JOIN p50 USING (event_type) JOIN p90 USING (event_type)
        ORDER BY event_type
    """,
    tags=("window-fn", "statistics", "slow"),
)
def q103(spark: SparkSession, sf: str) -> DataFrame:
    """Exact p50/p90 of per-user inter-event gaps (second resolution) per
    event type — the arrival-cadence profile behind session-gap and
    watermark tuning (q55's 30-min gap and the streaming watermarks are
    exactly the knobs these percentiles justify). Same scale-safe
    histogram-percentile pattern as q88: gaps bucket to integer seconds,
    the cumulative window runs over the (type, gap) HISTOGRAM — bounded
    by the gap range, not the event count — and the threshold tests are
    all-integer (cc*2 >= n, cc*10 >= 9n). Two hash exchanges total: the
    per-(user,type) lag window and the histogram aggregate."""
    (events,) = load(spark, sf, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = events.select(
        "event_type",
        F.floor((us - F.lag(us).over(w)) / F.lit(1_000_000)).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        histogram_percentiles(
            g,
            ["event_type"],
            "gap_s",
            {"p50_gap_s": (1, 2), "p90_gap_s": (9, 10)},
            n_alias="n_g",
        )
        .select(
            "event_type",
            F.col("n_g").cast("long").alias("n_gaps"),
            "p50_gap_s",
            "p90_gap_s",
        )
        .orderBy("event_type")
    )


# ------------------------------------------- Q107 cohort retention matrix
@query(
    "q107_cohort_retention",
    oracle="""
        WITH f AS (
          SELECT user_id,
                 MIN(date_trunc('week', ts)) AS cohort_week
          FROM events GROUP BY user_id
        ),
        act AS (
          SELECT DISTINCT e.user_id, f.cohort_week,
                 date_diff('week', f.cohort_week,
                           date_trunc('week', e.ts)) AS week_offset
          FROM events e JOIN f USING (user_id)
        ),
        coh AS (SELECT cohort_week, COUNT(*) AS cohort_size
                FROM f GROUP BY cohort_week)
        SELECT a.cohort_week, a.week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(any_value(c.cohort_size) AS BIGINT) AS cohort_size,
               ROUND(COUNT(*) * 1.0 / any_value(c.cohort_size), 6)
                   AS retention
        FROM act a JOIN coh c USING (cohort_week)
        GROUP BY a.cohort_week, a.week_offset
    """,
    tags=("agg", "behavioral", "cohort"),
    bench=True,
)
def q107(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-activity
    week, then for every later week the fraction of the cohort still
    active — the canonical triangle chart behind every retention
    dashboard. Two aggregations and one join, all on user_id or the tiny
    (cohort, offset) matrix: first-week per user (one shuffle), distinct
    (user, offset) activity (reuses the same user_id clustering), then a
    broadcast of the per-cohort sizes. Week arithmetic is exact integer
    date math on both engines; retention is one exact int/int division."""
    from ..plans import materialize_once

    (events,) = load(spark, sf, "events")
    wk = F.date_trunc("week", F.col("ts"))
    # ``f`` feeds two consumers (the activity
    # join and the cohort-size rollup) — without a lineage cut each
    # replays the full events scan + per-user aggregation. The
    # user-dimension-sized aggregate is checkpointed once instead:
    # events is scanned once for f and once for the activity join.
    f = materialize_once(
        events.groupBy("user_id").agg(F.min(wk).alias("cohort_week")),
        eager=False,
    )
    act = (
        events.join(f, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(wk, F.col("cohort_week")) / F.lit(7)
            ).cast("long").alias("week_offset"),
        )
        .distinct()
    )
    coh = f.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .join(F.broadcast(coh), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round(
                F.col("n_active") * F.lit(1.0) / F.col("cohort_size"), 6
            ).alias("retention"),
        )
        # No presentation sort: the range-partitioner's sampling job would
        # re-execute both aggregations; the driver compare is
        # order-insensitive and the matrix is kilobyte-scale anyway.
    )


# --------------------------------------- Q108 within-session funnel
@query(
    "q108_session_funnel",
    oracle="""
        WITH g AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
          SELECT user_id, event_type, epoch_us(ts) AS us,
                 CAST(SUM(new_s) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS session_seq
          FROM g
        ),
        u AS (
          SELECT user_id, session_seq,
                 list(us) FILTER (WHERE event_type = 'view') AS vs,
                 list(us) FILTER (WHERE event_type = 'click') AS cs,
                 list(us) FILTER (WHERE event_type = 'purchase') AS ps
          FROM s GROUP BY user_id, session_seq
        ),
        f AS (
          SELECT user_id, f1,
                 list_min(list_filter(cs, x -> x > f1)) AS f2, ps
          FROM (SELECT user_id, list_min(vs) AS f1, cs, ps FROM u)
        ),
        h AS (
          SELECT user_id, f1, f2,
                 list_min(list_filter(ps, x -> x > f2)) AS f3
          FROM f
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(COUNT(f1) AS BIGINT) AS n_viewed,
               CAST(COUNT(f2) AS BIGINT) AS n_clicked_after,
               CAST(COUNT(f3) AS BIGINT) AS n_purchased_after
        FROM h
    """,
    tags=("window", "sessionize", "funnel", "behavioral"),
)
def q108(spark: SparkSession, sf: str) -> DataFrame:
    """Within-SESSION funnel: q93's strict view→click→purchase ordering
    evaluated inside q55's 30-minute gap sessions instead of across a
    user's whole history — the attribution-correct variant (a purchase
    in tomorrow's session no longer credits today's click). Pure operator
    composition: operators/funnel.py:with_sessions assigns session ids,
    then ordered_funnel runs with the composite (user_id, session_seq)
    key — and because both cluster on user_id, the session window, the
    funnel groupBy, and the final rollup share ONE shuffle lineage."""
    from ..operators import funnel as funnel_ops

    (events,) = load(spark, sf, "events")
    sessions = funnel_ops.with_sessions(events, gap_s=1800)
    g = funnel_ops.ordered_funnel(
        sessions, ["view", "click", "purchase"],
        key=["user_id", "session_seq"],
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.count("f1").cast("long").alias("n_viewed"),
        F.count("f2").cast("long").alias("n_clicked_after"),
        F.count("f3").cast("long").alias("n_purchased_after"),
    )


# ----------------------------------------------- Q109 key-skew audit (Gini)
@query(
    "q109_skew_gini",
    oracle="""
        WITH c AS (SELECT user_id, COUNT(*) AS x FROM events
                   GROUP BY user_id),
        r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS rk
              FROM c)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(x) AS BIGINT) AS n_events,
               CAST(MAX(x) AS BIGINT) AS max_per_key,
               ROUND(2.0 * SUM(rk * x) / (COUNT(*) * SUM(x))
                     - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
        FROM r
    """,
    tags=("skew", "agg", "statistics"),
)
def q109(spark: SparkSession, sf: str) -> DataFrame:
    """Key-skew audit: exact Gini coefficient of the events-per-user
    distribution (0 = perfectly even, →1 = one hot key owns the stream) —
    the measured answer to "do we need q54's salting here?", computed
    BEFORE a job burns hours discovering the hot key the hard way.

    Scale shape: the rank-sum Σ rk·x is invariant to tie order, so a
    block of m keys sharing count x and starting at rank r0 contributes
    the closed form x·(m·r0 + m(m+1)/2) — which means the statistic
    computes from the COUNT HISTOGRAM (one row per distinct per-key
    count, bounded by the hottest key's count), never from a global rank
    window over every key (the single-partition trap a billion-key table
    would hit; the SQL oracle uses the naive ROW_NUMBER formulation,
    which is exactly the point — both formulations are integer-identical,
    only one survives scale). Everything is exact integer arithmetic
    until the single final division."""
    (events,) = load(spark, sf, "events")
    c = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    h = c.groupBy("x").agg(F.count(F.lit(1)).alias("m"))
    # cumulative keys BEFORE each histogram block = the block's r0 - 1;
    # the window runs over the histogram (<= max-per-key rows), not keys
    prev = F.coalesce(
        F.sum("m").over(
            Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    # Every factor is cast to DECIMAL(38,0) BEFORE any multiply: at a
    # billion keys the int64 products m*prev and m*(m+1) wrap silently in
    # non-ANSI Spark, so casting the finished product would preserve the
    # garbage. The triangular term halves the even factor first (one of
    # m, m+1 always is) to stay integer-exact in decimal without a
    # fractional scale. Decimal mirrors the oracle's HUGEINT to 1e38;
    # only the final formula combines in double.
    md = F.col("m").cast("decimal(38,0)")
    prevd = prev.cast("decimal(38,0)")
    tri = F.when(
        F.col("m") % 2 == 0,
        F.expr("m DIV 2").cast("decimal(38,0)") * (md + F.lit(1)),
    ).otherwise(md * F.expr("(m + 1) DIV 2").cast("decimal(38,0)"))
    contrib = F.col("x").cast("decimal(38,0)") * (md * prevd + tri)
    r = h.select("x", "m", contrib.alias("s"))
    n = F.sum("m").cast("double")
    total = F.sum(F.col("x") * F.col("m")).cast("double")
    return r.agg(
        F.sum("m").cast("long").alias("n_keys"),
        F.sum(F.col("x") * F.col("m")).cast("long").alias("n_events"),
        F.max("x").cast("long").alias("max_per_key"),
        F.round(
            F.lit(2.0) * F.sum("s").cast("double") / (n * total)
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )
