"""OLAP breadth queries: set operations, scalar-function suite, distinct
aggregation, pivot, and window-function suite — demonstrating the
general-purpose SQL surface of the engine, each with a DuckDB oracle.

All numeric determinism rules from queries_ext apply: per-row scalar
arithmetic is IEEE-exact cross-engine; order-sensitive double
aggregations are rounded identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from parquet_sampler_spark.plans.cache import MEMO, persist
from parquet_sampler_spark.queries import row
from parquet_sampler_spark.queries import table as _t
# a top-level import, so queries_ext's rows are declared before these in
# any import order
from parquet_sampler_spark.queries_ext import _events


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

@row("set_ops", lambda: _SQL_SET_OPS)
def _q_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT demo over customer key sets: customers with
    orders vs customers in the BUILDING market segment."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    c = _t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    both = o.intersect(building).withColumn("tag", F.lit("both"))
    only_orders = (
        o.distinct().exceptAll(building).withColumn("tag", F.lit("orders_only"))
    )
    return both.unionByName(only_orders)


_SQL_SET_OPS = """
SELECT custkey, 'both' AS tag FROM (
  SELECT o_custkey AS custkey FROM orders
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
UNION ALL
SELECT custkey, 'orders_only' AS tag FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders
  EXCEPT ALL
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
"""


# ---------------------------------------------------------------------------
# Scalar function suite (string / date / math)
# ---------------------------------------------------------------------------

@row("scalar_suite", lambda: _SQL_SCALAR_SUITE)
def _q_scalar_suite(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio3"),
        F.length("o_orderstatus").alias("status_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("tag"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.round(F.sqrt(F.abs(F.col("o_totalprice"))), 6).alias("sqrt_price"),
        F.round(F.col("o_totalprice") % 97.0, 6).alias("mod_price"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("key_mod"),
    )


_SQL_SCALAR_SUITE = """
SELECT o_orderkey,
       upper(substr(o_orderpriority, 1, 3)) AS prio3,
       CAST(length(o_orderstatus) AS INT) AS status_len,
       concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       CAST(day(o_orderdate) AS INT) AS dom,
       round(sqrt(abs(o_totalprice)), 6) AS sqrt_price,
       round(fmod(o_totalprice, 97.0), 6) AS mod_price,
       o_orderkey % 7 AS key_mod
FROM orders
"""


# ---------------------------------------------------------------------------
# Distinct aggregation
# ---------------------------------------------------------------------------

@row("distinct_agg", lambda: _SQL_DISTINCT_AGG)
def _q_distinct_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey", "l_suppkey").alias("n_part_supp"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_SQL_DISTINCT_AGG = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Pivot (conditional aggregation — portable formulation)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@row("pivot_events", lambda: _SQL_PIVOT_EVENTS)
def _q_pivot_events(spark, sf_dir):
    """Daily event-type count matrix via pivot. The oracle uses
    equivalent conditional aggregation (FILTER), which is what pivot
    compiles to anyway."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )


_SQL_PIVOT_EVENTS = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Window-function suite
# ---------------------------------------------------------------------------

@row("window_suite", lambda: _SQL_WINDOW_SUITE)
def _q_window_suite(spark, sf_dir):
    """rank / dense_rank / lag / ntile / running sum over customer
    account balances per market segment. acctbal is two-decimal money:
    running sums stay exact in doubles at these magnitudes, but are
    rounded anyway to stay safe cross-engine."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("c_custkey", 1).over(w).alias("prev_cust"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.sum("c_acctbal").over(wrun), 4).alias("running_bal"),
    )


_SQL_WINDOW_SUITE = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       lag(c_custkey, 1) OVER w AS prev_cust,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(sum(c_acctbal) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW), 4) AS running_bal
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey)
"""


# ---------------------------------------------------------------------------
# TPC-H-style queries adapted to the testdata schema
# ---------------------------------------------------------------------------

@row("tpch_q6", lambda: _SQL_TPCH_Q6,
     # predicate pushdown reaches the parquet reader
     plan=("PushedFilters: [",))
def _q_tpch_q6(spark, sf_dir):
    """Q6 forecasting-revenue-change: tight filter + single aggregate.
    The predicates push down into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # exact fixed-point: price cents × discount percent are
            # integers, so the sum is order-independent across engines
            # (round-after-double-sum can straddle a rounding boundary)
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("bigint")
                    * F.round(F.col("l_discount") * 100).cast("bigint")
                ) / 10000.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_SQL_TPCH_Q6 = """
SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
           CAST(round(l_discount * 100) AS BIGINT)) / 10000.0 AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


@row("tpch_q3", lambda: _SQL_TPCH_Q3)
def _q_tpch_q3(spark, sf_dir):
    """Q3 shipping-priority: 3-way join, revenue per order, top 10 with
    a deterministic (revenue, orderkey) ordering. orders/customer scale
    with the fact table — no broadcast hints on them; AQE picks
    broadcast at small sf from runtime sizes and shuffle joins at
    100 TB (hinting them would force the build side through the
    driver)."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev_e4) / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


_SQL_TPCH_Q3 = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
           (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@row("tpch_q5", lambda: _SQL_TPCH_Q5)
def _q_tpch_q5(spark, sf_dir):
    """Q5 local-supplier-volume (adapted: no suppkey filter — join the
    full region→nation→customer→orders→lineitem chain)."""
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg((F.sum(rev_e4) / 10000.0).alias("revenue"))
    )


_SQL_TPCH_Q5 = """
SELECT r_name, n_name,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
           (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

# ---------------------------------------------------------------------------
# SQL API surface: correlated subquery via spark.sql over temp views
# ---------------------------------------------------------------------------

_SQL_API_QUERY = """
SELECT o_orderkey, o_totalprice
FROM orders o
WHERE (SELECT count(*) FROM lineitem l
       WHERE l.l_orderkey = o.o_orderkey) >= 5
"""


@row("sql_correlated_subquery", lambda: _SQL_API_QUERY)
def _q_sql_api(spark, sf_dir):
    """The same engine surface through pure SQL: temp views + a
    correlated scalar subquery (Catalyst decorrelates it into an
    aggregate + join). Demonstrates that every DataFrame operator here
    is equally reachable via spark.sql."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SQL_API_QUERY)

@row("tpch_q10", lambda: _SQL_TPCH_Q10)
def _q_tpch_q10(spark, sf_dir):
    """Q10 returned-item reporting: 4-way join, quarter filter,
    top-20 customers by revenue (deterministic tie-break)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(rev_e4) / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
           (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@row("tpch_q18", lambda: _SQL_TPCH_Q18)
def _q_tpch_q18(spark, sf_dir):
    """Q18 large-volume customers: HAVING subquery (semi-join on an
    aggregate) + join + re-aggregate. Quantities are integral doubles —
    sums are exact, no rounding needed for the HAVING boundary."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 250)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # `big` is a pre-reduced key set (a data-dependent aggregate, not a
    # raw table) — the one side it is sane to hint; orders/customer are
    # left to AQE.
    return (
        li.join(F.broadcast(big), "l_orderkey")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))  # integral: exact
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


_SQL_TPCH_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       sum(l_quantity) AS sum_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""

@row("percentiles", lambda: _SQL_PERCENTILES)
def _q_percentiles(spark, sf_dir):
    """Exact linear-interpolation percentiles per priority class —
    Spark `percentile` and DuckDB `quantile_cont` agree bit-for-bit
    (verified: identical interpolation on sorted doubles)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


_SQL_PERCENTILES = """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       min(o_totalprice) AS lo,
       max(o_totalprice) AS hi
FROM orders GROUP BY o_orderpriority
"""

@row("json_extract", lambda: _SQL_JSON_EXTRACT)
def _q_json_extract(spark, sf_dir):
    """Semi-structured access: extract a JSON field from the events
    props column, bucket it, aggregate — the JSON-functions surface."""
    e = _events(spark, sf_dir)
    # guard with an integral-pattern match before casting: engines
    # disagree on non-integral strings (Spark try_cast -> NULL, DuckDB
    # TRY_CAST rounds "87.5" to 88) — restricting both sides to
    # ^-?[0-9]+$ makes the cast identical everywhere.
    # from_json with an explicit schema, not get_json_object: the
    # per-call path evaluator costs ~0.1 ms/row here (measured ~10 s for
    # 100k rows vs ~0.2 s schema'd), and a schema'd single-pass parse is
    # the right 100 TB plan anyway — one Jackson pass per row, reusable
    # for any number of extracted fields. A scalar JSON number parses to
    # its literal string ("9"), so the integral guard below behaves
    # identically to the string-extraction oracle.
    ks = F.from_json("props", "k string")["k"]
    k = F.when(ks.rlike("^-?[0-9]+$"), ks.try_cast("bigint"))
    return (
        e.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
        )
    )


# integral-pattern guard + TRY_CAST, mirroring the Spark twin exactly —
# without the guard the engines disagree on non-integral strings (Spark
# NULLs them, DuckDB rounds "87.5" to 88).
_SQL_JSON_EXTRACT = """
SELECT event_type, k % 10 AS k_bucket, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM (
  SELECT event_type,
         CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                  '^-?[0-9]+$')
              THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
         END AS k
  FROM events
) WHERE k IS NOT NULL
GROUP BY 1, 2
"""


@row("array_stats", lambda: _SQL_ARRAY_STATS)
def _q_array_stats(spark, sf_dir):
    """Array-function surface over embeddings: per-vector min / max /
    mean / dim. Mean uses an explicit left-to-right sum over double
    casts — the same op order as the DuckDB list_reduce twin, so no
    rounding is needed."""
    e = _t(spark, sf_dir, "embeddings")
    total = F.aggregate(
        F.col("embedding"), F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
    return e.select(
        "vec_id",
        F.array_min("embedding").alias("v_min"),
        F.array_max("embedding").alias("v_max"),
        (total / F.size("embedding")).alias("v_mean"),
        F.size("embedding").alias("dim"),
    )


_SQL_ARRAY_STATS = """
SELECT vec_id,
       list_min(embedding) AS v_min,
       list_max(embedding) AS v_max,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(embedding, x -> CAST(x AS DOUBLE))),
                   (a, b) -> a + b) / len(embedding) AS v_mean,
       CAST(len(embedding) AS INT) AS dim
FROM embeddings
"""

@row("tpch_q4", lambda: _SQL_TPCH_Q4)
def _q_tpch_q4(spark, sf_dir):
    """Q4 order-priority checking (adapted: no commit/receipt dates in
    this schema — "late" = any lineitem shipped > 60 days after the
    order date). Compound-condition left semi-join + aggregate.
    Integer-epoch 60-day predicate (not timestamp + INTERVAL) for
    cross-engine/version portability — same rationale as tpch_q12."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sixty_days_us = 60 * 86400 * 1000000
    cond = (o["o_orderkey"] == li["l_orderkey"]) & (
        F.timestamp_diff("MICROSECOND", o["o_orderdate"], li["l_shipdate"])
        > F.lit(sixty_days_us)
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_SQL_TPCH_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND epoch_us(l.l_shipdate) -
                    epoch_us(o.o_orderdate) > 5184000000000)
GROUP BY o_orderpriority
"""

@row("grouped_udaf_quantiles", lambda: _SQL_GROUPED_UDAF)
def _q_grouped_udaf(spark, sf_dir):
    """Grouped-map UDAF (applyInPandas): per-segment account-balance
    quantiles. numpy's linear interpolation is the same formula as
    DuckDB quantile_cont — the pandas path is value-exact, so even the
    UDAF machinery is oracle-checked."""
    from parquet_sampler_spark.functions.grouped import group_quantiles

    c = _t(spark, sf_dir, "customer")
    return group_quantiles(
        c, ["c_mktsegment"], "c_acctbal", probs=(0.25, 0.5, 0.75)
    )


_SQL_GROUPED_UDAF = """
SELECT c_mktsegment,
       quantile_cont(c_acctbal, 0.25) AS q_25,
       quantile_cont(c_acctbal, 0.5) AS q_50,
       quantile_cont(c_acctbal, 0.75) AS q_75,
       count(*) AS n
FROM customer GROUP BY c_mktsegment
"""

@row("approx_distinct", lambda: _SQL_APPROX_DISTINCT)
def _q_approx_distinct(spark, sf_dir):
    """HLL++ approximate distinct counts checked against the exact
    answer — the one-pass mergeable-sketch pattern that replaces
    countDistinct at 100 TB (re-aggregatable across partitions/rollups;
    countDistinct is not).

    Oracle-checkable by VALUE: the raw estimate is engine-specific, so
    the output carries the exact counts plus per-group booleans
    ``|est − exact| / exact < 0.05`` (2.5× the rsd=0.02 the sketch is
    configured for); the DuckDB oracle asserts the booleans TRUE. Spark's
    HLL++ is hash-deterministic, so a drift past the bound is a real
    regression, not flakiness. The tighter error-bound curve and the
    sketch merge property stay pinned in tests/test_sketches.py."""
    li = _t(spark, sf_dir, "lineitem")
    eps = 0.05
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("__ao"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_partkey", 0.02).alias("__ap"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        (
            F.abs(F.col("__ao") - F.col("exact_orders"))
            / F.col("exact_orders")
            < eps
        ).alias("orders_within_bound"),
        (
            F.abs(F.col("__ap") - F.col("exact_parts"))
            / F.col("exact_parts")
            < eps
        ).alias("parts_within_bound"),
    )


_SQL_APPROX_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       count(DISTINCT l_partkey) AS exact_parts,
       TRUE AS orders_within_bound,
       TRUE AS parts_within_bound
FROM lineitem GROUP BY l_returnflag
"""


@row("approx_quantiles", lambda: _SQL_APPROX_QUANTILES)
def _q_approx_quantiles(spark, sf_dir):
    """Mergeable quantile sketch (``percentile_approx``, Greenwald-
    Khanna) checked against the exact answer — the sketch that replaces
    exact per-group sorts for quantiles at 100 TB: partial sketches
    merge associatively across partitions/rollups, so the plan is one
    pass + a tiny merge, where exact ``percentile`` must hold each
    group's values.

    Same oracle pattern as ``approx_distinct``: the raw sketch output
    is engine-specific, so the query emits the EXACT interpolated
    percentiles (bit-identical to DuckDB ``quantile_cont``) plus
    booleans pinning the sketch value inside the exact [p−0.02, p+0.02]
    rank envelope; the oracle asserts TRUE. accuracy=10000 → rank error
    ≤ n/10000, far inside the envelope; GK is deterministic for a given
    partition layout of the driver testdata, and the boolean only moves
    if the estimate leaves the envelope — a real regression."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("exact_p90"),
        F.expr("percentile(l_extendedprice, 0.48)").alias("__lo50"),
        F.expr("percentile(l_extendedprice, 0.52)").alias("__hi50"),
        F.expr("percentile(l_extendedprice, 0.88)").alias("__lo90"),
        F.expr("percentile(l_extendedprice, 0.92)").alias("__hi90"),
        F.expr(
            "percentile_approx(l_extendedprice, 0.5, 10000)"
        ).alias("__a50"),
        F.expr(
            "percentile_approx(l_extendedprice, 0.9, 10000)"
        ).alias("__a90"),
    )
    return agg.select(
        "l_returnflag", "exact_p50", "exact_p90",
        F.col("__a50").between(F.col("__lo50"), F.col("__hi50"))
        .alias("p50_within_bound"),
        F.col("__a90").between(F.col("__lo90"), F.col("__hi90"))
        .alias("p90_within_bound"),
    )


_SQL_APPROX_QUANTILES = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS exact_p50,
       quantile_cont(l_extendedprice, 0.9) AS exact_p90,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound
FROM lineitem GROUP BY l_returnflag
"""


@row("column_stats", lambda: _SQL_COLUMN_STATS)
def _q_column_stats(spark, sf_dir):
    """ANALYZE-style one-pass table profile: per-column row/null/ndv
    counts and min/max for lineitem, unpivoted to one row per column.
    The stats feed a cost-based optimizer or a data-quality gate; at
    100 TB the whole profile is ONE scan + one tiny aggregate per
    column (all partial-aggregatable map-side), never a per-column
    pass. min/max are emitted as exact doubles (no sums — engine-
    portable); ndv is exact count(DISTINCT) here, the HLL variant is
    ``approx_distinct``."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__null_{c}"),
            F.countDistinct(c).alias(f"__ndv_{c}"),
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
        ]
    one = li.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col("__n").alias("n_rows"),
                    F.col(f"__null_{c}").alias("n_null"),
                    F.col(f"__ndv_{c}").alias("ndv"),
                    F.col(f"__min_{c}").alias("min_val"),
                    F.col(f"__max_{c}").alias("max_val"),
                )
                for c in cols
            ])
        ).alias("s")
    )
    return stacked.select("s.*")


_SQL_COLUMN_STATS = """
SELECT * FROM (
  SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
         count(*) - count(l_quantity) AS n_null,
         count(DISTINCT l_quantity) AS ndv,
         min(l_quantity) AS min_val, max(l_quantity) AS max_val
  FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
         count(DISTINCT l_extendedprice),
         min(l_extendedprice), max(l_extendedprice)
  FROM lineitem
  UNION ALL
  SELECT 'l_discount', count(*), count(*) - count(l_discount),
         count(DISTINCT l_discount), min(l_discount), max(l_discount)
  FROM lineitem
  UNION ALL
  SELECT 'l_tax', count(*), count(*) - count(l_tax),
         count(DISTINCT l_tax), min(l_tax), max(l_tax)
  FROM lineitem
)
"""


def _merge_batch(spark, sf_dir):
    """The deterministic synthetic CDC batch: every 100th customer
    re-priced, every 250th deleted, 3 inserts. Shared by merge_upsert
    and cdc_time_travel."""
    c = _t(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_custkey") % 100 == 0).select(
        "c_custkey", "c_name", "c_nationkey",
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
        "c_mktsegment",
        (F.col("c_custkey") % 250 == 0).alias("is_deleted"),
    )
    inserts = spark.createDataFrame(
        [(10_000_001 + i, f"NewCustomer#{i}", 0, 0.0, "BUILDING", False)
         for i in range(3)],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string, is_deleted boolean",
    )
    return updates.unionByName(inserts)


@row("merge_upsert", lambda: _SQL_MERGE_UPSERT)
def _q_merge_upsert(spark, sf_dir):
    """CDC MERGE emulation: apply a deterministic synthetic update batch
    (every 100th customer re-priced, every 250th deleted, 3 inserts) to
    the customer snapshot."""
    from parquet_sampler_spark.operators.merge import merge_upsert

    # the merge feeds both this query and diff_snapshots: persist one
    # copy per (session, sf_dir), so diff_snapshots benches the diff,
    # not the merge twice
    key = ("merge", spark.sparkContext.applicationId, sf_dir)
    if key in MEMO:
        return MEMO[key]

    c = _t(spark, sf_dir, "customer")
    batch = _merge_batch(spark, sf_dir)
    merged = persist(merge_upsert(
        c.select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"),
        batch, ["c_custkey"], delete_col="is_deleted",
    ))
    MEMO[key] = merged
    return merged


_SQL_MERGE_UPSERT = """
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
         c_mktsegment, (c_custkey % 250 = 0) AS is_deleted
  FROM customer WHERE c_custkey % 100 = 0
  UNION ALL
  SELECT * FROM (VALUES
    (10000001, 'NewCustomer#0', 0, 0.0, 'BUILDING', false),
    (10000002, 'NewCustomer#1', 0, 0.0, 'BUILDING', false),
    (10000003, 'NewCustomer#2', 0, 0.0, 'BUILDING', false))
    v(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, is_deleted)
)
SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM updates WHERE NOT is_deleted
"""

@row("tpch_q14", lambda: _SQL_TPCH_Q14)
def _q_tpch_q14(spark, sf_dir):
    """Q14 promo-effect: one-month lineitem slice joined to part, share
    of revenue from PROMO-type parts. Conditional aggregation + exact
    cents sums; the share division is the identical double op in both
    engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01")
        & (F.col("l_shipdate") < "1997-10-01")
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    promo_e4 = F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(
        F.lit(0).cast("bigint")
    )
    agg = li.join(p, li["l_partkey"] == p["p_partkey"]).agg(
        F.sum(promo_e4).alias("__p"), F.sum(rev_e4).alias("__t"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return agg.select(
        (F.col("__p") / 10000.0).alias("promo_revenue"),
        (F.col("__t") / 10000.0).alias("total_revenue"),
        ((F.lit(100.0) * F.col("__p").cast("double"))
         / F.col("__t").cast("double")).alias("promo_share_pct"),
        "n_rows",
    )


_SQL_TPCH_Q14 = """
SELECT CAST(sp AS BIGINT) / 10000.0 AS promo_revenue,
       CAST(st AS BIGINT) / 10000.0 AS total_revenue,
       (100.0 * CAST(CAST(sp AS BIGINT) AS DOUBLE))
         / CAST(CAST(st AS BIGINT) AS DOUBLE) AS promo_share_pct,
       n_rows
FROM (
  SELECT sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT) *
                       (100 - CAST(round(l_discount * 100) AS BIGINT))
                  ELSE 0 END) AS sp,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             (100 - CAST(round(l_discount * 100) AS BIGINT))) AS st,
         count(*) AS n_rows
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
    AND l_shipdate < TIMESTAMP '1997-10-01'
)
"""


@row("tpch_q19", lambda: _SQL_TPCH_Q19,
     # disjunctive-predicate query still prunes columns (the unused
     # l_shipdate is never read) + pushes the join-side IsNotNull
     # conjuncts
     plan=("PushedFilters: [", "!l_shipdate"))
def _q_tpch_q19(spark, sf_dir):
    """Q19 discounted-revenue (adapted to this schema): DISJUNCTIVE
    brand/size/quantity predicate branches — the case Catalyst handles
    with a join + OR-of-ANDs filter; the join-key conjuncts still push
    down."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#4") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            (F.sum(rev_e4) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_SQL_TPCH_Q19 = """
SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
           (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0
         AS revenue,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


@row("tpch_q11", lambda: _SQL_TPCH_Q11)
def _q_tpch_q11(spark, sf_dir):
    """Q11 important-stock (adapted): per-supplier revenue, keeping
    suppliers above a fraction of TOTAL revenue — an aggregate compared
    against a broadcast scalar aggregate (the decorrelated form of
    Q11's HAVING subquery). Exact-cents sums make the boundary compare
    engine-independent."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    per = li.groupBy("l_suppkey").agg(F.sum(rev_e4).alias("__rev_e4"))
    # threshold relative to the MEAN supplier value (1.05×) so the
    # selectivity is scale-invariant — a fixed fraction-of-total cutoff
    # admits nobody once the supplier count outgrows it
    total = per.agg(
        F.sum("__rev_e4").alias("__tot_e4"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        per.crossJoin(F.broadcast(total))
        .filter(
            F.col("__rev_e4").cast("double")
            > F.col("__tot_e4").cast("double")
            / F.col("__n").cast("double") * 1.05
        )
        .select(
            "l_suppkey",
            (F.col("__rev_e4") / 10000.0).alias("supplier_value"),
        )
    )


_SQL_TPCH_Q11 = """
WITH per AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                  (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS rev_e4
  FROM lineitem GROUP BY l_suppkey
),
tot AS (SELECT CAST(sum(rev_e4) AS BIGINT) AS tot_e4,
               count(*) AS n FROM per)
SELECT l_suppkey, rev_e4 / 10000.0 AS supplier_value
FROM per, tot
WHERE CAST(rev_e4 AS DOUBLE)
      > CAST(tot_e4 AS DOUBLE) / CAST(n AS DOUBLE) * 1.05
"""


@row("tpch_q7", lambda: _SQL_TPCH_Q7)
def _q_tpch_q7(spark, sf_dir):
    """Q7 volume shipping (adapted): revenue between (supplier nation,
    customer nation) pairs — the dual-dimension join where the fact
    table joins TWO independent nation lookups through different paths
    (lineitem→supplier→nation and lineitem→orders→customer→nation)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    # exact-decimal revenue: price has 2 decimals and discount is a
    # percent step, so price*100 and (1-disc)*100 are integers — their
    # product sums EXACTLY in any order (unlike double revenue sums,
    # which straddled the rounding boundary in 2 of 600 groups here).
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
    )
    return (
        li.join(su, li["l_suppkey"] == su["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            (F.sum(rev_e4) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_SQL_TPCH_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
           CAST(round((1 - l_discount) * 100) AS BIGINT)) / 10000.0
         AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name != n2.n_name
GROUP BY n1.n_name, n2.n_name
"""



# ---------------------------------------------------------------------------
# Round 3: TPC-H long tail (Q13/Q15/Q16/Q17/Q22), grouped top-k,
# snapshot diff
# ---------------------------------------------------------------------------

@row("ivm_rollup", lambda: _SQL_IVM_ROLLUP)
def _q_ivm_rollup(spark, sf_dir):
    """Incremental view maintenance (r08): a per-nation customer
    aggregate (count, exact-cents balance sum) maintained under the
    shared CDC batch by DELTA-MERGE — the 100 TB answer to "the
    snapshot changed, refresh the dashboard" where re-aggregating the
    base table costs a full scan per batch.

    Delta algebra for an upsert-with-delete batch: subtract the
    touched keys' OLD contribution (base semi-restricted to batch
    keys — a broadcast keyed lookup, not a scan-wide agg), add the
    batch's surviving NEW rows, and fold the per-nation delta into
    the stored aggregate with a full-outer coalesce. Work scales with
    |batch| + |view|, never |base|. Exactness: balances move as
    round(x·100) BIGINT cents end-to-end, so the update's old-cents
    term cancels the base aggregate's identically-computed term and
    the incremental result is BIT-EQUAL to recomputation — which is
    exactly what the oracle does (full GROUP BY over the merged
    snapshot), so the green row proves the delta algebra, not an
    approximation."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    batch = _merge_batch(spark, sf_dir)

    def cents(col):
        return F.round(F.col(col) * 100).cast("bigint")

    base_agg = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(cents("c_acctbal")).alias("__s"),
    )
    old_contrib = (
        c.join(F.broadcast(batch.select("c_custkey")), "c_custkey")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("__dn_old"),
            F.sum(cents("c_acctbal")).alias("__ds_old"),
        )
    )
    new_contrib = (
        batch.filter(~F.col("is_deleted"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("__dn_new"),
            F.sum(cents("c_acctbal")).alias("__ds_new"),
        )
    )
    delta = (
        new_contrib.join(old_contrib, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            (
                F.coalesce("__dn_new", F.lit(0))
                - F.coalesce("__dn_old", F.lit(0))
            ).alias("__dn"),
            (
                F.coalesce("__ds_new", F.lit(0))
                - F.coalesce("__ds_old", F.lit(0))
            ).alias("__ds"),
        )
    )
    return (
        base_agg.join(delta, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            (
                F.coalesce("__n", F.lit(0)) + F.coalesce("__dn", F.lit(0))
            ).alias("n_customers"),
            (
                (
                    F.coalesce("__s", F.lit(0))
                    + F.coalesce("__ds", F.lit(0))
                ) / 100.0
            ).alias("acctbal_sum"),
        )
        .filter(F.col("n_customers") > 0)
    )


_SQL_IVM_ROLLUP = """
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
         c_mktsegment, (c_custkey % 250 = 0) AS is_deleted
  FROM customer WHERE c_custkey % 100 = 0
  UNION ALL
  SELECT * FROM (VALUES
    (10000001, 'NewCustomer#0', 0, 0.0, 'BUILDING', false),
    (10000002, 'NewCustomer#1', 0, 0.0, 'BUILDING', false),
    (10000003, 'NewCustomer#2', 0, 0.0, 'BUILDING', false))
    v(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, is_deleted)
),
merged AS (
  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
  FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM updates u
                    WHERE u.c_custkey = c.c_custkey)
  UNION ALL
  SELECT c_custkey, c_nationkey, c_acctbal
  FROM updates WHERE NOT is_deleted
)
SELECT c_nationkey,
       count(*) AS n_customers,
       sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0
         AS acctbal_sum
FROM merged
GROUP BY c_nationkey
"""


@row("tpch_q13", lambda: _SQL_TPCH_Q13)
def _q_tpch_q13(spark, sf_dir):
    """Q13 customer-order-count distribution: LEFT OUTER join preserving
    order-less customers, then a two-level aggregation (count per
    customer, histogram of counts). The priority filter stands in for
    Q13's comment NOT LIKE — the testdata has no comment column."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        # count(col) skips NULLs, so customers with no orders land in
        # the c_count = 0 bucket — the point of the outer join
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


_SQL_TPCH_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


@row("tpch_q15", lambda: _SQL_TPCH_Q15)
def _q_tpch_q15(spark, sf_dir):
    """Q15 top supplier: quarterly revenue per supplier, keeping the
    supplier(s) whose revenue equals the maximum — an aggregate
    compared for EQUALITY against a scalar aggregate of itself, safe
    across engines only because the revenue is an exact cents sum
    divided once (a double sum would make `= max` flaky)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-10-01")
        & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(rev_e4).alias("__rev_e4"))
    mx = rev.agg(F.max("__rev_e4").alias("__mx_e4"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("__rev_e4") == F.col("__mx_e4"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name",
            (F.col("__rev_e4") / 10000.0).alias("total_revenue"),
        )
    )


_SQL_TPCH_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                  (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-10-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, rev_e4 / 10000.0 AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE rev_e4 = (SELECT max(rev_e4) FROM revenue)
"""


@row("tpch_q16", lambda: _SQL_TPCH_Q16)
def _q_tpch_q16(spark, sf_dir):
    """Q16 supplier diversity per part attribute (adapted to the
    partsupp-less schema: supplier-part relationships come from
    lineitem): COUNT DISTINCT per 3-column group, a NOT-IN exclusion
    as a broadcast anti-join, and an attribute IN-list that prunes at
    the part scan."""
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 3, 5, 7, 9)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"],
                "left_anti")
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_SQL_TPCH_Q16 = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 3, 5, 7, 9)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
"""


@row("tpch_q17", lambda: _SQL_TPCH_Q17)
def _q_tpch_q17(spark, sf_dir):
    """Q17 small-quantity-order revenue: the classic correlated
    aggregate — compare each row against 0.2x the per-part average
    quantity, decorrelated into a groupBy + equi-join re-join.
    Quantities are integer-valued doubles, so the per-part avg (exact
    integer sum / count) and the 0.2x threshold are bit-identical
    across engines."""
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_li = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    thresh = brand_li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("__qty_thresh")
    )
    return (
        brand_li.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__qty_thresh"))
        .agg(
            (F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ) / 100.0 / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_SQL_TPCH_Q17 = """
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#23'
),
thresh AS (
  SELECT l_partkey, avg(l_quantity) * 0.2 AS qty_thresh
  FROM brand_li GROUP BY l_partkey
)
SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0
         AS avg_yearly,
       count(*) AS n_rows
FROM brand_li JOIN thresh USING (l_partkey)
WHERE l_quantity < qty_thresh
"""


@row("tpch_q22", lambda: _SQL_TPCH_Q22)
def _q_tpch_q22(spark, sf_dir):
    """Q22 global-sales-opportunity (adapted): customers with
    above-average positive balances and NO RECENT orders (every
    customer has *some* order at this density, so the dormancy window
    keeps the anti-join non-trivial) — scalar-subquery threshold
    (exact cents avg) + broadcast anti-join, grouped by a code
    substring of the customer name (stand-in for the phone country
    code)."""
    c = _t(spark, sf_dir, "customer")
    bal_e2 = F.round(F.col("c_acctbal") * 100).cast("bigint")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_e2).alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-01-01"
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(
            bal_e2.cast("double")
            > F.col("__s").cast("double") / F.col("__n").cast("double")
        )
        .join(o, F.col("c_custkey") == o["o_custkey"], "left_anti")
        .groupBy(F.substring("c_name", 16, 2).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(bal_e2) / 100.0).alias("totacctbal"),
        )
    )


_SQL_TPCH_Q22 = """
WITH thr AS (
  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
         / count(*) AS avg_e2
  FROM customer WHERE c_acctbal > 0.0
)
SELECT substr(c_name, 16, 2) AS cntrycode,
       count(*) AS numcust,
       sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0
         AS totacctbal
FROM customer, thr
WHERE CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE) > avg_e2
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY cntrycode
"""


@row("grouped_topk", lambda: _SQL_GROUPED_TOPK,
     # grouped top-k: the rn <= k filter must rewrite into
     # WindowGroupLimit (per-partition k-heaps before the shuffle) —
     # without it every event row moves in the window exchange
     plan=("WindowGroupLimit",))
def _q_grouped_topk(spark, sf_dir):
    """Per-group top-k: 3 highest-value events per event type via a
    ranked window. Spark 4 rewrites the rn <= k filter into
    WindowGroupLimit — per-partition k-heaps BEFORE the shuffle, so
    only ~k rows per group per input partition move (the row's plan
    contract asserts it); without the rewrite every row shuffles."""
    e = _events(spark, sf_dir).select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


_SQL_GROUPED_TOPK = """
SELECT event_type, event_id, value, rn
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rn
  FROM events
)
WHERE rn <= 3
"""


@row("diff_snapshots", lambda: _SQL_DIFF_SNAPSHOTS)
def _q_diff_snapshots(spark, sf_dir):
    """Row-level snapshot diff (operators/diff.py): classify every key
    as added/deleted/changed between the customer table and the CDC
    batch applied to it by merge_upsert — the read side of the CDC
    story, one full-outer shuffle, payload compared as a null-safe
    struct."""
    from parquet_sampler_spark.operators.diff import snapshot_diff

    old = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    new = _q_merge_upsert(spark, sf_dir)
    return snapshot_diff(old, new, ["c_custkey"], check_unique=False)


_SQL_DIFF_SNAPSHOTS = f"""
WITH merged AS ({_SQL_MERGE_UPSERT})
SELECT COALESCE(c.c_custkey, m.c_custkey) AS c_custkey,
       CASE WHEN c.c_custkey IS NULL THEN 'added'
            WHEN m.c_custkey IS NULL THEN 'deleted'
            WHEN NOT (c.c_name IS NOT DISTINCT FROM m.c_name
                      AND c.c_nationkey IS NOT DISTINCT FROM m.c_nationkey
                      AND c.c_acctbal IS NOT DISTINCT FROM m.c_acctbal
                      AND c.c_mktsegment IS NOT DISTINCT FROM m.c_mktsegment)
            THEN 'changed' END AS change_type
FROM customer c FULL OUTER JOIN merged m ON c.c_custkey = m.c_custkey
WHERE CASE WHEN c.c_custkey IS NULL THEN 'added'
           WHEN m.c_custkey IS NULL THEN 'deleted'
           WHEN NOT (c.c_name IS NOT DISTINCT FROM m.c_name
                     AND c.c_nationkey IS NOT DISTINCT FROM m.c_nationkey
                     AND c.c_acctbal IS NOT DISTINCT FROM m.c_acctbal
                     AND c.c_mktsegment IS NOT DISTINCT FROM m.c_mktsegment)
           THEN 'changed' END IS NOT NULL
"""


# ---------------------------------------------------------------------------
# TPC-H completion: q2, q8, q9, q12, q20, q21 (suite now covers all 22;
# q1 ≙ pricing_summary/rollup_pricing). Schema adaptations (no partsupp,
# no l_shipmode/l_commitdate/l_receiptdate in the testdata): a supplier's
# part "cost" is derived from lineitem prices, and "lateness" is
# l_shipdate > o_orderdate + interval — each documented per query.
# ---------------------------------------------------------------------------

@row("tpch_q2", lambda: _SQL_TPCH_Q2)
def _q_tpch_q2(spark, sf_dir):
    """Q2 minimum-cost supplier (adapted: supplier's cost for a part =
    the minimum line price it ever charged, exact cents — the testdata
    has no partsupp). EUROPE suppliers, STANDARD parts of size <= 15;
    keep every supplier achieving the per-part minimum — the
    decorrelated form of Q2's correlated MIN subquery."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nr = n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).select("n_nationkey", "n_name")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nr),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    price_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    costs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", price_c.alias("__pc"))
        .join(F.broadcast(s.select("s_suppkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("__pc").alias("__cost_c"))
    )
    minc = costs.groupBy("l_partkey").agg(F.min("__cost_c").alias("__min_c"))
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_name")
    return (
        costs.join(minc, "l_partkey")
        .filter(F.col("__cost_c") == F.col("__min_c"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            (F.col("__cost_c") / 100.0).alias("supplycost"),
        )
    )


_SQL_TPCH_Q2 = """
WITH eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
costs AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_c
  FROM lineitem JOIN eur ON l_suppkey = s_suppkey
  GROUP BY l_partkey, l_suppkey
),
minc AS (SELECT l_partkey, min(cost_c) AS min_c FROM costs GROUP BY 1)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       cost_c / 100.0 AS supplycost
FROM costs
JOIN minc ON costs.l_partkey = minc.l_partkey AND cost_c = min_c
JOIN part ON costs.l_partkey = p_partkey
         AND p_type = 'STANDARD' AND p_size <= 15
JOIN eur ON costs.l_suppkey = eur.s_suppkey
"""


@row("tpch_q8", lambda: _SQL_TPCH_Q8,
     # q8's 7-relation tree: dims broadcast, no nested loop anywhere
     plan=("BroadcastHashJoin", "!BroadcastNestedLoopJoin",
           "!CartesianProduct"))
def _q_tpch_q8(spark, sf_dir):
    """Q8 national market share: NATION_8's share of EUROPE's STANDARD-
    part import volume per year — a 7-relation join tree whose share
    division is done on exact-cents integer sums."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    ).select("p_partkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    r = _t(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    ).select("r_regionkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    vol_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n_c), c["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r["r_regionkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n_s), s["s_nationkey"] == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_8", vol_e4)
                    .otherwise(F.lit(0))
                ).cast("double")
                / F.sum(vol_e4).cast("double")
            ).alias("mkt_share")
        )
    )


_SQL_TPCH_Q8 = """
SELECT year(o_orderdate) AS o_year,
       CAST(sum(CASE WHEN n2.n_name = 'NATION_8' THEN vol_e4 ELSE 0 END)
            AS DOUBLE) / CAST(sum(vol_e4) AS DOUBLE) AS mkt_share
FROM (
  SELECT l_orderkey, l_partkey, l_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) *
         (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol_e4
  FROM lineitem
) l
JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
JOIN orders ON l_orderkey = o_orderkey
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
GROUP BY o_year
"""


@row("tpch_q9", lambda: _SQL_TPCH_Q9)
def _q_tpch_q9(spark, sf_dir):
    """Q9 product-type profit (adapted: unit cost = 0.6 × p_retailprice
    — no partsupp supplycost in the testdata): profit per supplier
    nation per order year over '%bolt%' parts, exact e4-cents
    arithmetic throughout the multi-way join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    ).select("p_partkey", "p_retailprice")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        - F.lit(60)
        * F.round(F.col("p_retailprice") * 100).cast("bigint")
        * F.round(F.col("l_quantity")).cast("bigint")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((F.sum(profit_e4) / 10000.0).alias("sum_profit"))
    )


_SQL_TPCH_Q9 = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
           (100 - CAST(round(l_discount * 100) AS BIGINT))
           - 60 * CAST(round(p_retailprice * 100) AS BIGINT)
             * CAST(round(l_quantity) AS BIGINT)) / 10000.0 AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, year(o_orderdate)
"""


@row("tpch_q12", lambda: _SQL_TPCH_Q12)
def _q_tpch_q12(spark, sf_dir):
    """Q12 shipping-priority classes (adapted: late = shipped more than
    60 days after order date; grouped by l_returnflag — the testdata
    has no l_shipmode/commitdate/receiptdate): the CASE-pivot count of
    critical vs non-critical order priorities among 1996's late lines.

    The 60-day predicate compares an exact integer microsecond
    difference (timestamp_diff on Spark's TIMESTAMP_NTZ, epoch_us
    subtraction on DuckDB's naive timestamps) instead of timestamp +
    INTERVAL — interval coercion onto timestamps is version-sensitive
    in DuckDB and was the r4 driver-red cause; integer comparison is
    coercion- and timezone-free on both engines. Year bound via year()
    for the same reason."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1996
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    sixty_days_us = 60 * 86400 * 1000000
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            F.timestamp_diff(
                "MICROSECOND", F.col("o_orderdate"), F.col("l_shipdate")
            )
            > F.lit(sixty_days_us)
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_SQL_TPCH_Q12 = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(l_shipdate) = 1996
  AND epoch_us(l_shipdate) - epoch_us(o_orderdate) > 5184000000000
GROUP BY l_returnflag
"""


# Q20/Q21 run the SAME SQL text through spark.sql AND the DuckDB oracle
# — the point is the correlated-subquery planner (nested IN + correlated
# scalar agg in q20; EXISTS + NOT EXISTS double correlation in q21),
# which Catalyst must decorrelate into aggregate/semi/anti joins.
#
# Portability (oracle audit r5): q20's TIMESTAMP '1998-01-01' literal is
# compared against a same-type naive timestamp column — no coercion, and
# literal-vs-column timestamp comparison has been driver-green since r1
# across many queries (pricing_summary etc.), so it stays. q21's 90-day
# lateness predicate is DATE-vs-DATE integer arithmetic (not timestamp +
# INTERVAL, which is version-sensitive in DuckDB and was q12's r4 driver
# red); exact because the generator emits midnight-only order/ship
# timestamps (asserted in tests/test_tpch_adaptations.py).

_SQL_TPCH_Q20 = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT st.l_suppkey
  FROM (SELECT l.l_suppkey, sum(l.l_quantity) AS total_qty
        FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'small %')
        GROUP BY l.l_suppkey) st
  WHERE st.total_qty > 2.0 * (
      SELECT coalesce(sum(l2.l_quantity), 0.0)
      FROM lineitem l2
      WHERE l2.l_suppkey = st.l_suppkey
        AND l2.l_partkey IN (SELECT p_partkey FROM part
                             WHERE p_name LIKE 'small %')
        AND l2.l_shipdate >= TIMESTAMP '1998-01-01')
)
"""

_SQL_TPCH_Q21 = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders o1, nation
WHERE s_suppkey = l1.l_suppkey
  AND o1.o_orderkey = l1.l_orderkey
  AND o1.o_orderstatus = 'F'
  AND CAST(l1.l_shipdate AS DATE) > CAST(o1.o_orderdate AS DATE) + 90
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o2
                  WHERE o2.o_orderkey = l3.l_orderkey
                    AND l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND CAST(l3.l_shipdate AS DATE) >
                        CAST(o2.o_orderdate AS DATE) + 90)
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_7'
GROUP BY s_name
"""


def _tpch_views(spark, sf_dir, *names):
    for t in names:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)


@row("tpch_q20", lambda: _SQL_TPCH_Q20,
     # q20's nested-IN + correlated scalar agg must decorrelate to semi
     # joins + aggregates — never a per-row nested loop
     plan=("LeftSemi", "!BroadcastNestedLoopJoin", "!CartesianProduct"))
def _q_tpch_q20(spark, sf_dir):
    """Q20 potential-part-promotion (adapted to supplier granularity —
    per-(supplier, part) lineitem pairs are too sparse in this testdata
    for the correlated compare to select anything): keep suppliers
    whose all-time shipped qty of 'small %' parts more than doubles
    their 1998+ shipments of those parts (21 of 100 qualify at
    sf0.01). IN over an aggregate whose HAVING-style compare is a
    correlated scalar aggregate that itself contains a nested IN —
    Catalyst decorrelates the inner sum into an aggregate joined on
    suppkey. Same SQL text as the oracle; quantity sums are integral
    doubles (exact)."""
    _tpch_views(spark, sf_dir, "supplier", "lineitem", "part")
    return spark.sql(_SQL_TPCH_Q20)


@row("tpch_q21", lambda: _SQL_TPCH_Q21,
     # q21's EXISTS / NOT EXISTS pair decorrelates to semi + anti
     plan=("LeftSemi", "LeftAnti", "!BroadcastNestedLoopJoin",
           "!CartesianProduct"))
def _q_tpch_q21(spark, sf_dir):
    """Q21 waiting-suppliers (adapted: late = shipped > 90 days after
    order date): multi-supplier 'F' orders where THIS nation's supplier
    was late and no other supplier on the order was — EXISTS plus NOT
    EXISTS, both correlated on the outer line's orderkey, the hardest
    decorrelation in the suite. Same SQL text as the oracle."""
    _tpch_views(spark, sf_dir, "supplier", "lineitem", "orders", "nation")
    return spark.sql(_SQL_TPCH_Q21)


@row("cdc_time_travel", lambda: _SQL_CDC_TIME_TRAVEL)
def _q_cdc_time_travel(spark, sf_dir):
    """Snapshot time travel (streaming/sinks.py VERSION-AS-OF read):
    publish two versions through the real commit protocol — v0 = the
    full customer snapshot as the initial load, v1 = the CDC batch
    merge_upsert applies — with retain_versions=2, then read BACK
    version 0 after v1 is live. The oracle is the raw customer table:
    time travel must return the pre-merge state byte-for-byte even
    though the pointer has moved on. Re-running in one session is a
    no-op by the sink's exactly-once batch-id skip."""
    from parquet_sampler_spark.queries import session_tmp_dir
    from parquet_sampler_spark.streaming.sinks import (
        apply_cdc_batch,
        read_merge_snapshot,
    )

    # key the snapshot dir by sf_dir: without it, a second scale factor
    # in the same session would hit the exactly-once batch-id skip and
    # serve the FIRST sf's snapshot (r4 ADVICE finding)
    import hashlib as _hl

    sf_tag = _hl.sha256(str(sf_dir).encode()).hexdigest()[:10]
    base = f"{session_tmp_dir(spark, f'cdc_tt_{sf_tag}')}/customer_versions"
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"]
    initial = _t(spark, sf_dir, "customer").select(*cols).withColumn(
        "is_deleted", F.lit(False)
    )
    apply_cdc_batch(
        initial, 0, base, ["c_custkey"], delete_col="is_deleted",
        retain_versions=2,
    )
    batch = _merge_batch(spark, sf_dir)
    apply_cdc_batch(
        batch, 1, base, ["c_custkey"], delete_col="is_deleted",
        retain_versions=2,
    )
    return read_merge_snapshot(spark, base, version=0)


_SQL_CDC_TIME_TRAVEL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer
"""


@row("cdc_incremental", lambda: _SQL_MERGE_UPSERT)
def _q_cdc_incremental(spark, sf_dir):
    """Bucket-granular copy-on-write CDC (streaming/incremental.py):
    the customer snapshot loads as batch 0, the shared synthetic CDC
    batch applies as batch 1 — but unlike cdc_time_travel's full-copy
    versions, only the buckets the batch's keys hash into are
    rewritten; every untouched bucket FILE is shared verbatim between
    the two retained manifests (Delta/Iceberg's storage model, built
    on parquet + an atomic manifest pointer — the jars are absent in
    this environment). The oracle is the plain MERGE result: the
    incremental path must be value-identical to the one-shot
    merge_upsert."""
    import hashlib as _hl

    from parquet_sampler_spark.queries import session_tmp_dir
    from parquet_sampler_spark.streaming.incremental import (
        apply_cdc_batch_incremental,
        read_incremental_snapshot,
    )

    sf_tag = _hl.sha256(str(sf_dir).encode()).hexdigest()[:10]
    base = f"{session_tmp_dir(spark, f'cdc_inc_{sf_tag}')}/customer_cow"
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"]
    initial = _t(spark, sf_dir, "customer").select(*cols).withColumn(
        "is_deleted", F.lit(False)
    )
    apply_cdc_batch_incremental(
        initial, 0, base, ["c_custkey"], nbuckets=16,
        delete_col="is_deleted", retain_versions=2,
    )
    apply_cdc_batch_incremental(
        _merge_batch(spark, sf_dir), 1, base, ["c_custkey"],
        nbuckets=16, delete_col="is_deleted", retain_versions=2,
    )
    return read_incremental_snapshot(spark, base).select(*cols)


@row("unpivot_events", lambda: _SQL_UNPIVOT_EVENTS)
def _q_unpivot_events(spark, sf_dir):
    """Pivot's inverse (DataFrame.unpivot / melt): the wide daily
    event-type matrix from pivot_events back to long (day, event_type,
    n) form. Zero-filled cells are kept (every day × type appears), so
    the oracle is the dense grid: day range × type with per-cell
    counts. Round-tripping wide↔long is the standard reshape pair a
    feature pipeline needs in both directions."""
    wide = _q_pivot_events(spark, sf_dir)
    return wide.unpivot(
        ids=["day"], values=_EVENT_TYPES,
        variableColumnName="event_type", valueColumnName="n",
    )


_SQL_UNPIVOT_EVENTS = """
WITH days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events),
types AS (SELECT unnest(['click', 'view', 'purchase', 'signup',
                         'error']) AS event_type),
cells AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT d.day, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM days d CROSS JOIN types t
LEFT JOIN cells c ON c.day = d.day AND c.event_type = t.event_type
"""
