"""Analytical workload queries: multi-join aggregations in TPC-H style
plus the set-operation surface. These are the bench's "real pipeline"
shapes — several joins, selective filters, grouped decimal aggregation,
top-k — exercising the composition of the engine's operators rather than
one operator in isolation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pybabe_spark.queries import register, session_memo
from pybabe_spark.sources.io import read_table


from functools import partial

from pybabe_spark.queries import _dec as _dec_base

#: the engine-wide exact-decimal lift at the money scale (2) this
#: module's TPC-H-style aggregates use — NOT _dec_base's default 6
_dec = partial(_dec_base, scale=2)


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


@register(
    "q3_unshipped_revenue",
    f"""
    SELECT l.l_orderkey,
           CAST(SUM({_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_unshipped_revenue(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q5_region_supplier_volume",
    f"""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_region_supplier_volume(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    dims = (
        sup.select("s_suppkey", "s_nationkey")
        .join(F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.select("r_regionkey")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "distinct_suppliers_per_nation",
    """
    SELECT n.n_name AS nation,
           COUNT(DISTINCT s.s_suppkey) AS n_suppliers,
           CAST(MAX(s.s_acctbal) AS DOUBLE) AS max_balance
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_distinct_agg(spark, sf_dir):
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count_distinct("s_suppkey").alias("n_suppliers"),
            F.max("s_acctbal").cast("double").alias("max_balance"),
        )
    )


@register(
    "filter_in_between",
    """
    SELECT p_partkey, p_brand, p_size, p_retailprice
    FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#3') AND p_size BETWEEN 10 AND 30
    """,
)
def q_filter_in_between(spark, sf_dir):
    part = read_table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_brand").isin("Brand#1", "Brand#3") & F.col("p_size").between(10, 30)
    ).select("p_partkey", "p_brand", "p_size", "p_retailprice")


@register(
    "bottomk_min_n",
    """
    SELECT c_custkey, c_acctbal FROM customer
    ORDER BY c_acctbal ASC, c_custkey ASC LIMIT 15
    """,
)
def q_bottomk(spark, sf_dir):
    from pybabe_spark.operators.relational import min_n

    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return min_n(cust, "c_acctbal", 15, tie_break="c_custkey")


@register(
    "group_by_year",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
)
def q_group_by_year(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


@register(
    "json_extract_props",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int
    FROM events
    """,
)
def q_json_extract(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").select("event_id", "props")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_int"),
    )


@register(
    "asof_last_purchase",
    """
    SELECT l.event_id, l.user_id, l.ts, r.purchase_ts, r.purchase_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN
         (SELECT user_id, ts AS purchase_ts, value AS purchase_value
          FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.purchase_ts
    """,
)
def q_asof_last_purchase(spark, sf_dir):
    """As-of enrichment: each click gets the user's most recent prior
    purchase (pandas merge_asof semantics, distributed)."""
    from pybabe_spark.operators import asof_join

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="purchase_ts"
    )


@register(
    "range_join_error_window",
    """
    SELECT r.error_id, COUNT(l.event_id) AS n_clicks
    FROM (SELECT event_id AS error_id, user_id, ts AS w_start,
                 ts + INTERVAL 10 MINUTE AS w_end
          FROM events WHERE event_type = 'error') r
    JOIN (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') l
      ON l.user_id = r.user_id AND l.ts >= r.w_start AND l.ts < r.w_end
    GROUP BY r.error_id
    """,
)
def q_range_join_error_window(spark, sf_dir):
    """Interval containment: clicks landing in the 10 minutes after each
    error event of the same user, counted per error window."""
    from pybabe_spark.operators import range_join

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    joined = range_join(
        clicks, errors, point="ts", start="w_start", end="w_end", key="user_id"
    )
    return joined.groupBy("error_id").agg(F.count("event_id").alias("n_clicks"))


@register(
    "setop_except",
    """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def q_setop_except(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return clickers.exceptAll(buyers)


@register(
    "setop_intersect",
    """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    """,
)
def q_setop_intersect(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return a.intersect(b)


@register(
    "rollup_year_priority",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           o_orderpriority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (CAST(year(o_orderdate) AS INT), o_orderpriority)
    """,
)
def q_rollup_year_priority(spark, sf_dir):
    """Hierarchical totals (year, priority) → (year) → grand total.
    Capability superset: the reference has no grouping sets (SURVEY
    §2.4); Spark's rollup is a single shuffle with partial aggregation."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.rollup(
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "rank_orders_per_customer",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS total,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
             RANK() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders
    ) t WHERE rn <= 3
    """,
)
def q_rank_orders_per_customer(spark, sf_dir):
    """Ranking window functions (capability superset over the reference's
    single trailing windowMap, SURVEY §2.6)."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "lead_lag_user_events",
    """
    SELECT event_id, user_id,
           LAG(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_lead_lag_user_events(spark, sf_dir):
    """lead/lag over event time per user (capability superset, SURVEY §2.6)."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@register(
    "salted_join_priority_revenue",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_salted_join_priority_revenue(spark, sf_dir):
    """Skew-salted fact-fact join must produce byte-identical aggregates
    to the plain equi-join (operators/skew.py; salting spreads hot probe
    keys across salt buckets, build side explodes xsalt)."""
    from pybabe_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=4)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
    )


@register(
    "skew_report_orders",
    """
    WITH c AS (SELECT o_custkey, COUNT(*) AS n_rows FROM orders GROUP BY 1),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
                 COUNT(*) AS n_keys FROM c)
    SELECT o_custkey, CAST(n_rows AS BIGINT) AS n_rows,
           (CAST(n_rows AS DOUBLE) * n_keys) / total AS skew_ratio
    FROM c CROSS JOIN t
    ORDER BY n_rows DESC, o_custkey ASC NULLS FIRST
    LIMIT 20
    """,
)
def q_skew_report(spark, sf_dir):
    """Heavy-key diagnostic (operators/skew.py::skew_report): top-20
    order-count customers with count ÷ mean-per-key skew ratio — the
    pre-join skew probe. One map-combinable count agg + a TakeOrdered
    head + a 1-row scalar attach; never a full-key sort."""
    from pybabe_spark.operators.skew import skew_report

    orders = read_table(spark, sf_dir, "orders")
    return skew_report(orders, "o_custkey", top_n=20)


@register(
    "percentile_price_by_priority",
    """
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS med,
           quantile_cont(o_totalprice, 0.9) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_percentile_price(spark, sf_dir):
    """Exact interpolated percentiles (capability superset; verified
    bit-identical across engines — same linear-interpolation formula on
    the same sorted doubles). At 100 TB prefer approx_percentile; the
    exact form is the oracle-checkable definition."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
    )


@register(
    "q4_semi_join_priority",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def q4_semi_join_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS == left-semi join (orders with returned
    lineitems). Semi join never duplicates the probe side and shuffles
    only the join keys."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(late, orders["o_orderkey"] == late["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "anti_join_customers_no_orders",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q_anti_join_customers(spark, sf_dir):
    """TPC-H Q22 shape: NOT EXISTS == left-anti join (customers who never
    ordered), counted per segment."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "cube_year_segment",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           c_mktsegment,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY CUBE (CAST(year(o_orderdate) AS INT), c_mktsegment)
    """,
)
def q_cube_year_segment(spark, sf_dir):
    """CUBE over (year, segment): all four grouping sets in one pass
    (capability superset; completes the grouping-sets family with
    rollup_year_priority)."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .cube(
            F.year("o_orderdate").cast("int").alias("order_year"),
            "c_mktsegment",
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "rolling_value_per_user",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS rolling_sum
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_rolling_value_per_user(spark, sf_dir):
    """Per-key trailing window — the scale path of windowMap: partitioned
    frames parallelize across keys instead of the reference's single
    global stream (SURVEY §2.6)."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("rolling_sum"),
    )


@register(
    "string_agg_suppliers",
    """
    SELECT n_name,
           string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
           COUNT(*) AS n
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_string_agg(spark, sf_dir):
    """Ordered string aggregation (listagg): sorted collect_list →
    concat_ws — the deterministic form of the notoriously
    order-dependent aggregate (SURVEY §2.4 capability superset). The
    explicit sort inside the aggregate is what makes it reproducible on
    any engine and any partitioning."""
    sup = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("s_name")))
            .alias("suppliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "grouping_sets_orders",
    """
    SELECT EXTRACT(year FROM o_orderdate) AS yr, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((EXTRACT(year FROM o_orderdate)),
                            (o_orderpriority))
    """,
)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form under rollup/cube, both
    already covered): one aggregation producing the per-year and
    per-priority marginals in a single pass — Spark expands to a single
    shuffle, not two jobs."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    ).groupingSets(
        [["yr"], ["o_orderpriority"]], "yr", "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p").cast("double").alias("total"),
    )


@register(
    "ranking_windows_orders",
    """
    SELECT o_orderkey, o_orderpriority,
           NTILE(4) OVER w AS price_quartile,
           CAST(CAST(PERCENT_RANK() OVER w AS DECIMAL(18,6)) AS DOUBLE)
             AS pct_rank,
           CAST(CAST(CUME_DIST() OVER w AS DECIMAL(18,6)) AS DOUBLE)
             AS cume,
           FIRST_VALUE(o_orderkey) OVER w AS cheapest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_ranking_windows(spark, sf_dir):
    """Ranking-window surface in one query: ntile / percent_rank /
    cume_dist / first_value per priority partition (SURVEY §2.6
    capability superset). One shuffle on the partition key; the unique
    (price, key) order makes every rank deterministic. Both engines
    compute the same IEEE doubles; DECIMAL(18,6) absorbs nothing here
    but keeps the cross-engine convention uniform."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).cast("decimal(18,6)").cast("double")
        .alias("pct_rank"),
        F.cume_dist().over(w).cast("decimal(18,6)").cast("double").alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
    )


# Approximate aggregates are the 100 TB path (single pass, fixed-size
# sketches, no exact-distinct shuffle). Raw sketch values are
# engine-specific by construction, so the query REDUCES them to facts an
# exact engine can verify: the exact group count/size plus booleans
# asserting the sketches landed inside pinned error bounds (HLL rsd 2%
# checked against a 3x=6% band; approx-median checked against the exact
# p45..p55 value band). A broken sketch flips a boolean and the driver's
# hash-compare catches it; DuckDB's side of those booleans is literal
# TRUE because the bound holding is exactly what's being certified.
# Tighter per-value bounds are pinned in
# tests/test_scale_ops.py::test_approx_aggregates_error_bounds.
@register(
    "approx_stats_scale",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS orders_within_6pct,
           TRUE AS median_in_p45_p55
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_approx_stats_scale(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.expr("percentile(l_extendedprice, array(0.45, 0.55))").alias("band"),
    )
    return agg.select(
        "l_returnflag",
        "n",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= F.lit(0.06) * F.col("exact_orders")
        ).alias("orders_within_6pct"),
        F.col("approx_median").between(
            F.col("band")[0], F.col("band")[1]
        ).alias("median_in_p45_p55"),
    ).orderBy("l_returnflag")


def _pagerank_sql() -> str:
    from pybabe_spark.operators.graph import pagerank_sql

    edges = """
      SELECT src, dst FROM (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      )
      UNION ALL
      SELECT dst AS src, src AS dst FROM (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      )
    """
    return pagerank_sql(edges, iters=3, damping=0.85)


@register("pagerank_trade_network", _pagerank_sql())
def q_pagerank(spark, sf_dir):
    """PageRank over the symmetrized customer↔supplier trade graph
    (operators/graph.py::pagerank, 3 iterations, d=0.85): who are the
    structurally central parties in the order flow. Exact integer
    micro-unit iteration — the oracle replays it bit-for-bit. Scale
    shape: per-iteration cost is one |E| equi-join + one hash agg;
    rank state is one row per node."""
    from pybabe_spark.operators.graph import pagerank

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges, iters=3, damping=0.85)


def _histogram_sql():
    from pybabe_spark.operators.sketch import histogram_sql

    return histogram_sql("orders", "o_totalprice", bins=10)


@register("histogram_orders", _histogram_sql())
def q_histogram(spark, sf_dir):
    """Fixed-width 10-bin histogram of order totals
    (operators/sketch.py::histogram): two map-combinable passes, 1-row
    edge broadcast, empty bins materialized from a range grid — exact
    IEEE oracle, no rounding step."""
    from pybabe_spark.operators.sketch import histogram

    orders = read_table(spark, sf_dir, "orders")
    return histogram(orders, "o_totalprice", bins=10)


def _funnel_sql():
    from pybabe_spark.operators.group import funnel_sql

    return funnel_sql("events", ["view", "click", "purchase"], within=86400)


@register("funnel_events", _funnel_sql())
def q_funnel(spark, sf_dir):
    """view → click → purchase conversion funnel with a 1-day window
    (operators/group.py::funnel): first-touch frontier join chain, one
    user-keyed equi-join + min() per step, per-step bounded counts
    re-entering as a VALUES literal (r14) — classic product analytics
    as three linear steps."""
    from pybabe_spark.operators.group import funnel

    ev = read_table(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"], within=86400)


def _sessionize_sql():
    from pybabe_spark.operators.timeseries import sessionize_sql

    return sessionize_sql(
        "events", 7200, order_cols=["event_id"], stats=True
    )


@register("sessionize_batch_events", _sessionize_sql())
def q_sessionize_batch(spark, sf_dir):
    """Gap-based batch sessionization of the event log, 2-hour gap
    (operators/timeseries.py::session_stats): one shuffle on user_id,
    lag + running-sum session ids, session summary per (user, session).
    Boundary matches the streaming sessionize (split at gap >= 7200s)
    so batch and stream backfills agree."""
    from pybabe_spark.operators.timeseries import session_stats

    ev = read_table(spark, sf_dir, "events")
    return session_stats(ev, 7200, order_cols=["event_id"])


def _gap_fill_sql():
    from pybabe_spark.operators.timeseries import gap_fill_sql

    return gap_fill_sql(
        "events", 21600, "user_id", "ts",
        {"value": "sum", "event_id": "count"}, fill="forward",
    )


@register("gap_fill_events", _gap_fill_sql())
def q_gap_fill(spark, sf_dir):
    """Regular 6-hour per-user activity grid with forward fill
    (operators/timeseries.py::gap_fill): (user, bucket) aggregation,
    per-key sequence() grid so absent buckets become rows, LOCF via a
    key-partitioned IGNORE-NULLS window. Decimal-exact value sums."""
    from pybabe_spark.operators.timeseries import gap_fill

    ev = read_table(spark, sf_dir, "events")
    return gap_fill(
        ev, 21600, "user_id", "ts",
        {"value": "sum", "event_id": "count"}, fill="forward",
    )


def _gap_fill_linear_sql():
    from pybabe_spark.operators.timeseries import gap_fill_sql

    return gap_fill_sql(
        "events", 21600, "user_id", "ts", {"value": "sum"}, fill="linear"
    )


@register("gap_fill_linear_events", _gap_fill_linear_sql())
def q_gap_fill_linear(spark, sf_dir):
    """Linear-interpolation resampling
    (operators/timeseries.py::gap_fill fill='linear'): empty buckets on
    the per-user 6-hour grid take the time-weighted straight line
    between their nearest non-null neighbors (flat at the edges) — the
    sensor/metrics rule LOCF mis-states for sloping series. One
    fixed-shape IEEE expression rounded once to DECIMAL(18,6), two
    key-partitioned IGNORE-NULLS windows over the SAME sort — no extra
    shuffle beyond the forward-fill plan."""
    from pybabe_spark.operators.timeseries import gap_fill

    ev = read_table(spark, sf_dir, "events")
    return gap_fill(
        ev, 21600, "user_id", "ts", {"value": "sum"}, fill="linear"
    )


def _fuzzy_pairs_sql():
    from pybabe_spark.operators.fuzzy import fuzzy_pairs_sql

    return fuzzy_pairs_sql("customer", "c_custkey", "c_name", max_dist=1)


@register("fuzzy_pairs_customer_names", _fuzzy_pairs_sql())
def q_fuzzy_pairs(spark, sf_dir):
    """Record linkage: customer-name pairs within edit distance 1
    (operators/fuzzy.py::fuzzy_pairs — symmetric-delete blocking, a
    complete candidate set by the SymSpell deletion lemma, then exact
    levenshtein confirm). The oracle is the ALL-PAIRS definition; the
    engine never compares all pairs — candidates come from one
    deletion-key equi-join over distinct names."""
    from pybabe_spark.operators.fuzzy import fuzzy_pairs

    cust = read_table(spark, sf_dir, "customer")
    return fuzzy_pairs(cust, "c_custkey", "c_name", max_dist=1)


def _fuzzy_strings_sql():
    from pybabe_spark.operators.fuzzy import fuzzy_string_pairs_sql

    return fuzzy_string_pairs_sql("part", "p_name", max_dist=2)


@register("fuzzy_match_part_names", _fuzzy_strings_sql())
def q_fuzzy_strings(spark, sf_dir):
    """Distinct part-name pairs within edit distance 2 — exercises the
    depth-2 deletion neighborhood (O(len^2) keys per DISTINCT string;
    the 2000-row part table holds only ~64 distinct names, so the
    candidate join sees 64 strings, not 2000 rows)."""
    from pybabe_spark.operators.fuzzy import fuzzy_string_pairs

    part = read_table(spark, sf_dir, "part")
    return fuzzy_string_pairs(part, "p_name", max_dist=2)


def _scd2_events_sql():
    from pybabe_spark.operators.scd import scd2_sql

    return scd2_sql("events", "user_id", "ts", ["event_type"])


@register("scd2_events_history", _scd2_events_sql())
def q_scd2_history(spark, sf_dir):
    """SCD2 collapse of the event log: per user, consecutive
    same-event_type rows merge into one validity interval with
    half-open [valid_from, valid_to) boundaries, last-row witness
    timestamp, multiplicity, and is_current flag
    (operators/scd.py::scd2_from_changelog). One shuffle on user_id,
    lag/running-sum/lead windows — the sessionization plan shape with
    an equality predicate instead of a time gap. (user_id, ts) is
    unique in the testdata, so no tie-break columns are needed."""
    from pybabe_spark.operators.scd import scd2_from_changelog

    ev = read_table(spark, sf_dir, "events")
    return scd2_from_changelog(
        ev.select("user_id", "ts", "event_type"),
        "user_id",
        "ts",
        ["event_type"],
    )


@register("scd2_upsert_events", _scd2_events_sql())
def q_scd2_upsert(spark, sf_dir):
    """Incremental SCD2 fold: history built from events before
    2024-01-24, then the remaining week folded in with
    operators/scd.py::scd2_upsert — WITHOUT re-windowing untouched
    users (one anti-join keeps them as-is; only updated users'
    intervals re-collapse). The oracle is the FULL-TABLE rebuild SQL:
    the incremental path must be value-identical to recomputing from
    the whole changelog, which is exactly the operator's exactness
    contract for append-only batches."""
    from pybabe_spark.operators.scd import scd2_from_changelog, scd2_upsert

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    cutoff = F.lit("2024-01-24").cast("timestamp")
    # lazy persist: in real use history is READ from storage; built
    # in-plan it would otherwise be re-collapsed once per consumer
    # (anti-join, span guard, re-expansion — 7 source scans measured)
    hist = scd2_from_changelog(
        ev.filter(F.col("ts") < cutoff), "user_id", "ts", ["event_type"]
    ).persist()
    return scd2_upsert(
        hist,
        ev.filter(F.col("ts") >= cutoff),
        "user_id",
        "ts",
        ["event_type"],
    )


def _retention_sql():
    from pybabe_spark.operators.timeseries import retention_cohorts_sql

    return retention_cohorts_sql("events", "user_id", "ts", 604800, 6)


@register("retention_cohorts_events", _retention_sql())
def q_retention(spark, sf_dir):
    """Weekly cohort retention over the event log
    (operators/timeseries.py::retention_cohorts): users cohorted by
    first-activity week, per-cohort active-user counts at week offsets
    0..6, retention in exact integer ppm (no IEEE division). One
    corpus-scale distinct on (user, week); everything after runs on
    cohort×offset rows."""
    from pybabe_spark.operators.timeseries import retention_cohorts

    ev = read_table(spark, sf_dir, "events")
    return retention_cohorts(ev, "user_id", "ts", 604800, 6)


def _cms_sql():
    from pybabe_spark.operators.sketch import cms_estimate_sql

    return cms_estimate_sql("orders", "o_custkey", 512, 3)


@register("cms_counts_orders", _cms_sql())
def q_cms_counts(spark, sf_dir):
    """Count-min sketch frequencies of order custkeys
    (operators/sketch.py::cms_build/cms_lookup): the fixed-memory
    frequency tier between freqItems and a full groupBy — cells are a
    (depth×width) TABLE built by one map-combinable aggregation, and
    the md5 position arithmetic is replayed bit-identically by the
    DuckDB oracle (FULL-value check, estimates included), so the
    overcount-only guarantee is certified per key, not just bounded."""
    from pybabe_spark.operators.sketch import cms_build, cms_lookup

    orders = read_table(spark, sf_dir, "orders")
    cms = cms_build(orders, "o_custkey", 512, 3)
    return cms_lookup(cms, orders, "o_custkey", 512, 3)


_DIFF_A = "(SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)"
_DIFF_B = (
    "(SELECT o_orderkey, o_orderstatus,"
    " CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1"
    "      ELSE o_totalprice END AS o_totalprice"
    " FROM orders WHERE o_orderkey % 11 <> 0"
    " UNION ALL"
    " SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice"
    " FROM orders WHERE o_orderkey % 13 = 0)"
)


def _table_diff_sql():
    from pybabe_spark.operators.merge import table_diff_sql

    return table_diff_sql(
        _DIFF_A, _DIFF_B, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


@register("table_diff_orders", _table_diff_sql())
def q_table_diff(spark, sf_dir):
    """Dataset-version diff (operators/merge.py::table_diff): orders
    vs a deterministically mutated copy (every 11th key dropped, every
    7th repriced, every 13th re-keyed as new) — added/removed/changed
    rows with per-column change lists from ONE full-outer equi-join.
    The CDC primitive for auditing dataset releases."""
    from pybabe_spark.operators.merge import table_diff

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = o.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    ).unionByName(
        o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 10000000
        )
    )
    return table_diff(o, b, "o_orderkey", ["o_orderstatus", "o_totalprice"])


def _validate_sql():
    from pybabe_spark.operators.validate import validate_sql

    return validate_sql(
        "orders",
        [
            ("not_null", "o_custkey"),
            ("unique", ["o_orderkey"]),
            ("range", "o_totalprice", 0, 250000),
            ("in_set", "o_orderstatus", ["O", "F"]),
            ("regexp", "o_orderpriority", "^[0-9]-"),
            ("fk", "o_custkey", "customer", "c_custkey"),
        ],
    )


@register("validate_orders", _validate_sql())
def q_validate(spark, sf_dir):
    """Declarative data-quality gate (operators/validate.py): six
    expectations over orders — null/unique/range/enum/regexp/FK — in
    one conditional-aggregation scan plus one keyed agg (unique) and
    one anti-join (FK). Range and enum rules are deliberately tight so
    the key certifies NON-ZERO violation counts, not just zeros."""
    from pybabe_spark.operators.validate import validate

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return validate(
        orders,
        [
            ("not_null", "o_custkey"),
            ("unique", ["o_orderkey"]),
            ("range", "o_totalprice", 0, 250000),
            ("in_set", "o_orderstatus", ["O", "F"]),
            ("regexp", "o_orderpriority", "^[0-9]-"),
            ("fk", "o_custkey", cust, "c_custkey"),
        ],
    )


_ROLLUP_CACHE: dict = {}
_ROLLUP_MEASURES = {"o_totalprice": "sum", "o_custkey": "count"}
_ROLLUP_DIMS = ["o_orderstatus", "o_orderpriority"]


@register(
    "rollup_orders_incremental",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS o_totalprice_sum,
           COUNT(o_custkey) AS o_custkey_count
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def q_rollup_incremental(spark, sf_dir):
    """Incremental materialized rollup (operators/rollup.py): built
    from even order keys, the odd half folded in by rollup_append —
    batch-aggregate ∪ stored partials, re-merge, atomic swap. The
    oracle is the FULL-table GROUP BY: append must equal rebuild
    value-for-value (decimal-exact sums, so append order cannot
    produce an IEEE drift)."""
    import os

    from pybabe_spark.operators.rollup import (
        rollup_append,
        rollup_build,
        rollup_read,
    )

    path = _ROLLUP_CACHE.get(sf_dir)
    if path is None or not os.path.isdir(path):
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="pybabe_rollup_")
        atexit.register(shutil.rmtree, root, True)
        path = os.path.join(root, "rollup")
        orders = read_table(spark, sf_dir, "orders")
        rollup_build(
            orders.filter(F.col("o_orderkey") % 2 == 0),
            _ROLLUP_DIMS,
            _ROLLUP_MEASURES,
            path,
        )
        rollup_append(
            orders.filter(F.col("o_orderkey") % 2 != 0),
            path,
            _ROLLUP_DIMS,
            _ROLLUP_MEASURES,
        )
        _ROLLUP_CACHE[sf_dir] = path
    return rollup_read(spark, path, _ROLLUP_MEASURES)


def _seq_sql():
    from pybabe_spark.operators.group import sequence_count_sql

    return sequence_count_sql("events", ["view", "click", "purchase"])


@register("sequence_count_events", _seq_sql())
def q_sequence_count(spark, sf_dir):
    """Ordered-sequence repetition count per user, view→click→purchase
    ignoring other events (operators/group.py::sequence_count): letter
    mapping + one sorted collect_list shuffle + literal-replace
    counting — MATCH_RECOGNIZE-lite with no regex dialect risk; the
    oracle replays the identical string arithmetic."""
    from pybabe_spark.operators.group import sequence_count

    ev = read_table(spark, sf_dir, "events")
    return sequence_count(ev, ["view", "click", "purchase"])


def _anomaly_sql():
    from pybabe_spark.operators.anomaly import zscore_anomalies_sql

    return zscore_anomalies_sql(
        "events", "user_id", "value", "ts", threshold=1.5, mode="global"
    )


@register("zscore_anomalies_events", _anomaly_sql())
def q_zscore_anomalies(spark, sf_dir):
    """Per-user z-score outliers in the event values
    (operators/anomaly.py::zscore_anomalies, global mode): exact
    decimal sums feed a fixed-shape squared-form IEEE comparison —
    no sqrt in the decision, bit-identical across engines. Two
    key-partitioned shuffles (stats agg + join back)."""
    from pybabe_spark.operators.anomaly import zscore_anomalies

    ev = read_table(spark, sf_dir, "events")
    return zscore_anomalies(
        ev.select("user_id", "ts", "value"),
        "user_id",
        "value",
        "ts",
        threshold=1.5,
        mode="global",
    )


def _quantiles_sql():
    from pybabe_spark.operators.sketch import quantiles_sql

    return quantiles_sql(
        "orders", "o_totalprice", [0.25, 0.5, 0.75, 0.9], by="o_orderstatus"
    )


@register("quantiles_orders_by_status", _quantiles_sql())
def q_quantiles(spark, sf_dir):
    """Exact per-status price quantiles
    (operators/sketch.py::quantiles): all probs in one aggregation
    pass; 6 dp rounding is exact for 2 dp data at these prob
    fractions, so the oracle (quantile_cont) matches value-for-value.
    The 100 TB path is the mergeable quantiles_approx twin — exact
    percentile buffers per-group values and is for bounded groups
    like these three statuses."""
    from pybabe_spark.operators.sketch import quantiles

    orders = read_table(spark, sf_dir, "orders")
    return quantiles(
        orders, "o_totalprice", [0.25, 0.5, 0.75, 0.9], by="o_orderstatus"
    )


@register(
    "entity_resolution_customers",
    """
    WITH RECURSIVE
    edges AS (
      SELECT a.c_custkey AS id1, b.c_custkey AS id2
      FROM customer a JOIN customer b
        ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
    ),
    sym AS (SELECT id1 AS u, id2 AS v FROM edges
            UNION SELECT id2 AS u, id1 AS v FROM edges),
    reach(src, node) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.src, s.v FROM reach r JOIN sym s ON r.node = s.u
    ),
    comp AS (SELECT src AS id, MIN(node) AS component FROM reach GROUP BY src),
    assigned AS (
      SELECT c.c_custkey AS id, COALESCE(m.component, c.c_custkey) AS component
      FROM customer c LEFT JOIN comp m ON c.c_custkey = m.id
    ),
    sizes AS (SELECT component, COUNT(*) AS cluster_size
              FROM assigned GROUP BY component)
    SELECT id, component, cluster_size
    FROM assigned JOIN sizes USING (component)
    """,
)
def q_entity_resolution(spark, sf_dir):
    """End-to-end record linkage: SymSpell-blocked fuzzy name pairs
    (edit distance ≤ 1) closed under transitive connectivity into
    entity clusters, singletons kept (operators/fuzzy.fuzzy_pairs →
    operators/graph.dup_clusters). Composition certificate: the
    blocking, the confirm, AND the CC fixpoint must all agree with the
    oracle's all-pairs + recursive-CTE definition on real keys. The
    blocking+CC stage is shared with ``golden_record_customers``
    through :func:`_er_clusters` (computed once per session+dataset)."""
    return _er_clusters(spark, sf_dir)


#: entity_resolution_customers and golden_record_customers run the
#: IDENTICAL fuzzy-blocking + connected-components stage — the two most
#: expensive bench queries — so it is computed once per session+dataset
#: and pinned by a lazy localCheckpoint.
@session_memo(
    users=("entity_resolution_customers", "golden_record_customers")
)
def _er_clusters(spark, sf_dir):
    from pybabe_spark.operators.fuzzy import fuzzy_connectivity_pairs
    from pybabe_spark.operators.graph import dup_clusters

    cust = read_table(spark, sf_dir, "customer")
    # star-reduced edge set: provably identical components to the full
    # fuzzy_pairs graph (positional buckets are cliques — see
    # fuzzy_connectivity_pairs), at ~1/5 the CC input here and a
    # linear-vs-quadratic gap at scale; the oracle keeps the all-pairs
    # definition, which is exactly the property being certified
    pairs = fuzzy_connectivity_pairs(cust, "c_custkey", "c_name")
    clusters = dup_clusters(
        cust, pairs, id_col="c_custkey", src="id1", dst="id2"
    ).localCheckpoint(eager=False)  # lazy: construction stays job-free,
    # the first action pins the result for every later consumer
    return clusters


_FS_FIELDS = {
    "nation_agree": (0.95, 0.04),
    "segment_agree": (0.90, 0.20),
    "balance_agree": (0.85, 0.05),
}


def _fs_sql():
    from pybabe_spark.operators.fuzzy import fellegi_sunter_sql

    pairs = """
        SELECT a.c_custkey AS id1, b.c_custkey AS id2,
               a.c_nationkey = b.c_nationkey AS nation_agree,
               a.c_mktsegment = b.c_mktsegment AS segment_agree,
               abs(a.c_acctbal - b.c_acctbal) <= 100.0 AS balance_agree
        FROM customer a JOIN customer b
          ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
    """
    return fellegi_sunter_sql(
        pairs, _FS_FIELDS, lower=0.0, upper=4.0,
        columns="id1, id2, nation_agree, segment_agree, balance_agree",
    )


@register("fellegi_sunter_customers", _fs_sql())
def q_fellegi_sunter(spark, sf_dir):
    """Fellegi–Sunter probabilistic linkage scoring on the fuzzy-name
    candidate pairs (operators/fuzzy.py::fellegi_sunter): per-field
    agreement (nation / segment / balance-within-100) folds into an
    integer micro-unit log-odds sum with match / possible / non_match
    tiers — the classical decision layer between blocking and
    clustering. The weights are Python-computed literals, so neither
    engine evaluates a transcendental; the oracle replays blocking,
    agreements AND the identical weight table. Plan: the SymSpell
    blocking (pinned clean) + two id equi-joins + one codegen
    projection — zero extra shuffles."""
    from pybabe_spark.operators.fuzzy import fellegi_sunter, fuzzy_pairs

    cust = read_table(spark, sf_dir, "customer")
    pairs = fuzzy_pairs(cust, "c_custkey", "c_name", max_dist=1).select(
        "id1", "id2"
    )
    a = cust.select(
        F.col("c_custkey").alias("id1"),
        F.col("c_nationkey").alias("__n1"),
        F.col("c_mktsegment").alias("__s1"),
        F.col("c_acctbal").alias("__b1"),
    )
    b = cust.select(
        F.col("c_custkey").alias("id2"),
        F.col("c_nationkey").alias("__n2"),
        F.col("c_mktsegment").alias("__s2"),
        F.col("c_acctbal").alias("__b2"),
    )
    ag = (
        pairs.join(a, "id1")
        .join(b, "id2")
        .select(
            "id1",
            "id2",
            (F.col("__n1") == F.col("__n2")).alias("nation_agree"),
            (F.col("__s1") == F.col("__s2")).alias("segment_agree"),
            (F.abs(F.col("__b1") - F.col("__b2")) <= 100.0).alias(
                "balance_agree"
            ),
        )
    )
    return fellegi_sunter(ag, _FS_FIELDS, lower=0.0, upper=4.0)


def _strat_n_sql():
    from pybabe_spark.operators.sampling import stratified_fixed_n_sql

    return stratified_fixed_n_sql(
        "documents", "lang", "doc_id", 50,
        columns="doc_id, text, lang, source, n_chars",
    )


@register("stratified_fixed_n_docs", _strat_n_sql())
def q_stratified_fixed_n(spark, sf_dir):
    """Exactly-50-per-language eval sample
    (operators/sampling.py::stratified_fixed_n): seeded-md5 rank
    inside each stratum, WindowGroupLimit cuts below the sort. The
    deterministic fixed-size constructor rate-based sampling can't
    provide."""
    from pybabe_spark.operators.sampling import stratified_fixed_n

    docs = read_table(spark, sf_dir, "documents")
    return stratified_fixed_n(docs, "lang", "doc_id", 50)


def _winsorize_sql():
    from pybabe_spark.operators.sampling import winsorize_sql

    return winsorize_sql(
        "orders", "o_totalprice", 0.05, 0.95, by="o_orderstatus",
        columns="o_orderkey, o_orderstatus, o_totalprice",
    )


@register("winsorize_orders_price", _winsorize_sql())
def q_winsorize(spark, sf_dir):
    """Per-status price winsorization at [p5, p95]
    (operators/sampling.py::winsorize): exact 6-dp quantile bounds
    broadcast-joined back, LEAST/GREATEST clamp — every output value
    is the untouched input double or a shared rounded bound, so the
    oracle matches value-for-value."""
    from pybabe_spark.operators.sampling import winsorize

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return winsorize(orders, "o_totalprice", 0.05, 0.95, by="o_orderstatus")


def _bootstrap_sql():
    from pybabe_spark.operators.sketch import bootstrap_mean_ci_sql

    return bootstrap_mean_ci_sql(
        "orders", "o_totalprice", "o_orderkey", by="o_orderstatus",
        n_resamples=40,
    )


@register("bootstrap_ci_orders", _bootstrap_sql())
def q_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap CI for the per-status mean order price
    (operators/sketch.py::bootstrap_mean_ci): 40 resample means from
    ONE aggregation pass — each row's per-resample replication weight
    is the inverse-CDF of a 60-bit md5 slice against Python-computed
    integer thresholds, so both engines draw the identical 'random'
    weights with zero floats before the final division. The error-bar
    primitive a 100 TB mean needs without a second pass or a driver
    collect."""
    from pybabe_spark.operators.sketch import bootstrap_mean_ci

    orders = read_table(spark, sf_dir, "orders")
    return bootstrap_mean_ci(
        orders, "o_totalprice", "o_orderkey", by="o_orderstatus",
        n_resamples=40,
    )


def _spearman_sql():
    from pybabe_spark.operators.sketch import spearman_corr_sql

    return spearman_corr_sql(
        "lineitem", "l_quantity", "l_extendedprice", by="l_returnflag"
    )


@register("spearman_lineitem", _spearman_sql())
def q_spearman(spark, sf_dir):
    """Per-flag Spearman rank correlation of quantity vs price
    (operators/sketch.py::spearman_corr): exact integral average
    tie-ranks (2·rank form) from the de-globalized cumulative
    machinery, DECIMAL(38,0) moment sums, one fixed-shape IEEE finish
    — the monotone-association twin of ``corr_matrix_lineitem`` for
    heavy-tailed metrics."""
    from pybabe_spark.operators.sketch import spearman_corr

    li = read_table(spark, sf_dir, "lineitem")
    return spearman_corr(
        li, "l_quantity", "l_extendedprice", by="l_returnflag"
    )


def _partial_corr_sql():
    from pybabe_spark.operators.sketch import partial_corr_sql

    return partial_corr_sql(
        "lineitem", "l_quantity", "l_extendedprice", "l_discount",
        by="l_returnflag",
    )


@register("partial_corr_lineitem", _partial_corr_sql())
def q_partial_corr(spark, sf_dir):
    """Per-flag partial correlation of quantity vs price holding
    discount constant (operators/sketch.py::partial_corr): is the
    quantity↔price association real once the shared discount driver
    is partialled out — the confounder question corr_matrix_lineitem
    leaves open. Ten exact DECIMAL(38,0) moments in one hash agg,
    fixed-shape r tree reproduced verbatim by the oracle."""
    from pybabe_spark.operators.sketch import partial_corr

    li = read_table(spark, sf_dir, "lineitem")
    return partial_corr(
        li, "l_quantity", "l_extendedprice", "l_discount",
        by="l_returnflag",
    )


def _corr_sql():
    from pybabe_spark.operators.sketch import corr_matrix_sql

    return corr_matrix_sql(
        "lineitem", ["l_quantity", "l_extendedprice", "l_discount"]
    )


@register("corr_matrix_lineitem", _corr_sql())
def q_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlations over lineitem numerics
    (operators/sketch.py::corr_matrix): all pairs in ONE map-combinable
    aggregation pass, moments as exact decimals, the final formula a
    fixed-shape scalar — value-for-value oracle, not a tolerance."""
    from pybabe_spark.operators.sketch import corr_matrix

    li = read_table(spark, sf_dir, "lineitem")
    return corr_matrix(li, ["l_quantity", "l_extendedprice", "l_discount"])


@register(
    "hll_daily_users_events",
    """
    SELECT date_trunc('day', ts) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS hll_ok
    FROM events GROUP BY date_trunc('day', ts)
    """,
)
def q_hll_daily_users(spark, sf_dir):
    """Stored mergeable distinct-user sketches per day
    (operators/sketch.py::hll_build/hll_estimate — DataSketches HLL,
    lg_k=12, rsd ≈ 1.6%): the incremental-distinct pattern that
    answers any-date-range distincts without raw re-scans. Estimates
    are library-specific, so the oracle certifies a boolean 5% error
    bound per day next to the exact count (the ann recall-floor
    pattern) — a broken sketch flips hll_ok and fails the hash."""
    from pybabe_spark.operators.sketch import hll_build, hll_estimate

    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    est = hll_estimate(hll_build(ev, "user_id", by="day"))
    exact = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(est, "day").select(
        "day",
        "n_exact",
        (
            F.abs(F.col("distinct_est") - F.col("n_exact"))
            <= F.lit(2) + F.lit(0.05) * F.col("n_exact")
        ).alias("hll_ok"),
    )


def _transition_sql():
    from pybabe_spark.operators.group import transition_matrix_sql

    return transition_matrix_sql("events", order_cols=["event_id"])


@register("transition_matrix_events", _transition_sql())
def q_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix of the event stream
    (operators/group.py::transition_matrix): lag pairs per user (one
    key shuffle), (from,to) hash agg, conditional probabilities in
    exact integer ppm over the tiny |types|² table."""
    from pybabe_spark.operators.group import transition_matrix

    ev = read_table(spark, sf_dir, "events")
    return transition_matrix(ev, order_cols=["event_id"])


def _triangle_sql():
    from pybabe_spark.operators.graph import triangle_count_sql

    return triangle_count_sql(
        """
        SELECT id_a, id_b FROM (
          SELECT a.s AS id_a, b.s AS id_b FROM
            (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem) a
            JOIN
            (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem) b
            ON a.o = b.o AND a.s < b.s
        ) WHERE (id_a + id_b) % 7 = 0
        """
    )


def _supplier_edges_sql(mod: int = 7) -> str:
    return f"""
        SELECT id_a, id_b FROM (
          SELECT a.s AS id_a, b.s AS id_b FROM
            (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem) a
            JOIN
            (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem) b
            ON a.o = b.o AND a.s < b.s
        ) WHERE (id_a + id_b) % {int(mod)} = 0
    """


_SUPPLIER_EDGES_SQL = _supplier_edges_sql(7)


def _supplier_edges(spark, sf_dir, mod: int = 7):
    li = read_table(spark, sf_dir, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = os_.alias("a"), os_.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o")) & (F.col("a.s") < F.col("b.s")),
        )
        .select(F.col("a.s").alias("id_a"), F.col("b.s").alias("id_b"))
        .filter((F.col("id_a") + F.col("id_b")) % mod == 0)
    )


#: Canonical supplier co-occurrence edges of the sampled graph —
#: jaccard_links_suppliers and adamic_adar_suppliers are sibling link
#: predictors over the IDENTICAL mod-63 edge set, and the lineitem
#: order-basket self-join that builds it is the dominant shared stage
#: (~3 s at sf0.1 vs sub-second wedge work on the ~19k edges that come
#: out).
@session_memo(users=("jaccard_links_suppliers", "adamic_adar_suppliers"))
def _supplier_canonical_edges(spark, sf_dir):
    """Canonical (id_a < id_b, distinct) supplier co-occurrence edges
    of the mod-63 sample, through the operators' own rule
    (``graph._canonical_edges``), which is idempotent — the operators
    re-apply it to the cached table at ~19k-row cost, so semantics are
    bit-identical to the unshared path."""
    from pybabe_spark.operators.graph import _canonical_edges

    e = _canonical_edges(
        _supplier_edges(spark, sf_dir, mod=63), "id_a", "id_b"
    ).select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
    # lazy_persist, NOT localCheckpoint: the checkpoint is a barrier —
    # the owner pays a full extra materialization pass before its own
    # wedge work can start (measured: owner 2.4 → 4.2-5.2 s at sf0.1),
    # which is MORE than the build it was sharing. A cache fills
    # DURING the owner's action (no extra job), and reusers read the
    # blocks for free — owner stays at inline cost, reuser drops to
    # wedge-only. coalesce(1) first: a ~7k-row table cached as 64
    # blocks makes every consumer stage launch 64 tasks (AQE coalesces
    # shuffle READS, not cached sources) — one block keeps the wedge
    # stages 1-task until their own shuffles.
    from pybabe_spark.operators._util import lazy_persist

    return lazy_persist(e.coalesce(1))


#: (pairs, items, baskets) basket-pair core at (l_orderkey, l_partkey,
#: min_support=2) — frequent_pairs_lineitem, association_rules_lineitem
#: and item_neighbors_parts all aggregate the IDENTICAL support-pruned
#: within-order pair table.
@session_memo(users=(
    "item_neighbors_parts", "frequent_pairs_lineitem",
    "association_rules_lineitem",
))
def _basket_core(spark, sf_dir):
    from pybabe_spark.operators.collocations import basket_pair_core

    li = read_table(spark, sf_dir, "lineitem")
    pairs, items, baskets = basket_pair_core(
        li, "l_orderkey", "l_partkey", 2
    )
    return (
        pairs.localCheckpoint(eager=False),
        items.localCheckpoint(eager=False),
        # NOT checkpointed: a checkpoint would erase the grouping-key-
        # free-aggregate shape plan_lint proves maxRows=1 from (the
        # attach_scalars broadcast exemption); the agg itself is a
        # cheap pass over the persisted (b, i) projection
        baskets,
    )


def _adamic_adar_sql():
    from pybabe_spark.operators.graph import adamic_adar_sql

    return adamic_adar_sql(
        _supplier_edges_sql(63), max_degree=256, top_n=100
    )


@register("adamic_adar_suppliers", _adamic_adar_sql())
def q_adamic_adar(spark, sf_dir):
    """Adamic–Adar link prediction on the sampled supplier
    co-occurrence graph (operators/graph.py::adamic_adar): the 100
    highest-scoring NON-edges — common neighbors discounted by
    1/ln(degree), weights as once-rounded DECIMAL(18,12) literals
    decimal-summed per pair, wedges generated only at ≤256-degree
    centers (the capped-candidate contract the oracle mirrors), one
    anti-join against the edge set, TakeOrderedAndProject finish.
    The 1/63 edge sample keeps the key bench-sized for the same
    reason the triangle key samples: the synthetic baskets make the
    FULL co-occurrence projection near-complete, where wedge volume
    is Θ(n·d̄²) by definition — real co-occurrence graphs are sparse
    and the capped-center bound is the interesting part (the
    adamic_adar STRESS family measures exponent 0.25 on a
    degree-flat graph). The mod-63 edge table is shared with
    jaccard_links_suppliers through :func:`_supplier_canonical_edges`
    (computed once per session+dataset — the sibling predictors run on
    the identical graph)."""
    from pybabe_spark.operators.graph import adamic_adar

    edges = _supplier_canonical_edges(spark, sf_dir)
    return adamic_adar(edges, max_degree=256, top_n=100)


def _jaccard_links_sql():
    from pybabe_spark.operators.graph import jaccard_link_prediction_sql

    return jaccard_link_prediction_sql(
        _supplier_edges_sql(63), max_degree=256, top_n=100
    )


@register("jaccard_links_suppliers", _jaccard_links_sql())
def q_jaccard_links(spark, sf_dir):
    """Jaccard link prediction on the sampled supplier co-occurrence
    graph (operators/graph.py::jaccard_link_prediction): the 100
    highest-scoring NON-edges by neighborhood Jaccard —
    adamic_adar_suppliers' unweighted sibling, with the intersection
    over ≤256-degree wedge centers (the capped-candidate contract)
    and the union over FULL degrees; the score is one exact floored
    integer division, so the ranking is engine-identical by
    construction. The mod-63 edge table is shared with
    adamic_adar_suppliers through :func:`_supplier_canonical_edges`
    (the lineitem basket self-join is the dominant shared stage)."""
    from pybabe_spark.operators.graph import jaccard_link_prediction

    edges = _supplier_canonical_edges(spark, sf_dir)
    return jaccard_link_prediction(edges, max_degree=256, top_n=100)


def _assortativity_sql():
    from pybabe_spark.operators.graph import assortativity_sql

    return assortativity_sql(_SUPPLIER_EDGES_SQL)


@register("assortativity_suppliers", _assortativity_sql())
def q_assortativity(spark, sf_dir):
    """Degree assortativity of the supplier co-occurrence graph
    (operators/graph.py::assortativity): do well-connected suppliers
    co-serve orders with other well-connected suppliers (r > 0) or
    with the periphery (r < 0) — the one-number skew-regime readout
    that decides whether a traversal needs hub salting. Exact
    DECIMAL(38,0) degree moments over symmetrized ends, one
    fixed-shape Pearson finish."""
    from pybabe_spark.operators.graph import assortativity

    return assortativity(_supplier_edges(spark, sf_dir, mod=7))


@register("triangle_count_suppliers", _triangle_sql())
def q_triangle_count(spark, sf_dir):
    """Triangle census of a deterministic 1/7 edge sample of the
    supplier co-occurrence graph (suppliers linked when they serve one
    order; operators/graph.py::triangle_count): degree-ordered
    orientation bounds wedge work by O(m^1.5) — the hub-safe
    distributed algorithm — while the oracle counts the textbook
    u<v<w 3-way join on the same sampled edge set. The sample keeps
    the key bench-sized: the synthetic baskets make the FULL
    projection near-complete (every pair of 1 000 suppliers
    co-occurs somewhere at sf0.1 — ~500 k edges, Θ(n³) triangles),
    which stresses nothing but raw wedge volume; real co-occurrence
    graphs are sparse and the operator's bound is the interesting
    part."""
    from pybabe_spark.operators.graph import triangle_count

    return triangle_count(_supplier_edges(spark, sf_dir, mod=7))


def _weighted_sample_sql():
    from pybabe_spark.operators.sampling import weighted_sample_sql

    return weighted_sample_sql(
        "orders", "o_totalprice", 200, "o_orderkey",
        columns="o_orderkey, o_custkey, o_totalprice",
    )


@register("weighted_sample_orders", _weighted_sample_sql())
def q_weighted_sample(spark, sf_dir):
    """200 orders sampled ∝ price without replacement
    (operators/sampling.py::weighted_sample — Efraimidis–Spirakis
    Gumbel-top-k on seeded-md5 noise, decimal-rounded keys): the
    deterministic importance sampler; TakeOrderedAndProject, never a
    global sort."""
    from pybabe_spark.operators.sampling import weighted_sample

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return weighted_sample(orders, "o_totalprice", 200, "o_orderkey")


@register(
    "pareto_suppliers_revenue",
    """
    WITH sums AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000
                    AS BIGINT) AS vm
        FROM lineitem GROUP BY l_suppkey
    ),
    t AS (SELECT CAST(SUM(vm) AS BIGINT) AS tm FROM sums),
    top AS (
        SELECT l_suppkey, vm FROM sums
        ORDER BY vm DESC, l_suppkey ASC NULLS FIRST LIMIT 40
    ),
    cum AS (
        SELECT a.l_suppkey, a.vm,
               CAST(SUM(b.vm) AS BIGINT) AS c
        FROM top a JOIN top b
          ON b.vm > a.vm
          OR (b.vm = a.vm AND (b.l_suppkey IS NULL
              OR (a.l_suppkey IS NOT NULL AND b.l_suppkey <= a.l_suppkey)))
        GROUP BY a.l_suppkey, a.vm
    )
    SELECT l_suppkey,
           CAST(vm AS DOUBLE) / 1e6 AS value_sum,
           CAST((CAST(vm AS HUGEINT) * 1000000) // tm AS BIGINT) AS share_ppm,
           CAST((CAST(c AS HUGEINT) * 1000000) // tm AS BIGINT) AS cum_share_ppm
    FROM cum CROSS JOIN t
    """,
)
def q_pareto(spark, sf_dir):
    """Top-40 suppliers by revenue with exact-ppm share and cumulative
    share (operators/skew.py::pareto_report): the 80-20 contribution
    diagnostic — keyed decimal sum + TakeOrdered head + bounded
    self-join cumulative (limit-proved maxRows, never a global
    window)."""
    from pybabe_spark.operators.skew import pareto_report

    li = read_table(spark, sf_dir, "lineitem")
    return pareto_report(li, "l_suppkey", "l_extendedprice", 40)


@register(
    "json_flatten_events",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY CAST(json_extract_string(props, '$.k') AS INT)
    """,
)
def q_json_flatten(spark, sf_dir):
    """JSON property promotion + rollup
    (functions/json_ops.py::json_flatten): the event `props` JSON
    column flattened to a typed `k` (pure-codegen get_json_object +
    try cast, scan-speed, no Python) and aggregated — the
    semi-structured step every event pipeline runs before analytics."""
    from pybabe_spark.functions.json_ops import json_flatten

    ev = read_table(spark, sf_dir, "events")
    flat = json_flatten(ev, "props", {"k": "int"})
    return flat.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "impute_orders_price",
    """
    WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 9 = 0 THEN NULL
                    ELSE o_totalprice END AS v
        FROM orders
    ), m AS (
        SELECT o_orderstatus,
               ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(v), 6) AS f
        FROM base GROUP BY o_orderstatus
    )
    SELECT o_orderkey, o_orderstatus, COALESCE(v, f) AS v
    FROM base JOIN m USING (o_orderstatus)
    """,
)
def q_impute(spark, sf_dir):
    """Grouped mean imputation (operators/validate.py::impute): every
    9th price nulled then refilled with its status group's
    decimal-exact 6 dp mean — one aggregation + one broadcast join;
    untouched values pass through as the same doubles."""
    from pybabe_spark.operators.validate import impute

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 9 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("v"),
    )
    return impute(orders, {"v": "mean"}, by="o_orderstatus")


def _qbins_sql():
    from pybabe_spark.operators.sampling import quantile_bins_sql

    return quantile_bins_sql(
        "orders", "o_totalprice", 10,
        columns="o_orderkey, o_totalprice",
    )


@register("quantile_bins_orders", _qbins_sql())
def q_quantile_bins(spark, sf_dir):
    """Decile binning of order prices
    (operators/sampling.py::quantile_bins): one edge aggregation, one
    1-row attach, codegen comparisons — equal-frequency feature
    discretization with exact 6 dp edges the oracle reproduces."""
    from pybabe_spark.operators.sampling import quantile_bins

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return quantile_bins(orders, "o_totalprice", 10)


_SUPP_EDGES_SQL = """
        SELECT a.s AS id_a, b.s AS id_b FROM
          (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem) a
          JOIN
          (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem) b
          ON a.o = b.o AND a.s < b.s
"""


def _bfs_sql():
    from pybabe_spark.operators.graph import bfs_distances_sql

    return bfs_distances_sql(
        _SUPP_EDGES_SQL,
        "SELECT DISTINCT l_suppkey AS s FROM lineitem WHERE l_suppkey % 50 = 0",
        3,
        "l_suppkey",
    )


@register("bfs_supplier_neighborhood", _bfs_sql())
def q_bfs(spark, sf_dir):
    """3-hop BFS from the %50 seed suppliers over the co-occurrence
    graph (operators/graph.py::bfs_distances): frontier-only joins,
    per-round anti-join against visited, observe()-stopped — the
    blast-radius / seed-expansion primitive; the oracle unrolls the
    hops as CTEs and takes per-node MIN distance."""
    from pybabe_spark.operators.graph import bfs_distances

    li = read_table(spark, sf_dir, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = os_.alias("a"), os_.alias("b")
    edges = a.join(
        b, (F.col("a.o") == F.col("b.o")) & (F.col("a.s") < F.col("b.s"))
    ).select(F.col("a.s").alias("id_a"), F.col("b.s").alias("id_b"))
    seeds = li.filter(F.col("l_suppkey") % 50 == 0).select(
        F.col("l_suppkey")
    )
    return bfs_distances(edges, seeds, max_hops=3, id_col="l_suppkey")


def _freq_pairs_sql():
    from pybabe_spark.operators.collocations import frequent_pairs_sql

    return frequent_pairs_sql("lineitem", "l_orderkey", "l_partkey", 2)


@register("frequent_pairs_lineitem", _freq_pairs_sql())
def q_frequent_pairs(spark, sf_dir):
    """Market-basket part pairs with support ≥ 2 and exact-ppm lift
    (operators/collocations.py::frequent_pairs): within-order pair
    join bounded by basket width, support filter before the lift
    joins, 128-bit integer lift — association rules as one shuffle
    plus broadcast enrichment."""
    from pybabe_spark.operators.collocations import frequent_pairs

    li = read_table(spark, sf_dir, "lineitem")
    return frequent_pairs(
        li, "l_orderkey", "l_partkey", 2,
        core=_basket_core(spark, sf_dir),
    )


@register(
    "ab_test_events",
    __import__(
        "pybabe_spark.operators.sketch", fromlist=["ab_test_sql"]
    ).ab_test_sql(
        """(SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                   AS variant,
                  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
           FROM events GROUP BY user_id,
                CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END)""",
        "variant",
        "converted",
        "A",
        "B",
    ),
)
def q_ab_test(spark, sf_dir):
    """Two-proportion A/B test on per-user purchase conversion,
    variants by user parity (operators/sketch.py::ab_test): one
    per-user aggregation, one conditional-agg scan, a squared-form
    pooled-z decision in fixed-shape IEEE — conversion/lift in exact
    ppm, significance as a deterministic boolean."""
    from pybabe_spark.operators.sketch import ab_test

    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    return ab_test(per_user, "variant", "converted", "A", "B")


_AB_BY_FRAME = """(
    SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
           'seg' || CAST(user_id % 3 AS VARCHAR) AS segment,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM events GROUP BY user_id)"""


@register(
    "ab_test_by_events",
    __import__(
        "pybabe_spark.operators.sketch", fromlist=["ab_test_by_sql"]
    ).ab_test_by_sql(
        _AB_BY_FRAME, "variant", "converted", "A", "B", "segment"
    ),
)
def q_ab_test_by(spark, sf_dir):
    """Per-segment A/B readout (operators/sketch.py::ab_test_by):
    the same exact-ppm conversion/lift + pooled-z decision as
    ab_test_events, broken out by a user-id-derived segment — the
    heterogeneity view a single global row hides. ONE segment-keyed
    conditional hash agg."""
    from pybabe_spark.operators.sketch import ab_test_by

    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
        F.concat(F.lit("seg"), (F.col("user_id") % 3).cast("string"))
        .alias("segment"),
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    return ab_test_by(
        per_user, "variant", "converted", "A", "B", "segment"
    )


def _mi_sql():
    from pybabe_spark.operators.sketch import mutual_information_sql

    return mutual_information_sql(
        "orders", "o_orderpriority", "o_orderstatus"
    )


@register("mutual_information_orders", _mi_sql())
def q_mutual_information(spark, sf_dir):
    """Mutual information between order priority and status
    (operators/sketch.py::mutual_information): the leakage /
    feature-selection measure on the same cell table as cramers_v —
    H(a)+H(b)−H(a,b) with the proven per-term-rounded entropy
    discipline, normalized by min-entropy. One corpus shuffle (the
    cell agg), marginals over the tiny cell table."""
    from pybabe_spark.operators.sketch import mutual_information

    orders = read_table(spark, sf_dir, "orders")
    return mutual_information(orders, "o_orderpriority", "o_orderstatus")


def _cramers_sql():
    from pybabe_spark.operators.sketch import cramers_v_sql

    return cramers_v_sql("orders", "o_orderpriority", "o_orderstatus")


@register("cramers_v_orders", _cramers_sql())
def q_cramers_v(spark, sf_dir):
    """Cramér's V between order priority and status
    (operators/sketch.py::cramers_v): the [0,1] categorical effect
    size on top of the chi2_independence cell machinery — at scale
    everything is 'significant', V says whether it matters. Same
    integral-ppm χ², one extra fixed-shape square root."""
    from pybabe_spark.operators.sketch import cramers_v

    orders = read_table(spark, sf_dir, "orders")
    return cramers_v(orders, "o_orderpriority", "o_orderstatus")


def _prop_ci_sql():
    from pybabe_spark.operators.sketch import proportion_ci_sql

    frame = """
        SELECT o_orderpriority,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS done
        FROM orders
    """
    return proportion_ci_sql(frame, "done", by="o_orderpriority")


@register("proportion_ci_orders", _prop_ci_sql())
def q_proportion_ci(spark, sf_dir):
    """Wilson score interval for the finished-order rate per priority
    (operators/sketch.py::proportion_ci): one conditional hash agg +
    fixed-shape IEEE interval shared TEXTUALLY with the oracle — the
    error bar ab_test's point estimates lack."""
    from pybabe_spark.operators.sketch import proportion_ci

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("done"),
    )
    return proportion_ci(orders, "done", by="o_orderpriority")


def _kappa_sql():
    from pybabe_spark.operators.sketch import cohens_kappa_sql

    frame = """(SELECT lang AS gold,
                       CASE WHEN doc_id % 10 < 7 THEN lang
                            ELSE 'en' END AS pred
                FROM documents)"""
    return cohens_kappa_sql(frame, "gold", "pred")


@register("cohens_kappa_docs", _kappa_sql())
def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between the gold lang label and a deterministic
    70%-faithful pseudo-prediction (operators/sketch.py::cohens_kappa)
    — chance-corrected agreement, the model-vs-gold readout a raw
    accuracy number overstates on skewed label sets. Exact-integer
    numerator/denominator, one IEEE division rounded once."""
    from pybabe_spark.operators.sketch import cohens_kappa

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("lang").alias("gold"),
        F.when(F.col("doc_id") % 10 < 7, F.col("lang"))
        .otherwise(F.lit("en"))
        .alias("pred"),
    )
    return cohens_kappa(docs, "gold", "pred")


_SDRIFT_B_SQL = """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 5 = 0 THEN NULL
                ELSE o_orderstatus END AS o_orderstatus,
           CAST(o_totalprice AS VARCHAR) AS o_totalprice,
           o_orderdate,
           CAST(o_custkey % 5 AS BIGINT) AS o_priority_rank
    FROM orders
"""

#: (column, status, type_a, type_b, in_a, in_b) — the metadata half of
#: the schema_drift key, written down once and shared by the oracle
_SDRIFT_META = [
    ("o_custkey", "same", "bigint", "bigint", True, True),
    # parquet TIMESTAMP without the UTC flag infers as TIMESTAMP_NTZ
    ("o_orderdate", "same", "timestamp_ntz", "timestamp_ntz", True, True),
    ("o_orderkey", "same", "bigint", "bigint", True, True),
    ("o_orderpriority", "removed", "string", None, True, False),
    ("o_orderstatus", "same", "string", "string", True, True),
    ("o_priority_rank", "added", None, "bigint", False, True),
    ("o_totalprice", "type_changed", "double", "string", True, True),
]


def _schema_drift_sql():
    def q(v):
        return "NULL" if v is None else f"'{v}'"

    arms = []
    for col, status, ta, tb, in_a, in_b in _SDRIFT_META:
        pa = (
            f"(SELECT CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)"
            f" * 1000000 // COUNT(*) AS BIGINT) FROM orders)"
            if in_a
            else "NULL"
        )
        pb = (
            f"(SELECT CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)"
            f" * 1000000 // COUNT(*) AS BIGINT) FROM ({_SDRIFT_B_SQL}))"
            if in_b
            else "NULL"
        )
        arms.append(
            f"SELECT '{col}' AS \"column\", '{status}' AS status,"
            f" {q(ta)} AS type_a, {q(tb)} AS type_b,"
            f" CAST({pa} AS BIGINT) AS null_ppm_a,"
            f" CAST({pb} AS BIGINT) AS null_ppm_b"
        )
    return " UNION ALL ".join(arms)


@register("schema_drift_orders", _schema_drift_sql())
def q_schema_drift(spark, sf_dir):
    """Schema + null-rate drift between two snapshots
    (operators/validate.py::schema_drift): orders vs a mutated
    projection (one column removed, one added, one type-widened, one
    nulled on a fifth of rows). Schema half from driver metadata; null
    rates from ONE per-side aggregation unpivoted via stack — the
    upstream-change guard table_diff's row hashes can't see."""
    from pybabe_spark.operators.validate import schema_drift

    a = read_table(spark, sf_dir, "orders")
    b = a.select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.col("o_totalprice").cast("string").alias("o_totalprice"),
        "o_orderdate",
        (F.col("o_custkey") % 5).cast("long").alias("o_priority_rank"),
    )
    return schema_drift(a, b)


def _mcnemar_sql():
    from pybabe_spark.operators.sketch import mcnemar_sql

    frame = """(SELECT lang AS gold,
                       CASE WHEN doc_id % 10 < 7 THEN lang
                            ELSE 'en' END AS pred_a,
                       CASE WHEN doc_id % 7 < 5 THEN lang
                            ELSE 'de' END AS pred_b
                FROM documents)"""
    return mcnemar_sql(frame, "gold", "pred_a", "pred_b",
                       chi2_crit=3.841459)


@register("mcnemar_docs", _mcnemar_sql())
def q_mcnemar(spark, sf_dir):
    """McNemar paired-classifier test between two deterministic
    pseudo-predictions of the lang label (operators/sketch.py::
    mcnemar): only the discordant cells carry information —
    continuity-corrected χ² from one conditional hash agg, the
    decision an exact 10⁶-scaled integer comparison against χ²(1),
    no IEEE in it."""
    from pybabe_spark.operators.sketch import mcnemar

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("lang").alias("gold"),
        F.when(F.col("doc_id") % 10 < 7, F.col("lang"))
        .otherwise(F.lit("en"))
        .alias("pred_a"),
        F.when(F.col("doc_id") % 7 < 5, F.col("lang"))
        .otherwise(F.lit("de"))
        .alias("pred_b"),
    )
    return mcnemar(docs, "gold", "pred_a", "pred_b", chi2_crit=3.841459)


def _dw_sql():
    from pybabe_spark.operators.timeseries import durbin_watson_sql

    return durbin_watson_sql("events", "user_id", "ts", "value")


@register("durbin_watson_events", _dw_sql())
def q_durbin_watson(spark, sf_dir):
    """Per-user Durbin–Watson statistic on the event-value series
    (operators/timeseries.py::durbin_watson): first-order
    autocorrelation as an exact integer rational — successive
    differences cancel the mean, so DW = n·Σdiff²/(nQ−S²) over
    DECIMAL(38,0) cents moments, floored integral ppm — the acf plan
    with a single lag."""
    from pybabe_spark.operators.timeseries import durbin_watson

    ev = read_table(spark, sf_dir, "events")
    return durbin_watson(ev, "user_id", "ts", "value")


def _benford_sql():
    from pybabe_spark.operators.validate import benford_audit_sql

    return benford_audit_sql("orders", "o_totalprice")


@register("benford_orders_price", _benford_sql())
def q_benford(spark, sf_dir):
    """Benford first-digit audit of order prices
    (operators/validate.py::benford_audit): 9-digit distribution vs
    log10(1+1/d) expectations + a deterministic χ² flag — the
    fraud/synthetic-data smell test as one conditional aggregation
    (uniform-ish TPC-H prices rightly flag as non-Benford)."""
    from pybabe_spark.operators.validate import benford_audit

    orders = read_table(spark, sf_dir, "orders")
    return benford_audit(orders, "o_totalprice")


def _calendar_sql():
    from pybabe_spark.operators.timeseries import calendar_sql

    return calendar_sql("2023-12-25", "2024-02-29")


@register("calendar_dimension", _calendar_sql())
def q_calendar(spark, sf_dir):
    """Date-dimension spine for the testdata window incl. a leap day
    and an ISO-week year boundary (operators/timeseries.py::calendar):
    sequence() explode, pure codegen, ISO week/dow pinned identically
    across engines."""
    from pybabe_spark.operators.timeseries import calendar

    return calendar(spark, "2023-12-25", "2024-02-29")


def _pseudo_sql():
    from pybabe_spark.functions.enrich import pseudonymize_sql

    c = pseudonymize_sql("c_name", "bench-salt")
    return (
        f"SELECT c_custkey, {c} AS c_name, c_nationkey"
        " FROM customer"
    )


@register("pseudonymize_customers", _pseudo_sql())
def q_pseudonymize(spark, sf_dir):
    """Deterministic key-column pseudonymization
    (functions/enrich.py::pseudonymize): salted-md5 tokens preserve
    joinability while unlinking identity — the GDPR-pipeline step;
    pure codegen projection, oracle replays the identical hash."""
    from pybabe_spark.functions.enrich import pseudonymize

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    return pseudonymize(cust, "c_name", "bench-salt")


# ---------------------------------------------------------------------------
# Conversion attribution (operators/attribution.py)
# ---------------------------------------------------------------------------

_ATTR_CONV = "event_type = 'purchase'"
_ATTR_TOUCH = "event_type IN ('click', 'view', 'signup')"


def _attr_sql(model: str) -> str:
    from pybabe_spark.operators.attribution import attribution_sql

    return attribution_sql(
        conversion_where=_ATTR_CONV,
        touch_where=_ATTR_TOUCH,
        channel_expr="event_type",
        model=model,
        lookback_days=7,
        value_expr="value",
    )


def _attr_query(spark, sf_dir, model: str):
    from pybabe_spark.operators.attribution import attribute_conversions

    ev = read_table(spark, sf_dir, "events")
    return attribute_conversions(
        ev,
        conversion=F.col("event_type") == "purchase",
        touch=F.col("event_type").isin("click", "view", "signup"),
        channel_col="event_type",
        model=model,
        lookback_days=7,
        value_col="value",
    )


@register("attribution_last_touch_events", _attr_sql("last"))
def q_attribution_last_touch(spark, sf_dir):
    """Last-touch attribution (operators/attribution.py): purchases
    credited to the most recent click/view/signup inside a 7-day
    lookback; purchases with no touch land in '(none)'. One user-keyed
    equi-join + per-conversion rank window + channel rollup — the
    interval-join scale shape; credits and attributed value are exact
    micro-integer arithmetic on both engines."""
    return _attr_query(spark, sf_dir, "last")


@register("attribution_linear_events", _attr_sql("linear"))
def q_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution: each purchase's credit is split
    ``1e6 // n_touches`` micro-units per touch (documented floor
    truncation, identical on both engines), value proportionally in
    DECIMAL(38,0)/HUGEINT — overflow-proof at any corpus size."""
    return _attr_query(spark, sf_dir, "linear")


def _grubbs_sql() -> str:
    from pybabe_spark.operators.sketch import grubbs_test_sql

    return grubbs_test_sql(
        "orders", "o_totalprice", by="o_orderpriority", g_crit=4.5
    )


@register("grubbs_orders", _grubbs_sql())
def q_grubbs(spark, sf_dir):
    """Grubbs' single-outlier test on order value per priority
    (operators/sketch.py::grubbs_test): is each priority's most
    extreme order a statistical outlier (G vs ≈4.5, the two-sided
    large-n critical) — the one-number defensible verdict next to
    mad_anomalies' row flags. ONE aggregation: max|x−mean| =
    max(max−mean, mean−min), exact decimal moments, fixed-shape G."""
    from pybabe_spark.operators.sketch import grubbs_test

    orders = read_table(spark, sf_dir, "orders")
    return grubbs_test(
        orders, "o_totalprice", by="o_orderpriority", g_crit=4.5
    )


def _runs_test_sql() -> str:
    from pybabe_spark.operators.timeseries import runs_test_sql

    return runs_test_sql("events", "event_type", "ts", "value")


@register("runs_test_events", _runs_test_sql())
def q_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test per event type over hourly value sums
    (operators/timeseries.py::runs_test): does the above/below-mean
    pattern cluster (regime persistence) or alternate — the
    model-free randomness check beside acf_user_values and
    durbin_watson_events. Exact integer mean-dichotomy (v·n > Σv, no
    IEEE mean), lag-window run boundaries on the bucket grain,
    fixed-shape z."""
    from pybabe_spark.operators.timeseries import runs_test

    ev = read_table(spark, sf_dir, "events")
    return runs_test(ev, "event_type", "ts", "value")


def _bollinger_sql() -> str:
    from pybabe_spark.operators.timeseries import bollinger_bands_sql

    return bollinger_bands_sql(
        "events", "event_type", "ts", "value", window=24, k=2.0
    )


@register("bollinger_events", _bollinger_sql())
def q_bollinger(spark, sf_dir):
    """Bollinger bands per event type over hourly value sums
    (operators/timeseries.py::bollinger_bands): the trailing-24h
    volatility envelope — ewma_events flags level anomalies, this
    prices how stretched the current hour is relative to its own
    recent spread. Exact cents bucket sums, RANGE frame on the
    bucket index, exact variance numerator, full-window-only bands."""
    from pybabe_spark.operators.timeseries import bollinger_bands

    ev = read_table(spark, sf_dir, "events")
    return bollinger_bands(
        ev, "event_type", "ts", "value", window=24, k=2.0
    )


def _ewma_sql() -> str:
    from pybabe_spark.operators.timeseries import ewma_sql

    return ewma_sql(
        "events",
        key_col="user_id",
        value_col="value",
        ts_col="ts",
        id_col="event_id",
        depth=4,
        select="user_id, event_id, value",
    )


@register("ewma_events", _ewma_sql())
def q_ewma_events(spark, sf_dir):
    """Per-user EWMA smoothing (operators/timeseries.py::ewma_smooth):
    trailing 4-term half-life average of each user's event values —
    exact bigint-cents weight chain inside one key-partitioned window,
    a single IEEE division at the end."""
    from pybabe_spark.operators.timeseries import ewma_smooth

    ev = read_table(spark, sf_dir, "events")
    return ewma_smooth(
        ev, key_col="user_id", value_col="value", ts_col="ts",
        id_col="event_id", depth=4,
    ).select("user_id", "event_id", "value", "ewma")


def _mad_sql() -> str:
    from pybabe_spark.operators.anomaly import mad_anomalies_sql

    return mad_anomalies_sql(
        "events", key_col="event_type", value_col="value", ts_col="ts",
        threshold=3.5,
    )


@register("mad_anomalies_events", _mad_sql())
def q_mad_anomalies(spark, sf_dir):
    """Robust outliers by modified z-score (operators/anomaly.py::
    mad_anomalies): per-event-type median/MAD — rounded exact
    percentiles, exact decimal deviations, integer-scaled decision —
    the outlier-insensitive twin of zscore_anomalies_events."""
    from pybabe_spark.operators.anomaly import mad_anomalies

    ev = read_table(spark, sf_dir, "events")
    return mad_anomalies(
        ev, key_col="event_type", value_col="value", ts_col="ts",
        threshold=3.5,
    )


@register(
    "cube_orders_report",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
               AS grouping_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_orders(spark, sf_dir):
    """OLAP CUBE subtotal grid (operators/group.py::cube_agg): counts
    and exact-decimal revenue for every (status, priority) subset,
    subtotal rows disambiguated by grouping_id. One Expand + one hash
    aggregation — a single shuffle for all 4 grouping sets."""
    from pybabe_spark.operators.group import cube_agg

    orders = read_table(spark, sf_dir, "orders")
    return cube_agg(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        {
            "n_orders": F.count(F.lit(1)),
            "total_price": F.sum(
                F.col("o_totalprice").cast("decimal(18,2)")
            ).cast("double"),
        },
    )


@register(
    "fk_check_orders_customer",
    """
    WITH vals AS (SELECT DISTINCT o_custkey AS v FROM orders
                  WHERE o_custkey IS NOT NULL),
    orphans AS (
      SELECT v FROM vals
      WHERE v NOT IN (SELECT DISTINCT c_custkey FROM customer
                      WHERE c_custkey IS NOT NULL)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
           (SELECT CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT)
            FROM orders) AS n_null_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM vals) AS n_values,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orphans)
               AS n_orphan_values,
           (SELECT COUNT(*) FROM orphans) = 0 AS full_coverage
    """,
)
def q_fk_check(spark, sf_dir):
    """Referential-integrity profile (operators/infra.py::
    foreign_key_check): orders.o_custkey against customer.c_custkey —
    distinct-value anti-join, value-space-sized comparison; the
    profiling companion to primary_key_detect."""
    from pybabe_spark.operators.infra import foreign_key_check

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return foreign_key_check(orders, "o_custkey", cust, "c_custkey")


def _twap_sql() -> str:
    from pybabe_spark.operators.timeseries import time_weighted_avg_sql

    return time_weighted_avg_sql(
        "events", key_col="user_id", ts_col="ts", value_col="value",
        id_col="event_id",
    )


@register("twap_events", _twap_sql())
def q_twap_events(spark, sf_dir):
    """Per-user time-weighted average (operators/timeseries.py::
    time_weighted_avg): LOCF integral over the irregular event series —
    exact micros × cents products in DECIMAL(38,0)/HUGEINT, one lead()
    window + one hash agg."""
    from pybabe_spark.operators.timeseries import time_weighted_avg

    ev = read_table(spark, sf_dir, "events")
    return time_weighted_avg(
        ev, key_col="user_id", ts_col="ts", value_col="value",
        id_col="event_id",
    )


@register("attribution_u_shaped_events", _attr_sql("u_shaped"))
def q_attribution_u_shaped(spark, sf_dir):
    """Position-based (U-shaped) attribution: 40% first / 40% last /
    20% split across middle touches, exact micro-integer credits —
    same interval-join scale shape as the last-touch model."""
    return _attr_query(spark, sf_dir, "u_shaped")


@register("attribution_time_decay_events", _attr_sql("time_decay"))
def q_attribution_time_decay(spark, sf_dir):
    """Time-decay attribution: exact one-day-half-life powers of two
    over whole-day touch ages, credits 1e6·w // Σw — recency weighting
    with zero transcendental arithmetic."""
    return _attr_query(spark, sf_dir, "time_decay")


def _cusum_sql() -> str:
    from pybabe_spark.operators.anomaly import cusum_alarms_sql

    return cusum_alarms_sql(
        "events", key_col="user_id", value_col="value", ts_col="ts",
        target=50.0, slack=2.0, threshold=500.0,
    )


@register("cusum_alarms_events", _cusum_sql())
def q_cusum_alarms(spark, sf_dir):
    """Per-user CUSUM drift detection (operators/anomaly.py::
    cusum_alarms): the textbook max(0, s+x-mu-k) recursion rewritten as
    running-sum-minus-running-min — two layered cumulative windows,
    exact bigint cents, first-alarm timestamp and direction per key."""
    from pybabe_spark.operators.anomaly import cusum_alarms

    ev = read_table(spark, sf_dir, "events")
    return cusum_alarms(
        ev, key_col="user_id", value_col="value", ts_col="ts",
        target=50.0, slack=2.0, threshold=500.0,
    )


def _psi_sql() -> str:
    from pybabe_spark.operators.validate import population_stability_sql

    return population_stability_sql(
        "(SELECT * FROM orders WHERE o_orderstatus = 'O')",
        "(SELECT * FROM orders WHERE o_orderstatus = 'F')",
        "o_totalprice",
        bins=10,
    )


@register("psi_orders_price", _psi_sql())
def q_psi_orders(spark, sf_dir):
    """Population Stability Index (operators/validate.py::
    population_stability): open vs fulfilled orders' price
    distributions over the reference's own decile edges —
    Laplace-smoothed shares, decimal-rounded ln terms, exact decimal
    total; the production input-drift monitor."""
    from pybabe_spark.operators.validate import population_stability

    orders = read_table(spark, sf_dir, "orders")
    return population_stability(
        orders.filter(F.col("o_orderstatus") == "O"),
        orders.filter(F.col("o_orderstatus") == "F"),
        "o_totalprice",
        bins=10,
    )


def _km_sql() -> str:
    from pybabe_spark.operators.timeseries import km_survival_sql

    subjects = """(
      SELECT arg_min(event_type, ts) AS cohort,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       IS NOT NULL
                  THEN epoch_us(MIN(CASE WHEN event_type = 'purchase'
                                         THEN ts END)) - epoch_us(MIN(ts))
                  ELSE epoch_us(MAX(ts)) - epoch_us(MIN(ts))
             END AS duration,
             CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                  IS NOT NULL AS INT) AS event
      FROM events GROUP BY user_id
    )"""
    return km_survival_sql(subjects, "duration", "event",
                           group_col="cohort")


def _km_subjects(spark, sf_dir):
    """Shared time-to-purchase subject frame for the survival keys:
    per user (cohort = first event type, duration, event) with
    never-purchasers right-censored at their last event."""
    ev = read_table(spark, sf_dir, "events")
    tp = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", "ts").alias("cohort"),
        F.min("ts").alias("__t0"),
        tp.alias("__tp"),
        F.max("ts").alias("__tl"),
    ).select(
        "cohort",
        F.when(
            F.col("__tp").isNotNull(),
            F.unix_micros("__tp") - F.unix_micros("__t0"),
        )
        .otherwise(F.unix_micros("__tl") - F.unix_micros("__t0"))
        .alias("duration"),
        F.col("__tp").isNotNull().cast("int").alias("event"),
    )


@register("km_survival_events", _km_sql())
def q_km_survival(spark, sf_dir):
    """Kaplan-Meier time-to-purchase curves (operators/timeseries.py::
    km_survival), cohorted by each user's first event type; users who
    never purchase are right-censored at their last event. Log-space
    decimal-rounded factors, exact cumulative sums, in-plan extinction
    rule — the churn/conversion-latency estimator."""
    from pybabe_spark.operators.timeseries import km_survival

    subjects = _km_subjects(spark, sf_dir)
    return km_survival(subjects, "duration", "event", group_col="cohort")


_RMST_TAU = 259_200_000_000  # 3 days in microseconds


def _rmst_sql() -> str:
    from pybabe_spark.operators.timeseries import rmst_sql

    subjects = """(
      SELECT arg_min(event_type, ts) AS cohort,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       IS NOT NULL
                  THEN epoch_us(MIN(CASE WHEN event_type = 'purchase'
                                         THEN ts END)) - epoch_us(MIN(ts))
                  ELSE epoch_us(MAX(ts)) - epoch_us(MIN(ts))
             END AS duration,
             CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                  IS NOT NULL AS INT) AS event
      FROM events GROUP BY user_id
    )"""
    inner = rmst_sql(subjects, "duration", "event", _RMST_TAU,
                     group_col="cohort")
    # Finish to exact integral micro-units: at µs durations the rmst
    # needs ~18 significant digits, past double precision, so a double
    # finish is one-ulp engine-divergent by construction. BIGINT of
    # rmst×1e6 is exact and portable through any canonicalizer.
    return f"""
    SELECT cohort, tau, n_steps,
           CAST(CAST(rmst AS DECIMAL(24,6))
                * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT) AS rmst_micros
    FROM ({inner})
    """


@register("rmst_events", _rmst_sql())
def q_rmst(spark, sf_dir):
    """Restricted mean time-to-purchase within the first 3 days per
    cohort (operators/timeseries.py::rmst): the KM curve's step
    integral ∫₀^τ S(t)dt — per-step S·Δt as an EXACT DECIMAL(7,6) ×
    DECIMAL(20,0) product (no double anywhere: the values exceed
    double's 15.95 significant digits), decimal-summed, first segment
    exact integer — the effect-size scalar the log-rank p-value
    lacks. Emitted as exact BIGINT micro-units (rmst×1e6).
    km_survival's plan plus one lead() and one group agg."""
    from pybabe_spark.operators.timeseries import rmst

    subjects = _km_subjects(spark, sf_dir)
    out = rmst(subjects, "duration", "event", _RMST_TAU,
               group_col="cohort")
    return out.select(
        "cohort", "tau", "n_steps",
        (
            F.col("rmst").cast("decimal(24,6)")
            * F.lit(1000000).cast("decimal(7,0)")
        ).cast("bigint").alias("rmst_micros"),
    )


def _km_quant_sql() -> str:
    from pybabe_spark.operators.timeseries import km_quantiles_sql

    subjects = """(
      SELECT arg_min(event_type, ts) AS cohort,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       IS NOT NULL
                  THEN epoch_us(MIN(CASE WHEN event_type = 'purchase'
                                         THEN ts END)) - epoch_us(MIN(ts))
                  ELSE epoch_us(MAX(ts)) - epoch_us(MIN(ts))
             END AS duration,
             CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                  IS NOT NULL AS INT) AS event
      FROM events GROUP BY user_id
    )"""
    return km_quantiles_sql(
        subjects, "duration", "event", probs=(0.75, 0.5, 0.25),
        group_col="cohort",
    )


@register("km_quantiles_events", _km_quant_sql())
def q_km_quantiles(spark, sf_dir):
    """KM quantile crossing times per cohort (operators/timeseries.py::
    km_quantiles): when has 25/50/75% of the cohort purchased — the
    censoring-honest median a naive duration median gets wrong, NULL
    where the curve never reaches the level. Composes km_survival
    verbatim; one min_by hash agg per level over the distinct-duration
    curve."""
    from pybabe_spark.operators.timeseries import km_quantiles

    subjects = _km_subjects(spark, sf_dir)
    return km_quantiles(
        subjects, "duration", "event", probs=(0.75, 0.5, 0.25),
        group_col="cohort",
    )


def _na_sql() -> str:
    from pybabe_spark.operators.timeseries import nelson_aalen_sql

    subjects = """(
      SELECT arg_min(event_type, ts) AS cohort,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       IS NOT NULL
                  THEN epoch_us(MIN(CASE WHEN event_type = 'purchase'
                                         THEN ts END)) - epoch_us(MIN(ts))
                  ELSE epoch_us(MAX(ts)) - epoch_us(MIN(ts))
             END AS duration,
             CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                  IS NOT NULL AS INT) AS event
      FROM events GROUP BY user_id
    )"""
    return nelson_aalen_sql(subjects, "duration", "event",
                            group_col="cohort")


@register("nelson_aalen_events", _na_sql())
def q_nelson_aalen(spark, sf_dir):
    """Nelson–Aalen cumulative conversion hazard on the KM subject
    frame (operators/timeseries.py::nelson_aalen): the additive
    estimator — step hazards d/n as once-rounded DECIMAL(18,6)
    divisions of exact risk-table integers, exact decimal cumsum,
    exp(−H) survival alongside. Same risk table, hash agg, and
    distinct-duration windows as km_survival_events."""
    from pybabe_spark.operators.timeseries import nelson_aalen

    subjects = _km_subjects(spark, sf_dir)
    return nelson_aalen(subjects, "duration", "event", group_col="cohort")


_LR_SUBJECTS_SQL = """
    SELECT cohort, duration, event FROM (
        SELECT min_by(event_type, ts) AS cohort,
               CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                                  THEN ts END) IS NOT NULL
                    THEN epoch_us(MIN(CASE WHEN event_type = 'purchase'
                                           THEN ts END))
                         - epoch_us(MIN(ts))
                    ELSE epoch_us(MAX(ts)) - epoch_us(MIN(ts))
               END AS duration,
               CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                    IS NOT NULL AS INT) AS event
        FROM events GROUP BY user_id
    )
"""


def _logrank_sql():
    from pybabe_spark.operators.timeseries import logrank_test_sql

    return logrank_test_sql(
        _LR_SUBJECTS_SQL, "duration", "event", "cohort", "view", "click"
    )


@register("logrank_events", _logrank_sql())
def q_logrank(spark, sf_dir):
    """Two-sample log-rank test on the KM cohorts
    (operators/timeseries.py::logrank_test): do users whose first
    event was a 'view' convert to purchase on a different clock than
    'click'-first users? Same subject derivation as
    ``km_survival_events`` (never-purchasers right-censored at last
    activity); the inferential companion of the KM curves. At-risk
    counts ride the de-globalized cell machinery; per-event-time
    expectation/variance terms round once then decimal-sum."""
    from pybabe_spark.operators.timeseries import logrank_test

    ev = read_table(spark, sf_dir, "events")
    tp = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    subjects = ev.groupBy("user_id").agg(
        F.min_by("event_type", "ts").alias("cohort"),
        F.min("ts").alias("__t0"),
        tp.alias("__tp"),
        F.max("ts").alias("__tl"),
    ).select(
        "cohort",
        F.when(
            F.col("__tp").isNotNull(),
            F.unix_micros("__tp") - F.unix_micros("__t0"),
        )
        .otherwise(F.unix_micros("__tl") - F.unix_micros("__t0"))
        .alias("duration"),
        F.col("__tp").isNotNull().cast("int").alias("event"),
    )
    return logrank_test(
        subjects, "duration", "event", "cohort", "view", "click"
    )


def _gini_sql() -> str:
    from pybabe_spark.operators.skew import gini_sql

    return gini_sql("orders", "o_orderpriority", "o_totalprice")


@register("gini_orders_priority", _gini_sql())
def q_gini_orders(spark, sf_dir):
    """Per-priority Gini concentration of order value (operators/
    skew.py::gini): exact rank-sum identity in DECIMAL(38,0)/HUGEINT
    cents, integral ppm division — the single-number companion to
    pareto_report."""
    from pybabe_spark.operators.skew import gini

    orders = read_table(spark, sf_dir, "orders")
    return gini(orders, "o_orderpriority", "o_totalprice")


def _trustrank_sql() -> str:
    from pybabe_spark.operators.graph import pagerank_sql

    edges = """
      SELECT src, dst FROM (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      )
      UNION ALL
      SELECT dst AS src, src AS dst FROM (
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      )
    """
    seeds = """
      SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
      FROM supplier WHERE s_suppkey % 10 = 0
    """
    return pagerank_sql(edges, iters=3, damping=0.85, seeds_cte=seeds)


@register("trustrank_trade_network", _trustrank_sql())
def q_trustrank(spark, sf_dir):
    """Personalized PageRank / TrustRank (operators/graph.py::pagerank
    with seeds): teleport mass lands only on a trusted 1/10th of
    suppliers, so rank measures trust flow through the trade graph —
    the crawl-quality propagation pattern (seed trusted domains, rank
    everything by proximity). Same exact integer iteration, one extra
    seed-flag equi-join; the oracle replays it bit-for-bit."""
    from pybabe_spark.operators.graph import pagerank

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    pairs = (
        orders.join(li, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = supp.filter(F.col("s_suppkey") % 10 == 0).select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node")
    )
    return pagerank(edges, iters=3, damping=0.85, seeds=seeds)


def _cdc_sql():
    from pybabe_spark.operators.cdc import apply_cdc_sql

    base = """
        SELECT user_id, event_type, value FROM (
            SELECT user_id, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-24'
        ) WHERE rn = 1
    """
    changes = """
        SELECT user_id, ts, event_type, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        FROM events WHERE ts >= TIMESTAMP '2024-01-24'
    """
    return apply_cdc_sql(
        base, changes, ["user_id"], ["ts"], ["event_type", "value"]
    )


@register("cdc_apply_events", _cdc_sql())
def q_cdc_apply(spark, sf_dir):
    """CDC apply-changes (operators/cdc.py::apply_cdc): a per-user
    latest-state snapshot built from events before 2024-01-24, then the
    remaining week replayed as a Debezium-style feed — 'error' events
    become DELETEs, everything else upserts — with last-wins per user
    by timestamp. The base is never windowed: one row_number over the
    FEED, one anti-join, one union. ``value`` is a pass-through double
    (same parquet bits both engines)."""
    from pyspark.sql import Window

    from pybabe_spark.operators.cdc import apply_cdc

    ev = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
    base = (
        ev.filter(F.col("ts") < cutoff)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type", "value")
    )
    changes = ev.filter(F.col("ts") >= cutoff).select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return apply_cdc(base, changes, "user_id", "ts")


def _cdc_diff_sql():
    from pybabe_spark.operators.cdc import apply_cdc_sql
    from pybabe_spark.operators.merge import table_diff_sql

    base = """
        SELECT user_id, event_type, value FROM (
            SELECT user_id, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-24'
        ) WHERE rn = 1
    """
    changes = """
        SELECT user_id, ts, event_type, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        FROM events WHERE ts >= TIMESTAMP '2024-01-24'
    """
    applied = apply_cdc_sql(
        base, changes, ["user_id"], ["ts"], ["event_type", "value"]
    )
    diff = table_diff_sql(
        f"({base})", f"({applied})", ["user_id"], ["event_type", "value"]
    )
    return (
        f"SELECT change, CAST(COUNT(*) AS BIGINT) AS n"
        f" FROM ({diff}) GROUP BY change"
    )


@register("cdc_diff_report_events", _cdc_diff_sql())
def q_cdc_diff_report(spark, sf_dir):
    """Lakehouse batch-audit composition (operators/cdc.apply_cdc →
    operators/merge.table_diff): replay the week's change feed onto the
    snapshot, then diff new-vs-old and report how many keys were
    added / removed / changed — the post-load reconciliation a daily
    CDC pipeline emits. Certifies the two operators COMPOSE: the diff's
    full-outer join consumes apply_cdc's union output directly, and the
    oracle nests both operators' own SQL builders unchanged. Plan:
    apply_cdc's feed-window + anti-join + union, one full-outer key
    join, one tiny hash agg — the base is never windowed."""
    from pyspark.sql import Window

    from pybabe_spark.operators.cdc import apply_cdc
    from pybabe_spark.operators.merge import table_diff

    ev = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
    base = (
        ev.filter(F.col("ts") < cutoff)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type", "value")
    )
    changes = ev.filter(F.col("ts") >= cutoff).select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    new = apply_cdc(base, changes, "user_id", "ts")
    diff = table_diff(base, new, "user_id", ["event_type", "value"])
    return diff.groupBy("change").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def _ols_sql():
    from pybabe_spark.operators.regression import ols_sql

    return ols_sql(
        "lineitem", "l_quantity", "l_extendedprice", ["l_returnflag"]
    )


@register("ols_lineitem_price_qty", _ols_sql())
def q_ols(spark, sf_dir):
    """Grouped OLS (operators/regression.py::ols): per return flag,
    fit extendedprice = slope·quantity + intercept with exact bigint-
    cents sufficient statistics in DECIMAL(38,0) and sign-split
    integral ppm division; r² is the DECIMAL(18,6)-rounded IEEE ratio
    of the exact statistics. ONE map-side-combinable hash aggregation —
    the plan shape a 100 TB trend fit needs (no window, no join, no
    second pass)."""
    from pybabe_spark.operators.regression import ols

    li = read_table(spark, sf_dir, "lineitem")
    return ols(li, "l_quantity", "l_extendedprice", ["l_returnflag"])


def _zorder_sql():
    from pybabe_spark.operators.layout import zorder_stats_sql

    return zorder_stats_sql(
        "orders", ["o_custkey", "o_totalprice"], bits=16, num_files=16
    )


@register("zorder_stats_orders", _zorder_sql())
def q_zorder(spark, sf_dir):
    """Z-order layout statistics (operators/layout.py::zorder_stats):
    orders keyed on the (custkey, totalprice) Z-curve — equal-width
    integral 16-bit bucketization with lazily-attached min/max, pure
    bit-shift interleave — then assigned to 16 fixed-width key ranges
    ('files') reporting the per-file min/max a reader would prune on.
    Everything integer-exact, zero shuffles before the final hash
    agg."""
    from pybabe_spark.operators.layout import zorder_stats

    orders = read_table(spark, sf_dir, "orders")
    return zorder_stats(
        orders, ["o_custkey", "o_totalprice"], bits=16, num_files=16
    )


# md5-derived deterministic 10000×10000 plane shared by the spatial keys
_SPATIAL_CUST_SQL = """
        SELECT c_custkey,
               CAST(CAST(('0x' || substr(md5('cx' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS DOUBLE) AS cx,
               CAST(CAST(('0x' || substr(md5('cy' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS DOUBLE) AS cy
        FROM customer
    """
_SPATIAL_SUPP_SQL = """
        SELECT s_suppkey,
               CAST(CAST(('0x' || substr(md5('sx' || CAST(s_suppkey AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS DOUBLE) AS sx,
               CAST(CAST(('0x' || substr(md5('sy' || CAST(s_suppkey AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS DOUBLE) AS sy
        FROM supplier
    """


def _spatial_coord(tag, key):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag), F.col(key).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 10000
    )


def _spatial_frames(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        _spatial_coord("cx", "c_custkey").cast("double").alias("cx"),
        _spatial_coord("cy", "c_custkey").cast("double").alias("cy"),
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _spatial_coord("sx", "s_suppkey").cast("double").alias("sx"),
        _spatial_coord("sy", "s_suppkey").cast("double").alias("sy"),
    )
    return cust, supp


def _spatial_sql():
    from pybabe_spark.operators.spatial import radius_join_sql

    left = _SPATIAL_CUST_SQL
    right = _SPATIAL_SUPP_SQL
    inner = radius_join_sql(
        left, right, 150.0,
        ["c_custkey"], ["s_suppkey"],
        left_xy=("cx", "cy"), right_xy=("sx", "sy"),
    )
    return (
        f"SELECT c_custkey, s_suppkey, CAST(dist2 AS BIGINT) AS dist2 "
        f"FROM ({inner})"
    )


@register("spatial_radius_customers_suppliers", _spatial_sql())
def q_spatial(spark, sf_dir):
    """Grid-bucketed spatial radius join (operators/spatial.py::
    radius_join): customers and suppliers placed on a deterministic
    md5-derived 10000×10000 plane, all pairs within distance 150 —
    cell size = radius, the small supplier side replicated to its 3×3
    neighborhood, one equi-join on cell id, exact HUGEINT squared-
    distance confirm. The oracle is the ALL-PAIRS definition; the
    engine never compares all pairs."""
    from pybabe_spark.operators.spatial import radius_join

    cust, supp = _spatial_frames(spark, sf_dir)
    pairs = radius_join(
        cust, supp, 150.0, left_xy=("cx", "cy"), right_xy=("sx", "sy")
    )
    return pairs.select(
        "c_custkey", "s_suppkey", F.col("dist2").cast("bigint").alias("dist2")
    )


def _spatial_nearest_sql():
    from pybabe_spark.operators.spatial import nearest_join_sql

    inner = nearest_join_sql(
        _SPATIAL_CUST_SQL, _SPATIAL_SUPP_SQL, 300.0,
        right_id="s_suppkey", left_key="c_custkey",
        left_cols=["c_custkey"], right_cols=["s_suppkey"],
        left_xy=("cx", "cy"), right_xy=("sx", "sy"),
    )
    return (
        f"SELECT c_custkey, s_suppkey, CAST(dist2 AS BIGINT) AS dist2 "
        f"FROM ({inner})"
    )


@register("spatial_nearest_supplier", _spatial_nearest_sql())
def q_spatial_nearest(spark, sf_dir):
    """Nearest-neighbor-within-radius join (operators/spatial.py::
    nearest_join): each customer's single closest supplier within
    distance 300 on the shared md5 plane — the grid-bucketed radius
    join (3×3 neighborhood equi-join, exact HUGEINT squared distance)
    collapsed by ONE min_by hash agg on the customer key, ties broken
    by smallest supplier id. Customers with no supplier in range are
    absent (inner semantics). The oracle is the all-pairs ROW_NUMBER
    definition; the engine's shuffle carries cell ids, never pairs,
    and no window touches the pair stream."""
    from pybabe_spark.operators.spatial import nearest_join

    cust, supp = _spatial_frames(spark, sf_dir)
    best = nearest_join(
        cust, supp, 300.0, right_id="s_suppkey",
        left_xy=("cx", "cy"), right_xy=("sx", "sy"),
        left_key="c_custkey",
    )
    return best.select(
        "c_custkey", "s_suppkey", F.col("dist2").cast("bigint").alias("dist2")
    )


def _labelprop_sql():
    from pybabe_spark.operators.graph import propagate_labels_sql

    edges = """
        SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS id_a,
                        's' || CAST(l.l_suppkey AS VARCHAR) AS id_b
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """
    seeds = """
        SELECT 's' || CAST(s_suppkey AS VARCHAR) AS s,
               s_nationkey AS label
        FROM supplier
    """
    return propagate_labels_sql(edges, seeds, max_hops=3, id_col="node")


@register("label_propagation_trade", _labelprop_sql())
def q_labelprop(spark, sf_dir):
    """Seeded label propagation / graph Voronoi (operators/graph.py::
    propagate_labels): suppliers seed their nation key into the
    customer-supplier trade graph; every node takes its NEAREST seed's
    label (ties → smallest label), giving each customer the nation
    whose suppliers it trades closest with. Frontier iteration — one
    join + one min() agg per hop over frontier-incident edges only —
    replayed hop-for-hop by the unrolled oracle."""
    from pybabe_spark.operators.graph import propagate_labels

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    edges = (
        orders.join(li, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("id_a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("id_b"),
        )
        .distinct()
    )
    seeds = supp.select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("s"),
        F.col("s_nationkey").alias("label"),
    )
    return propagate_labels(edges, seeds, max_hops=3, id_col="node")


def _acf_sql():
    from pybabe_spark.operators.timeseries import acf_sql

    return acf_sql("events", "user_id", "ts", "value", lags=3)


@register("acf_user_values", _acf_sql())
def q_acf(spark, sf_dir):
    """Per-user autocorrelation of event values at lags 1-3
    (operators/timeseries.py::acf): exact bigint-cents series, the
    n²-scaled mean-centering identities in DECIMAL(38,0)/HUGEINT, and
    sign-split integral ppm — seasonality/persistence detection with
    no float anywhere. One key-partitioned window pass carries all
    three lags; one hash agg finishes."""
    from pybabe_spark.operators.timeseries import acf

    ev = read_table(spark, sf_dir, "events")
    return acf(ev, "user_id", "ts", "value", lags=3)


def _acf_bucketed_sql():
    from pybabe_spark.operators.timeseries import acf_bucketed_sql

    return acf_bucketed_sql(
        "events", "user_id", "ts", "value", bucket_seconds=3600, lags=3
    )


@register("acf_bucketed_events", _acf_bucketed_sql())
def q_acf_bucketed(spark, sf_dir):
    """Per-user autocorrelation of HOURLY cents-sum buckets at lags
    1-3 (operators/timeseries.py::acf_bucketed): events roll up to the
    exact (user, hour) cents grain — the identical transform
    streaming/ops.stream_bucket_sums folds per micro-batch, so
    acf_from_store over a streaming-maintained store is proven
    output-identical (the bollinger_from_store twin discipline) — then
    acf's integral machinery runs on the bucket series. Answers burst
    persistence at the traffic grain; one map-combinable hash agg +
    acf's two key shuffles."""
    from pybabe_spark.operators.timeseries import acf_bucketed

    ev = read_table(spark, sf_dir, "events")
    return acf_bucketed(
        ev, "user_id", "ts", "value", bucket_seconds=3600, lags=3
    )


def _ljung_box_sql():
    from pybabe_spark.operators.timeseries import ljung_box_sql

    return ljung_box_sql(
        "events", "user_id", "ts", "value", lags=3, chi2_crit=7.814728
    )


@register("ljung_box_events", _ljung_box_sql())
def q_ljung_box(spark, sf_dir):
    """Per-user Ljung–Box white-noise test at lags 1–3
    (operators/timeseries.py::ljung_box): the inferential layer over
    acf_user_values — Q = n(n+2)·Σρ_h²/(n−h) from acf's exact integral
    ppm (each lag term one IEEE division rounded once, decimal-summed),
    against the χ²(3) literal. Same two key shuffles as acf plus one
    key-grain agg; Q NULL when any lag is undefined."""
    from pybabe_spark.operators.timeseries import ljung_box

    ev = read_table(spark, sf_dir, "events")
    return ljung_box(
        ev, "user_id", "ts", "value", lags=3, chi2_crit=7.814728
    )


def _item_neighbors_sql():
    from pybabe_spark.operators.recommend import item_neighbors_sql

    return item_neighbors_sql(
        "lineitem", "l_orderkey", "l_partkey", k=5, min_support=2
    )


@register("item_neighbors_parts", _item_neighbors_sql())
def q_item_neighbors(spark, sf_dir):
    """Item-to-item collaborative filtering (operators/recommend.py::
    item_neighbors): per part, the 5 most-cosine-similar parts by
    order co-occurrence — exact HUGEINT cosine²-ppm over binary
    basket vectors, support floor before any join, one window over
    the pruned pair table. The 'also bought' table, float-free."""
    from pybabe_spark.operators.recommend import item_neighbors

    li = read_table(spark, sf_dir, "lineitem")
    return item_neighbors(
        li, "l_orderkey", "l_partkey", k=5, min_support=2,
        core=_basket_core(spark, sf_dir),
    )


@register(
    "golden_record_customers",
    """
    WITH RECURSIVE
    edges AS (
      SELECT a.c_custkey AS id1, b.c_custkey AS id2
      FROM customer a JOIN customer b
        ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
    ),
    sym AS (SELECT id1 AS u, id2 AS v FROM edges
            UNION SELECT id2 AS u, id1 AS v FROM edges),
    reach(src, node) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.src, s.v FROM reach r JOIN sym s ON r.node = s.u
    ),
    comp AS (SELECT src AS id, MIN(node) AS component FROM reach GROUP BY src),
    dirty AS (
      SELECT c_custkey AS id,
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_nationkey END AS nation,
             CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END
               AS acctbal,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END
               AS segment
      FROM customer
    ),
    assigned AS (
      SELECT d.*, COALESCE(m.component, d.id) AS component
      FROM dirty d LEFT JOIN comp m USING (id)
    )
    SELECT component,
           max_by(nation, id) FILTER (WHERE nation IS NOT NULL) AS nation,
           max_by(acctbal, id) FILTER (WHERE acctbal IS NOT NULL)
             AS acctbal,
           max_by(segment, id) FILTER (WHERE segment IS NOT NULL)
             AS segment,
           COUNT(*) AS n_members
    FROM assigned GROUP BY component
    """,
)
def q_golden_record(spark, sf_dir):
    """Survivorship on top of entity resolution (the full MDM path:
    operators/fuzzy.fuzzy_pairs → operators/graph.dup_clusters →
    operators/merge.golden_record): customer records with
    deterministically-injected NULL gaps merge per entity cluster into
    one composite row — each column's newest non-null value survives
    independently (max_by FILTER, one hash agg). The oracle replays
    blocking, CC fixpoint AND the per-column survivorship. The
    blocking+CC stage is shared with ``entity_resolution_customers``
    through :func:`_er_clusters` (computed once per session+dataset)."""
    from pybabe_spark.operators.merge import golden_record

    cust = read_table(spark, sf_dir, "customer")
    clusters = _er_clusters(spark, sf_dir)
    dirty = cust.select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") % 3 != 0, F.col("c_nationkey")).alias(
            "nation"
        ),
        F.when(F.col("c_custkey") % 5 != 0, F.col("c_acctbal")).alias(
            "acctbal"
        ),
        F.when(F.col("c_custkey") % 7 != 0, F.col("c_mktsegment")).alias(
            "segment"
        ),
    )
    assigned = dirty.join(clusters.select("id", "component"), "id")
    return golden_record(
        assigned, "component", "id", ["nation", "acctbal", "segment"]
    )


def _ohlc_sql():
    from pybabe_spark.operators.timeseries import ohlc_bars_sql

    return ohlc_bars_sql(
        "events", "user_id", "ts", "value", 86400, volume_col="value"
    )


@register("ohlc_bars_events", _ohlc_sql())
def q_ohlc(spark, sf_dir):
    """Daily OHLC downsampling of per-user event values
    (operators/timeseries.py::ohlc_bars): first/last witnesses via
    min_by/max_by on the unique per-user timestamps, plain extremes,
    exact decimal volume — ONE map-side-combinable hash agg, the
    single-shuffle plan a 100 TB downsample needs."""
    from pybabe_spark.operators.timeseries import ohlc_bars

    ev = read_table(spark, sf_dir, "events")
    return ohlc_bars(ev, "user_id", "ts", "value", 86400, volume_col="value")


def _paths_sql():
    from pybabe_spark.operators.group import path_counts_sql

    return path_counts_sql(
        "events", "user_id", "ts", "event_type", k=25, max_steps=8
    )


@register("path_counts_events", _paths_sql())
def q_path_counts(spark, sf_dir):
    """Top user journeys (operators/group.py::path_counts): each
    user's first 8 events in time order joined into a path string,
    the 25 most common paths ranked with a path tiebreak — the
    whole-journey complement of transition_matrix. One per-key
    collect_list agg (bounded by the step budget) + one path count +
    TakeOrdered; no window."""
    from pybabe_spark.operators.group import path_counts

    ev = read_table(spark, sf_dir, "events")
    return path_counts(ev, "user_id", "ts", "event_type", k=25, max_steps=8)


def _lcc_sql():
    from pybabe_spark.operators.graph import clustering_coefficient_sql

    return clustering_coefficient_sql(
        """
        SELECT id_a, id_b FROM (
          SELECT a.s AS id_a, b.s AS id_b FROM
            (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem) a
            JOIN
            (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem) b
            ON a.o = b.o AND a.s < b.s
        ) WHERE (id_a + id_b) % 7 = 0
        """
    )


@register("clustering_coeff_suppliers", _lcc_sql())
def q_clustering_coeff(spark, sf_dir):
    """Per-supplier local clustering coefficient on the sampled
    co-occurrence graph (operators/graph.py::clustering_coefficient):
    the same O(m^1.5) degree-oriented wedge closure as the census,
    plus one corner explode + hash agg and a degree left-join —
    exact integral 2T/d(d-1) ppm, the ego-net cohesion signal."""
    from pybabe_spark.operators.graph import clustering_coefficient

    return clustering_coefficient(_supplier_edges(spark, sf_dir, mod=7))


def _skyline_sql():
    from pybabe_spark.operators.skyline import skyline2d_sql

    return skyline2d_sql("part", "p_retailprice", "p_size")


@register("skyline_parts_price_size", _skyline_sql())
def q_skyline(spark, sf_dir):
    """2-D skyline / Pareto front of parts minimizing (retailprice,
    size) (operators/skyline.py::skyline2d): bucketed partitioned
    range-frame windows plus a ≤B-row bucket-stats prefix join — no
    global window, no all-pairs — against the oracle's quadratic
    NOT-EXISTS dominance definition."""
    from pybabe_spark.operators.skyline import skyline2d

    part = read_table(spark, sf_dir, "part")
    return skyline2d(part, "p_retailprice", "p_size")


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2)))
           AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_q6(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): the canonical
    predicate-pushdown scan-aggregate — every filter reaches the
    parquet scan (asserted in test_plans), the product accumulates in
    exact decimal, one map-side-combinable agg, zero joins."""
    li = read_table(spark, sf_dir, "lineitem")
    f = (
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.filter(f).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("l_discount").cast("decimal(18,2)")
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _seasonal_sql():
    from pybabe_spark.operators.timeseries import seasonal_backtest_sql

    return seasonal_backtest_sql("events", "user_id", "ts", "value", 3)


@register("seasonal_backtest_events", _seasonal_sql())
def q_seasonal(spark, sf_dir):
    """Per-user seasonal-naive vs naive forecast backtest (MASE, lag
    3; operators/timeseries.py::seasonal_backtest): exact bigint-cents
    absolute-error sums over the common evaluation window, integral
    ppm ratio — one window pass + one hash agg, the acf plan shape."""
    from pybabe_spark.operators.timeseries import seasonal_backtest

    ev = read_table(spark, sf_dir, "events")
    return seasonal_backtest(ev, "user_id", "ts", "value", 3)


def _wq_sql():
    from pybabe_spark.operators.sketch import weighted_quantiles_sql

    return weighted_quantiles_sql(
        "lineitem", "l_extendedprice", "l_quantity",
        [0.5, 0.9, 0.99], by="l_returnflag",
    )


@register("weighted_quantiles_lineitem", _wq_sql())
def q_weighted_quantiles(spark, sf_dir):
    """Quantity-weighted price quantiles per return flag
    (operators/sketch.py::weighted_quantiles): exact integer reach
    test on distinct-value cumulative weights — no per-group value
    buffer, no IEEE division; all probs in one final agg."""
    from pybabe_spark.operators.sketch import weighted_quantiles

    li = read_table(spark, sf_dir, "lineitem")
    return weighted_quantiles(
        li, "l_extendedprice", "l_quantity", [0.5, 0.9, 0.99],
        by="l_returnflag",
    )


def _cuped_sql():
    from pybabe_spark.operators.cuped import cuped_adjust_sql

    frame = """
        SELECT user_id,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-24'
                    THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
                 AS pre,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-24'
                    THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
                 AS post,
               user_id % 2 AS arm
        FROM events GROUP BY user_id
    """
    return cuped_adjust_sql(
        frame, "post", "pre", columns="user_id, pre, post, arm"
    )


@register("cuped_adjust_events", _cuped_sql())
def q_cuped(spark, sf_dir):
    """CUPED variance reduction (operators/cuped.py::cuped_adjust):
    per-user post-period value adjusted by the pre-period covariate,
    θ from pooled arms as exact DECIMAL(38,0) statistics (integral ppm
    certificate alongside the fixed-shape IEEE adjustment). One stats
    agg + broadcast-back — the experimentation sensitivity lever."""
    from pybabe_spark.operators.cuped import cuped_adjust

    ev = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24").cast("timestamp")
    dec = F.col("value").cast("decimal(18,6)")
    frame = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, dec)).cast("double").alias("pre"),
        F.sum(F.when(F.col("ts") >= cutoff, dec)).cast("double").alias(
            "post"
        ),
        (F.first("user_id") % 2).alias("arm"),
    )
    return cuped_adjust(frame, "post", "pre")


def _mean_test_sql():
    from pybabe_spark.operators.sketch import mean_test_sql

    frame = """
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS arm, value
        FROM events WHERE event_type = 'purchase'
    """
    return mean_test_sql(frame, "arm", "value", "control", "treatment")


@register("mean_test_events", _mean_test_sql())
def q_mean_test(spark, sf_dir):
    """Two-sample Welch mean test on purchase values
    (operators/sketch.py::mean_test): exact DECIMAL(38,0)/HUGEINT
    moment sums feed one fixed-shape squared-form IEEE decision —
    deterministic significance on a continuous metric, the stage after
    cuped_adjust. One conditional aggregation."""
    from pybabe_spark.operators.sketch import mean_test

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    frame = ev.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        "value",
    )
    return mean_test(frame, "arm", "value", "control", "treatment")


def _anova_sql():
    from pybabe_spark.operators.sketch import anova_f_sql

    return anova_f_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        "o_orderpriority",
        "o_totalprice",
    )


@register("anova_orders_price", _anova_sql())
def q_anova(spark, sf_dir):
    """One-way ANOVA (operators/sketch.py::anova_f): does order value
    differ across the five order priorities — the k-group
    generalization of mean_test_events. Exact DECIMAL(38,0) per-group
    moments from one hash agg; the between-groups moment sums
    per-group ONE-division terms rounded once to DECIMAL(38,6)
    (order-independent decimal sum); F and eta² from a single
    fixed-shape IEEE finish the oracle reproduces verbatim."""
    from pybabe_spark.operators.sketch import anova_f

    orders = read_table(spark, sf_dir, "orders")
    return anova_f(orders, "o_orderpriority", "o_totalprice")


def _tukey_sql():
    from pybabe_spark.operators.sketch import tukey_hsd_sql

    return tukey_hsd_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        "o_orderpriority",
        "o_totalprice",
        q_crit=3.858,
    )


@register("tukey_hsd_orders", _tukey_sql())
def q_tukey_hsd(spark, sf_dir):
    """Tukey–Kramer HSD post-hoc after anova_orders_price
    (operators/sketch.py::tukey_hsd): WHICH priority pairs differ in
    mean order value, q vs the studentized-range critical value for
    k=5 arms at family α=0.05 (3.858, large df) — the parametric twin
    of dunn_test_lineitem. Exact decimal group moments, anova_f's
    per-term-rounded within moment, one 10-pair join on the guarded
    tiny per-group table."""
    from pybabe_spark.operators.sketch import tukey_hsd

    orders = read_table(spark, sf_dir, "orders")
    return tukey_hsd(
        orders, "o_orderpriority", "o_totalprice", q_crit=3.858
    )


def _brown_forsythe_sql():
    from pybabe_spark.operators.sketch import brown_forsythe_sql

    return brown_forsythe_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        "o_orderpriority",
        "o_totalprice",
    )


@register("brown_forsythe_orders", _brown_forsythe_sql())
def q_brown_forsythe(spark, sf_dir):
    """Brown–Forsythe spread-homogeneity test across order priorities
    (operators/sketch.py::brown_forsythe): one-way ANOVA on absolute
    deviations from each priority's exact interpolated median (rounded
    once, the quantile edge rule) — the variance-equality check
    anova_orders_price assumes. Percentile agg + tiny-table join back
    + anova_f's single moment agg."""
    from pybabe_spark.operators.sketch import brown_forsythe

    orders = read_table(spark, sf_dir, "orders")
    return brown_forsythe(orders, "o_orderpriority", "o_totalprice")


def _kruskal_sql():
    from pybabe_spark.operators.sketch import kruskal_wallis_sql

    return kruskal_wallis_sql(
        "SELECT l_returnflag, l_extendedprice FROM lineitem",
        "l_returnflag",
        "l_extendedprice",
        chi2_crit=5.991465,
    )


@register("kruskal_wallis_lineitem", _kruskal_sql())
def q_kruskal(spark, sf_dir):
    """Kruskal–Wallis H across the three return flags
    (operators/sketch.py::kruskal_wallis): rank-based k-group location
    test on line price — exact doubled midranks from the de-globalized
    1024-cell cumulative count (no global window), per-group
    DECIMAL(38,0) rank sums, per-term-rounded between moment,
    tie-corrected H vs χ²(2) in one fixed-shape finish. The rank stage
    is shared with ``dunn_test_lineitem`` through :func:`_kw_core`
    (test + its post-hoc always run on the identical grain)."""
    from pybabe_spark.operators.sketch import kruskal_wallis

    li = read_table(spark, sf_dir, "lineitem")
    return kruskal_wallis(
        li, "l_returnflag", "l_extendedprice", chi2_crit=5.991465,
        rank_sums=_kw_core(spark, sf_dir),
    )


#: (per_g, ties) rank core for the l_returnflag/l_extendedprice
#: doubled-midrank grain — kruskal_wallis_lineitem and
#: dunn_test_lineitem are the omnibus test and its post-hoc on the
#: IDENTICAL rank machinery (sketch.py::_kw_core_rows).
@session_memo(users=("kruskal_wallis_lineitem", "dunn_test_lineitem"))
def _kw_core(spark, sf_dir):
    from pybabe_spark.operators.sketch import _kw_rank_sums_local

    li = read_table(spark, sf_dir, "lineitem")
    # the eager core (three bounded driver actions instead of the
    # in-plan core's 13 local jobs) as VALUES-literal LocalRelations:
    # memo hits cost zero cluster work, and no consumer action pays the
    # ExistingRDD tasklet wave createDataFrame would schedule
    return _kw_rank_sums_local(li, "l_returnflag", "l_extendedprice")


_TREND_SCORES = {
    "1-URGENT": 1, "2-HIGH": 2, "3-MEDIUM": 3, "4-NOT SPECIFIED": 4,
    "5-LOW": 5,
}


def _trend_sql():
    from pybabe_spark.operators.sketch import trend_test_sql

    return trend_test_sql(
        "SELECT o_orderpriority, CAST(o_orderstatus = 'F' AS INT) AS done"
        " FROM orders",
        "o_orderpriority",
        "done",
        _TREND_SCORES,
    )


@register("trend_test_orders", _trend_sql())
def q_trend_test(spark, sf_dir):
    """Cochran–Armitage trend test (operators/sketch.py::trend_test):
    does the fulfilled-rate move monotonically across the five ordered
    priorities — the ORDER question chi2_orders_priority_status can't
    price. Integer score literals shared with the oracle, one
    conditional agg, exact 10⁶-scaled integer decision."""
    from pybabe_spark.operators.sketch import trend_test

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("done"),
    )
    return trend_test(orders, "o_orderpriority", "done", _TREND_SCORES)


def _effect_size_sql():
    from pybabe_spark.operators.sketch import effect_size_sql

    frame = """
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS arm, value
        FROM events WHERE event_type = 'purchase'
    """
    return effect_size_sql(frame, "arm", "value", "control", "treatment")


@register("effect_size_events", _effect_size_sql())
def q_effect_size(spark, sf_dir):
    """Cohen's d / Hedges' g on the mean_test_events frame
    (operators/sketch.py::effect_size): the magnitude readout the
    significance decision lacks — pooled-variance standardization from
    the same exact DECIMAL(38,0) cents moments, one fixed-shape IEEE
    finish (sqrt is correctly rounded on both engines)."""
    from pybabe_spark.operators.sketch import effect_size

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    frame = ev.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        "value",
    )
    return effect_size(frame, "arm", "value", "control", "treatment")


def _ratio_ci_sql():
    from pybabe_spark.operators.sketch import ratio_metric_ci_sql

    frame = """
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS arm,
               user_id,
               CASE WHEN event_type = 'purchase' THEN value
                    ELSE 0 END AS revenue,
               1.0 AS events
        FROM events
    """
    return ratio_metric_ci_sql(
        frame, "user_id", "revenue", "events", by="arm"
    )


@register("ratio_metric_ci_events", _ratio_ci_sql())
def q_ratio_metric_ci(spark, sf_dir):
    """Delta-method CI for revenue-per-event by arm
    (operators/sketch.py::ratio_metric_ci): per-user numerator/
    denominator sums (the independence grain), five exact
    DECIMAL(38,0) moments, one fixed-shape delta-method finish — the
    honest error bar for the ratio metrics a per-event mean would
    understate. Two stacked map-combinable aggs, no window."""
    from pybabe_spark.operators.sketch import ratio_metric_ci

    ev = read_table(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        "user_id",
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(F.lit(0))
        .alias("revenue"),
        F.lit(1.0).alias("events"),
    )
    return ratio_metric_ci(ev, "user_id", "revenue", "events", by="arm")


def _cliffs_sql():
    from pybabe_spark.operators.sketch import cliffs_delta_sql

    frame = """
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS arm, value
        FROM events WHERE event_type = 'purchase'
    """
    return cliffs_delta_sql(frame, "arm", "value", "control", "treatment")


@register("cliffs_delta_events", _cliffs_sql())
def q_cliffs_delta(spark, sf_dir):
    """Cliff's delta ordinal effect size on the mean_test frame
    (operators/sketch.py::cliffs_delta): δ = 2·AUC − 1 derived
    EXACTLY from mann_whitney_u's doubled statistic — the oracle
    nests mann_whitney_u_sql verbatim; floored integral ppm,
    bit-identical across engines."""
    from pybabe_spark.operators.sketch import cliffs_delta

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    frame = ev.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        "value",
    )
    return cliffs_delta(frame, "arm", "value", "control", "treatment")


def _seasonal_z_sql():
    from pybabe_spark.operators.anomaly import seasonal_zscore_sql

    return seasonal_zscore_sql(
        "events", "user_id", "value", "ts", threshold=2.5,
        season="hour_of_day",
    )


@register("seasonal_zscore_events", _seasonal_z_sql())
def q_seasonal_zscore(spark, sf_dir):
    """Seasonality-aware outliers (operators/anomaly.py::
    seasonal_zscore): each event judged against its own (user,
    hour-of-day) recurring slot instead of the global per-user
    baseline zscore_anomalies uses — one hash agg to the ≤24-cell
    per-key grain + one equi-join back, the zscore decimal/fixed-shape
    decision unchanged."""
    from pybabe_spark.operators.anomaly import seasonal_zscore

    ev = read_table(spark, sf_dir, "events")
    return seasonal_zscore(
        ev, "user_id", "value", "ts", threshold=2.5, season="hour_of_day"
    )


def _overlap_sql():
    from pybabe_spark.operators.join import overlap_join_sql
    from pybabe_spark.operators.timeseries import sessionize_sql

    sess = sessionize_sql(
        "events", 1800, "user_id", "ts",
        order_cols=["event_id"], stats=True,
    )
    left = f"""
        SELECT user_id AS ua, session_id AS sa,
               session_start AS start_a, session_end AS end_a
        FROM ({sess}) WHERE user_id % 2 = 0
    """
    right = f"""
        SELECT user_id AS ub, session_id AS sb,
               session_start AS start_b, session_end AS end_b
        FROM ({sess}) WHERE user_id % 2 = 1
    """
    return overlap_join_sql(
        left, right,
        ("start_a", "end_a"), ("start_b", "end_b"),
        ["ua", "sa"], ["ub", "sb"],
    )


@register("overlap_join_sessions", _overlap_sql())
def q_overlap_join(spark, sf_dir):
    """Interval-overlap join (operators/join.py::overlap_join):
    concurrent sessions across the even/odd user split — both interval
    sets explode into hourly cells and join on the cell, each pair
    emitted exactly once via the canonical later-start cell (NO dedup
    shuffle); exact integer overlap microseconds. The oracle is the
    raw inequality-join definition."""
    from pybabe_spark.operators.join import overlap_join
    from pybabe_spark.operators.timeseries import session_stats

    ev = read_table(spark, sf_dir, "events")
    sess = session_stats(ev, 1800, order_cols=["event_id"]).persist()
    left = sess.filter(F.col("user_id") % 2 == 0).select(
        F.col("user_id").alias("ua"),
        F.col("session_id").alias("sa"),
        F.col("session_start").alias("start_a"),
        F.col("session_end").alias("end_a"),
    )
    right = sess.filter(F.col("user_id") % 2 == 1).select(
        F.col("user_id").alias("ub"),
        F.col("session_id").alias("sb"),
        F.col("session_start").alias("start_b"),
        F.col("session_end").alias("end_b"),
    )
    return overlap_join(
        left, right, ("start_a", "end_a"), ("start_b", "end_b"),
        bucket="1 hour",
    ).select("ua", "sa", "ub", "sb", "overlap_us")


def _active_sql():
    from pybabe_spark.operators.timeseries import (
        active_intervals_sql,
        sessionize_sql,
    )

    sess = sessionize_sql(
        "events", 1800, "user_id", "ts",
        order_cols=["event_id"], stats=True,
    )
    return active_intervals_sql(
        f"SELECT session_start, session_end FROM ({sess})",
        "session_start",
        "session_end",
    )


@register("active_sessions_curve", _active_sql())
def q_active_sessions(spark, sf_dir):
    """Session concurrency curve (operators/timeseries.py::
    active_intervals): the sweep line de-globalized — per-boundary ±1
    deltas cumulative-sum inside hourly buckets (partitioned window)
    plus a limit-proved bucket-prefix offset, against the oracle's
    single global cumulative sum. max(active) is peak concurrency."""
    from pybabe_spark.operators.timeseries import (
        active_intervals,
        session_stats,
    )

    ev = read_table(spark, sf_dir, "events")
    sess = session_stats(ev, 1800, order_cols=["event_id"])
    return active_intervals(
        sess.select("session_start", "session_end"),
        "session_start",
        "session_end",
    )


def _chi2_sql():
    from pybabe_spark.operators.sketch import chi2_independence_sql

    return chi2_independence_sql(
        "SELECT o_orderpriority, o_orderstatus FROM orders",
        "o_orderpriority",
        "o_orderstatus",
    )


@register("chi2_orders_priority_status", _chi2_sql())
def q_chi2_independence(spark, sf_dir):
    """Chi-square test of independence (operators/sketch.py::
    chi2_independence) between order priority and status: one hash agg
    builds the R×C cell table; totals are aggs over that tiny table,
    broadcast back; each cell contributes an exact floored integer
    ppm ((n·n_ab − r·c)²·10⁶ div n·r·c) so chi2_ppm is an
    order-independent integer sum, not IEEE."""
    from pybabe_spark.operators.sketch import chi2_independence

    orders = read_table(spark, sf_dir, "orders")
    return chi2_independence(orders, "o_orderpriority", "o_orderstatus")


def _assoc_rules_sql():
    from pybabe_spark.operators.collocations import association_rules_sql

    return association_rules_sql(
        "lineitem", "l_orderkey", "l_partkey", 2, 100_000
    )


@register("association_rules_lineitem", _assoc_rules_sql())
def q_association_rules(spark, sf_dir):
    """Directed association rules over order baskets
    (operators/collocations.py::association_rules): the support-pruned
    undirected pair aggregate exploded into both orientations (no
    second basket pass), broadcast item-count enrichment, exact-ppm
    support/confidence/lift via integral div — the classic
    market-basket rule miner at one-shuffle cost."""
    from pybabe_spark.operators.collocations import association_rules

    li = read_table(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", 2, 100_000,
        core=_basket_core(spark, sf_dir),
    )


def _rfm_sql():
    from pybabe_spark.operators.rfm import rfm_segments_sql

    return rfm_segments_sql(
        "orders", "o_custkey", "o_orderdate", "o_totalprice",
        "1998-12-31",
    )


@register("rfm_segments_orders", _rfm_sql())
def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (operators/rfm.py::rfm_segments):
    one hash agg to the per-customer rollup, one 1-row quantile-edge
    agg over it, broadcast attach + codegen scoring — the classic
    lifecycle model with NO global NTILE window."""
    from pybabe_spark.operators.rfm import rfm_segments

    orders = read_table(spark, sf_dir, "orders")
    return rfm_segments(
        orders, "o_custkey", "o_orderdate", "o_totalprice", "1998-12-31"
    )


def _sssp_sql():
    from pybabe_spark.operators.graph import sssp_sql

    base = """
        SELECT c.c_nationkey AS cn, s.s_nationkey AS sn,
               MIN(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS w
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY c.c_nationkey, s.s_nationkey
    """
    edges = f"""
        SELECT cn AS src, sn AS dst, w FROM ({base})
        UNION ALL
        SELECT sn AS src, cn AS dst, w FROM ({base})
    """
    return sssp_sql(edges, "SELECT 0 AS s", 4, "nationkey")


@register("sssp_trade_nations", _sssp_sql())
def q_sssp(spark, sf_dir):
    """Weighted shortest trade routes from nation 0
    (operators/graph.py::sssp, hop-bounded Bellman-Ford): nation-pair
    edges carry the MINIMUM line price between customer and supplier
    nations (exact cents); per round one frontier equi-join + one min
    hash agg, observe()-fingerprint early stop. The oracle is the
    full relaxation unroll — the fixpoint equality is the test."""
    from pybabe_spark.operators.graph import sssp

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    base = (
        li.join(orders, orders["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(cust), cust["c_custkey"] == orders["o_custkey"])
        .join(F.broadcast(supp), supp["s_suppkey"] == li["l_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("cn"),
            F.col("s_nationkey").alias("sn"),
        )
        .agg(F.min(cents).alias("w"))
    )
    edges = base.select(
        F.col("cn").alias("src"), F.col("sn").alias("dst"), "w"
    ).unionByName(
        base.select(
            F.col("sn").alias("src"), F.col("cn").alias("dst"), "w"
        )
    )
    # weights are already cents: undo the operator's lift exactly
    edges = edges.withColumn(
        "w", (F.col("w").cast("decimal(18,2)") / 100)
    )
    src = spark.range(1).select(F.lit(0).alias("s"))
    return sssp(edges, src, max_hops=4, id_col="nationkey")


def _target_encode_sql():
    from pybabe_spark.operators.sampling import target_encode_sql

    return target_encode_sql(
        "orders", "o_orderpriority", "o_totalprice", 20, True,
        columns="o_orderkey, o_orderpriority",
    )


@register("target_encode_orders", _target_encode_sql())
def q_target_encode(spark, sf_dir):
    """Smoothed leave-one-out target encoding of order priority by
    order value (operators/sampling.py::target_encode): one category
    hash agg + one 1-row global agg broadcast back, the whole encoding
    a single sign-split integral division per row over the symbolic
    rational (no float intermediates) — the leakage-safe
    high-cardinality feature for downstream models."""
    from pybabe_spark.operators.sampling import target_encode

    orders = read_table(spark, sf_dir, "orders")
    return target_encode(
        orders, "o_orderpriority", "o_totalprice", 20, True
    ).select("o_orderkey", "o_orderpriority", "o_orderpriority_te_micro")


def _kcore_sql():
    from pybabe_spark.operators.graph import k_core_sql

    edges = """
        SELECT a.s AS id_a, b.s AS id_b
        FROM (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
              FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
              FROM lineitem) b
          ON a.o = b.o AND a.s < b.s
        WHERE (a.s + b.s) % 7 = 0
    """
    return k_core_sql(edges, 3, 8, "suppkey")


@register("kcore_suppliers", _kcore_sql())
def q_kcore(spark, sf_dir):
    """3-core of the sampled supplier co-trade graph
    (operators/graph.py::k_core): iterative peeling — per round one
    degree hash agg + two semi-joins over the monotonically shrinking
    edge set, observe()-stopped at the fixpoint. The oracle unrolls
    the same peel; fixpoint equality is the test."""
    from pybabe_spark.operators.graph import k_core

    return k_core(
        _supplier_edges(spark, sf_dir, mod=7), k=3, max_rounds=8,
        id_col="suppkey",
    )


def _mwu_sql():
    from pybabe_spark.operators.sketch import mann_whitney_u_sql

    frame = """
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS arm, value
        FROM events WHERE event_type = 'purchase'
    """
    return mann_whitney_u_sql(frame, "arm", "value", "control",
                              "treatment")


@register("mann_whitney_events", _mwu_sql())
def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test on purchase values
    (operators/sketch.py::mann_whitney_u): value-level arm counts +
    one distinct-value cumulative window + a fully exact integer
    significance decision (no IEEE anywhere) — the non-parametric
    counterpart of mean_test_events on the same frame."""
    from pybabe_spark.operators.sketch import mann_whitney_u

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    frame = ev.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        "value",
    )
    return mann_whitney_u(frame, "arm", "value", "control", "treatment")


def _ks_sql():
    from pybabe_spark.operators.sketch import ks_test_sql

    frame = """
        SELECT event_type AS grp, value
        FROM events WHERE event_type IN ('click', 'purchase')
    """
    return ks_test_sql(frame, "grp", "value", "click", "purchase")


@register("ks_test_events", _ks_sql())
def q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test: click vs purchase value
    DISTRIBUTIONS (operators/sketch.py::ks_test) — max ECDF gap kept
    exact-integral over the de-globalized (cell-partitioned) cumsum,
    all-integer significance decision; the distribution-shape
    companion of mann_whitney_events (rank-location) and
    logrank_events (survival)."""
    from pybabe_spark.operators.sketch import ks_test

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    frame = ev.select(F.col("event_type").alias("grp"), "value")
    return ks_test(frame, "grp", "value", "click", "purchase")


def _did_sql():
    from pybabe_spark.operators.cuped import did_estimate_sql

    frame = """
        SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS arm,
               CASE WHEN ts < TIMESTAMP '2024-01-24'
                    THEN 'pre' ELSE 'post' END AS period,
               value
        FROM events WHERE event_type = 'purchase'
    """
    return did_estimate_sql(
        frame, "arm", "period", "value", "control", "treatment",
        "pre", "post",
    )


@register("did_estimate_events", _did_sql())
def q_did_estimate(spark, sf_dir):
    """Difference-in-differences on purchase values
    (operators/cuped.py::did_estimate): four arm×period cells from ONE
    conditional moment aggregation (exact DECIMAL(38,0)/HUGEINT), the
    DiD effect and its independent-samples significance as one
    fixed-shape IEEE decision — the quasi-experimental stage of the
    experimentation family (ab_test / mean_test / CUPED / MWU)."""
    from pybabe_spark.operators.cuped import did_estimate

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cutoff = F.lit("2024-01-24").cast("timestamp")
    frame = ev.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        F.when(F.col("ts") < cutoff, F.lit("pre"))
        .otherwise(F.lit("post"))
        .alias("period"),
        "value",
    )
    return did_estimate(
        frame, "arm", "period", "value", "control", "treatment",
        "pre", "post",
    )


def _theilsen_sql():
    from pybabe_spark.operators.timeseries import theilsen_slope_sql

    daily = """(
        SELECT user_id,
               CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS DECIMAL(18,2)) / 100 AS v
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
              AND user_id % 10 = 0
        GROUP BY user_id, CAST(ts AS DATE)
    )"""
    return theilsen_slope_sql(daily, "user_id", "day", "v")


@register("theilsen_slope_events", _theilsen_sql())
def q_theilsen(spark, sf_dir):
    """Per-user Theil-Sen robust spend trend over daily purchase
    totals (operators/timeseries.py::theilsen_slope): group-bounded
    pairwise-slope join (days per user, never raw events), exact
    sign-split integral-ppm slopes, lower median via the
    distinct-value cumulative reach test — the outlier-immune OLS."""
    from pybabe_spark.operators.timeseries import theilsen_slope

    ev = read_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("user_id") % 10 == 0)
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        (F.sum(cents).cast("decimal(18,2)") / 100).alias("v")
    ).select(
        "user_id", F.col("day").cast("timestamp").alias("day"), "v"
    )
    return theilsen_slope(daily, "user_id", "day", "v")


def _burst_sql():
    from pybabe_spark.operators.timeseries import interarrival_stats_sql

    return interarrival_stats_sql("events", "user_id", "ts")


@register("interarrival_burstiness_events", _burst_sql())
def q_interarrival(spark, sf_dir):
    """Per-user inter-arrival rhythm and Goh-Barabási burstiness
    (operators/timeseries.py::interarrival_stats): one key-partitioned
    lag window + one hash agg; exact integer-microsecond gaps feed
    fixed-shape IEEE mean/cv/burstiness rounded once — the behavioral
    bot/burst signal on the events stream."""
    from pybabe_spark.operators.timeseries import interarrival_stats

    ev = read_table(spark, sf_dir, "events")
    return interarrival_stats(ev, "user_id", "ts")


def _cohort_values_sql():
    from pybabe_spark.operators.timeseries import cohort_values_sql

    return cohort_values_sql(
        "events", "user_id", "ts", "value", 604800, 8
    )


@register("cohort_ltv_events", _cohort_values_sql())
def q_cohort_values(spark, sf_dir):
    """Weekly cohort LTV curve (operators/timeseries.py::
    cohort_values): one (user, week) value-presumming hash agg — the
    only corpus-scale shuffle — then offset aggregation, a
    cohort-partitioned cumulative window, and an exact integral
    cents-per-user division on cohorts×offsets rows. Retention's
    revenue sibling."""
    from pybabe_spark.operators.timeseries import cohort_values

    ev = read_table(spark, sf_dir, "events")
    return cohort_values(ev, "user_id", "ts", "value", 604800, 8)


def _ccf_sql():
    from pybabe_spark.operators.timeseries import ccf_sql

    daily = """(
        SELECT user_id,
               CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
               CAST(SUM(CASE WHEN event_type IN ('view', 'click')
                    THEN 1 ELSE 0 END) AS DOUBLE) AS activity,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS DOUBLE) AS purchases
        FROM events
        WHERE user_id % 5 = 0
        GROUP BY user_id, CAST(ts AS DATE)
    )"""
    return ccf_sql(daily, "user_id", "day", "purchases", "activity", 2)


@register("ccf_activity_purchases", _ccf_sql())
def q_ccf(spark, sf_dir):
    """Per-user cross-correlogram: does view/click activity LEAD
    purchases by 0-2 days (operators/timeseries.py::ccf)? One
    key-partitioned window pass carrying all lag columns + one hash
    agg; exact n²-scaled DECIMAL(38,0) identities under a fixed-shape
    IEEE √-normalized correlation rounded once."""
    from pybabe_spark.operators.timeseries import ccf

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 5 == 0
    )
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(
            F.col("event_type").isin("view", "click").cast("int")
        ).cast("double").alias("activity"),
        F.sum(
            (F.col("event_type") == "purchase").cast("int")
        ).cast("double").alias("purchases"),
    ).select(
        "user_id", F.col("day").cast("timestamp").alias("day"),
        "activity", "purchases",
    )
    return ccf(daily, "user_id", "day", "purchases", "activity", 2)


def _srm_sql():
    from pybabe_spark.operators.sketch import srm_check_sql

    frame = """
        SELECT CASE WHEN user_id % 10 < 5 THEN 'control'
                    WHEN user_id % 10 < 9 THEN 'treatment'
                    ELSE 'holdout' END AS arm
        FROM events
    """
    return srm_check_sql(
        frame, "arm",
        {"control": 500_000, "treatment": 400_000, "holdout": 100_000},
        5.991465,
    )


@register("srm_check_events", _srm_sql())
def q_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail (operators/sketch.py::
    srm_check): observed arm counts vs the 50/40/10 design in one hash
    agg, fully exact integer goodness-of-fit (floored ppm terms) —
    the first gate of every experiment readout."""
    from pybabe_spark.operators.sketch import srm_check

    ev = read_table(spark, sf_dir, "events")
    frame = ev.select(
        F.when(F.col("user_id") % 10 < 5, F.lit("control"))
        .when(F.col("user_id") % 10 < 9, F.lit("treatment"))
        .otherwise(F.lit("holdout"))
        .alias("arm")
    )
    return srm_check(
        frame, "arm",
        {"control": 500_000, "treatment": 400_000, "holdout": 100_000},
        5.991465,
    )


def _trimmed_sql():
    from pybabe_spark.operators.sketch import trimmed_mean_sql

    return trimmed_mean_sql(
        "orders", "o_totalprice", by="o_orderpriority", alpha=0.1
    )


@register("trimmed_mean_orders", _trimmed_sql())
def q_trimmed_mean(spark, sf_dir):
    """Per-priority 10%-trimmed mean order value
    (operators/sketch.py::trimmed_mean): one per-group percentile-edge
    agg broadcast back + one conditional exact-decimal agg — the
    robust location estimate between mean and median, outliers
    dropped, not clamped."""
    from pybabe_spark.operators.sketch import trimmed_mean

    orders = read_table(spark, sf_dir, "orders")
    return trimmed_mean(
        orders, "o_totalprice", by="o_orderpriority", alpha=0.1
    )


def _pop_sql():
    from pybabe_spark.operators.timeseries import period_over_period_sql

    return period_over_period_sql(
        "events", "event_type", "ts", "value", 86400,
        where="value IS NOT NULL",
    )


@register("period_over_period_events", _pop_sql())
def q_period_over_period(spark, sf_dir):
    """Daily period-over-period value growth per event type
    (operators/timeseries.py::period_over_period): one (key, day)
    hash agg — the only corpus-scale shuffle — then a keyed lag
    window with STRICT day-adjacency and sign-split integral-ppm
    growth. The DoD/WoW BI report."""
    from pybabe_spark.operators.timeseries import period_over_period

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return period_over_period(ev, "event_type", "ts", "value", 86400)


def _ttc_sql():
    from pybabe_spark.operators.sketch import quantiles_sql

    deltas = """(
        SELECT (epoch_us(MIN(CASE WHEN event_type = 'purchase'
                    THEN ts END))
              - epoch_us(MIN(CASE WHEN event_type IN ('view', 'click')
                    THEN ts END))) / 1000000.0 AS delta_s
        FROM events
        GROUP BY user_id
        HAVING MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               >= MIN(CASE WHEN event_type IN ('view', 'click')
                      THEN ts END)
    )"""
    return quantiles_sql(deltas, "delta_s", [0.5, 0.9])


@register("time_to_convert_events", _ttc_sql())
def q_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution: per-user first touch (view/click)
    to first purchase, in seconds, then exact quantiles — ONE
    conditional hash agg per user + the quantiles agg (composition of
    existing primitives; converted users only). The funnel-latency
    readout next to funnel_events."""
    from pybabe_spark.operators.sketch import quantiles

    ev = read_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("__fp"),
            F.min(
                F.when(
                    F.col("event_type").isin("view", "click"),
                    F.col("ts"),
                )
            ).alias("__ft"),
        )
        .filter(
            F.col("__fp").isNotNull()
            & F.col("__ft").isNotNull()
            & (F.col("__fp") >= F.col("__ft"))
        )
        .select(
            (
                (
                    F.unix_micros(F.col("__fp"))
                    - F.unix_micros(F.col("__ft"))
                )
                / 1_000_000.0
            ).alias("delta_s")
        )
    )
    return quantiles(per_user, "delta_s", [0.5, 0.9])


def _growth_sql():
    from pybabe_spark.operators.timeseries import growth_accounting_sql

    return growth_accounting_sql("events", "user_id", "ts", 604800)


@register("growth_accounting_events", _growth_sql())
def q_growth_accounting(spark, sf_dir):
    """Weekly growth accounting (operators/timeseries.py::
    growth_accounting): actives decomposed exactly into
    new + retained + resurrected with strict-adjacency churn — one
    (user, week) distinct is the only corpus-scale shuffle; the
    period rollup and lag run on week rows."""
    from pybabe_spark.operators.timeseries import growth_accounting

    ev = read_table(spark, sf_dir, "events")
    return growth_accounting(ev, "user_id", "ts", 604800)


def _streaks_sql():
    from pybabe_spark.operators.timeseries import streaks_sql

    return streaks_sql("events", "user_id", "ts", 86400)


@register("streaks_events", _streaks_sql())
def q_streaks(spark, sf_dir):
    """Per-user daily activity streaks (operators/timeseries.py::
    streaks): the gaps-and-islands period−row_number island id — one
    (user, day) distinct, one keyed window, two hash aggs; longest
    and current streak exact."""
    from pybabe_spark.operators.timeseries import streaks

    ev = read_table(spark, sf_dir, "events")
    return streaks(ev, "user_id", "ts", 86400)


def _diversity_sql():
    from pybabe_spark.operators.sketch import category_diversity_sql

    return category_diversity_sql(
        "documents", "source", by="lang"
    )


@register("category_diversity_docs", _diversity_sql())
def q_category_diversity(spark, sf_dir):
    """Source diversity per language (operators/sketch.py::
    category_diversity): Shannon entropy via per-term-rounded decimal
    sums (order-independent) + FULLY exact Gini-Simpson ppm — one
    (lang, source) hash agg then one per-lang rollup. The mix-balance
    signal for corpus curation."""
    from pybabe_spark.operators.sketch import category_diversity

    docs = read_table(spark, sf_dir, "documents")
    return category_diversity(docs, "source", by="lang")


def _volume_anom_sql():
    from pybabe_spark.operators.anomaly import mad_anomalies_sql

    daily = """(
        SELECT event_type,
               CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS DOUBLE) AS n_events
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    )"""
    return mad_anomalies_sql(
        daily, "event_type", "n_events", "day", threshold=2.0
    )


@register("volume_anomalies_events", _volume_anom_sql())
def q_volume_anomalies(spark, sf_dir):
    """Pipeline-volume monitoring: daily event counts per type run
    through the robust MAD outlier gate (threshold 2) — the
    data-freshness/completeness alarm, a pure composition (one
    (type, day) hash agg feeding operators/anomaly.py::
    mad_anomalies)."""
    from pybabe_spark.operators.anomaly import mad_anomalies

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n_events")).select(
        "event_type", F.col("day").cast("timestamp").alias("day"),
        "n_events",
    )
    return mad_anomalies(daily, "event_type", "n_events", "day", 2.0)


def _stickiness_sql() -> str:
    from pybabe_spark.operators.timeseries import stickiness_sql

    return stickiness_sql("events", "user_id", "ts")


@register("stickiness_events", _stickiness_sql())
def q_stickiness(spark, sf_dir):
    """DAU/WAU/MAU engagement per day
    (operators/timeseries.py::stickiness): exact trailing-window
    distinct actives via the contribute-forward explode (fanout
    bounded by the window length, never the corpus), stickiness as
    floored integral ppm. One corpus-scale distinct to the (user, day)
    grain; everything after is hash aggs on that grain."""
    from pybabe_spark.operators.timeseries import stickiness

    ev = read_table(spark, sf_dir, "events")
    return stickiness(ev, "user_id", "ts")


def _sample_size_sql() -> str:
    from pybabe_spark.operators.sketch import required_sample_size_sql

    frame = """
      SELECT o_orderpriority,
             CAST(o_orderstatus = 'F' AS INT) AS done
      FROM orders
    """
    return required_sample_size_sql(frame, "done", by="o_orderpriority")


@register("sample_size_orders", _sample_size_sql())
def q_sample_size(spark, sf_dir):
    """A/B sample-size planning per priority
    (operators/sketch.py::required_sample_size): per-arm n needed to
    detect a 10% relative lift on the observed finished-order rate at
    α=0.05 / power 0.8 — the planning half proportion_ci's readout
    feeds. Fixed-shape IEEE power formula shared textually with the
    oracle over exact counts; one conditional hash agg."""
    from pybabe_spark.operators.sketch import required_sample_size

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("done"),
    )
    return required_sample_size(orders, "done", by="o_orderpriority")


def _seasonal_decompose_sql() -> str:
    from pybabe_spark.operators.timeseries import seasonal_decompose_sql

    return seasonal_decompose_sql(
        "events", "event_type", "ts", "value", period=24,
        bucket_seconds=3600,
    )


@register("seasonal_decompose_events", _seasonal_decompose_sql())
def q_seasonal_decompose(spark, sf_dir):
    """Classical additive trend/seasonal/remainder split of the hourly
    event-value series per type
    (operators/timeseries.py::seasonal_decompose): 2xMA trend over the
    even daily period with exact-decimal range-window sums and
    completeness guards, centered slot-mean seasonality. One corpus
    hash agg + key-partitioned windows on the bucket grain."""
    from pybabe_spark.operators.timeseries import seasonal_decompose

    ev = read_table(spark, sf_dir, "events")
    return seasonal_decompose(
        ev, "event_type", "ts", "value", period=24, bucket_seconds=3600
    )


def _snaive_sql() -> str:
    from pybabe_spark.operators.timeseries import snaive_forecast_sql

    return snaive_forecast_sql(
        "events", "event_type", "ts", "value", period=24, horizon=24,
        bucket_seconds=3600,
    )


@register("snaive_forecast_events", _snaive_sql())
def q_snaive_forecast(spark, sf_dir):
    """Next-day hourly seasonal-naive forecast per event type
    (operators/timeseries.py::snaive_forecast): the M-competition
    no-parameter baseline — pure lookup of the same slot one period
    back over exact bucket means, zero arithmetic to round. One
    corpus hash agg + a keys×horizon grid join."""
    from pybabe_spark.operators.timeseries import snaive_forecast

    ev = read_table(spark, sf_dir, "events")
    return snaive_forecast(
        ev, "event_type", "ts", "value", period=24, horizon=24,
        bucket_seconds=3600,
    )


def _backtest_sql() -> str:
    from pybabe_spark.operators.timeseries import forecast_backtest_sql

    return forecast_backtest_sql(
        "events", "event_type", "ts", "value", period=24,
        bucket_seconds=3600,
    )


@register("forecast_backtest_events", _backtest_sql())
def q_forecast_backtest(spark, sf_dir):
    """Seasonal-naive backtest per event type
    (operators/timeseries.py::forecast_backtest): last day held out,
    forecast one period back, exact micro-unit MAE + aggregate-form
    sMAPE (floored ppm) — the accuracy bar any real forecaster must
    beat. One bucket hash agg + a lookup self-join + one per-key agg,
    zero IEEE."""
    from pybabe_spark.operators.timeseries import forecast_backtest

    ev = read_table(spark, sf_dir, "events")
    return forecast_backtest(
        ev, "event_type", "ts", "value", period=24, bucket_seconds=3600
    )


def _g_test_sql() -> str:
    from pybabe_spark.operators.sketch import g_test_sql

    return g_test_sql(
        "SELECT o_orderpriority, o_orderstatus FROM orders",
        "o_orderpriority", "o_orderstatus",
    )


@register("g_test_orders", _g_test_sql())
def q_g_test(spark, sf_dir):
    """G-test of independence (operators/sketch.py::g_test) between
    order priority and status — chi2's likelihood-ratio sibling on the
    SAME cell-table plan (observed cells only: O·ln(O/E) vanishes at
    O=0, so no zero-cell grid); per-term DECIMAL(38,12) rounding +
    decimal sum, significance compared on the rounded value."""
    from pybabe_spark.operators.sketch import g_test

    orders = read_table(spark, sf_dir, "orders")
    return g_test(orders, "o_orderpriority", "o_orderstatus")


def _dunn_sql() -> str:
    from pybabe_spark.operators.sketch import dunn_test_sql

    return dunn_test_sql(
        "SELECT l_returnflag, l_extendedprice FROM lineitem",
        "l_returnflag", "l_extendedprice", z_crit=2.394,
    )


@register("dunn_test_lineitem", _dunn_sql())
def q_dunn_test(spark, sf_dir):
    """Dunn's post-hoc pairwise rank test after Kruskal–Wallis
    (operators/sketch.py::dunn_test) over return-flag price groups,
    Bonferroni z for 3 pairs: the SAME exact doubled-midrank machinery
    as kruskal_wallis (shared _kw_rank_sums), one groups² pair join on
    the tiny per-group table behind an in-plan guard. Rides the same
    session-memoized rank core as ``kruskal_wallis_lineitem``
    (:func:`_kw_core`) — the corpus is ranked once per session."""
    from pybabe_spark.operators.sketch import dunn_test

    li = read_table(spark, sf_dir, "lineitem")
    return dunn_test(
        li, "l_returnflag", "l_extendedprice", z_crit=2.394,
        rank_sums=_kw_core(spark, sf_dir),
    )


def _lorenz_sql() -> str:
    from pybabe_spark.operators.skew import lorenz_curve_sql

    return lorenz_curve_sql(
        "orders", "o_orderpriority", "o_totalprice", n_buckets=10
    )


@register("lorenz_curve_orders", _lorenz_sql())
def q_lorenz_curve(spark, sf_dir):
    """Per-priority revenue Lorenz curve
    (operators/skew.py::lorenz_curve): decile-by-decile cumulative
    population vs revenue shares — the whole concentration curve
    gini_orders_priority compresses to one number, in exact floored
    integral ppm (ntile arithmetic on ascending cents ranks, decimal
    cumulatives, zero IEEE)."""
    from pybabe_spark.operators.skew import lorenz_curve

    orders = read_table(spark, sf_dir, "orders")
    return lorenz_curve(
        orders, "o_orderpriority", "o_totalprice", n_buckets=10
    )


def _kendall_sql() -> str:
    from pybabe_spark.operators.sketch import kendall_tau_b_sql

    return kendall_tau_b_sql(
        "lineitem", "l_quantity", "l_discount", by="l_returnflag"
    )


@register("kendall_tau_lineitem", _kendall_sql())
def q_kendall_tau(spark, sf_dir):
    """Per-flag Kendall τ-b of quantity vs discount
    (operators/sketch.py::kendall_tau_b): exact pairwise concordance
    on the bounded 50×11 (quantity, discount) cell grid — the
    ordinal-scale twin of spearman_lineitem, with the guarded cells²
    join confined to ≤550 cells per flag while the corpus-side work
    is one hash agg."""
    from pybabe_spark.operators.sketch import kendall_tau_b

    li = read_table(spark, sf_dir, "lineitem")
    return kendall_tau_b(
        li, "l_quantity", "l_discount", by="l_returnflag"
    )


def _odds_ratio_sql() -> str:
    from pybabe_spark.operators.sketch import odds_ratio_sql

    return odds_ratio_sql(
        """SELECT o_orderpriority = '1-URGENT' AS urgent,
                  o_orderstatus = 'F' AS finished
           FROM orders""",
        "urgent", "finished",
    )


@register("odds_ratio_orders", _odds_ratio_sql())
def q_odds_ratio(spark, sf_dir):
    """Odds ratio + relative risk with Woolf CI for finished-status
    given urgent priority (operators/sketch.py::odds_ratio) — the
    2×2 effect size chi2_orders_priority_status's p-value hides.
    Exact bigint cells from one pass, fixed-shape log-interval
    finish rounded once to 6 dp."""
    from pybabe_spark.operators.sketch import odds_ratio

    orders = read_table(spark, sf_dir, "orders").select(
        (F.col("o_orderpriority") == "1-URGENT").alias("urgent"),
        (F.col("o_orderstatus") == "F").alias("finished"),
    )
    return odds_ratio(orders, "urgent", "finished")


def _herfindahl_sql() -> str:
    from pybabe_spark.operators.sketch import herfindahl_index_sql

    return herfindahl_index_sql(
        "orders", "o_custkey", "o_totalprice", by="o_orderpriority"
    )


@register("herfindahl_orders", _herfindahl_sql())
def q_herfindahl(spark, sf_dir):
    """Customer-concentration HHI per order priority
    (operators/sketch.py::herfindahl_index): how concentrated is each
    priority's revenue across customers — Σ share² in exact floored
    ppm plus the entity-count-independent normalized form. Pure
    integral arithmetic (cents sums, two floored divisions), zero
    IEEE; two map-combinable hash aggs."""
    from pybabe_spark.operators.sketch import herfindahl_index

    orders = read_table(spark, sf_dir, "orders")
    return herfindahl_index(
        orders, "o_custkey", "o_totalprice", by="o_orderpriority"
    )


def _friedman_sql() -> str:
    from pybabe_spark.operators.sketch import friedman_test_sql

    return friedman_test_sql(
        """SELECT user_id, event_type,
                  SUM(CAST(value AS DECIMAL(18,2))) AS v
           FROM events
           WHERE value IS NOT NULL
           GROUP BY user_id, event_type""",
        "user_id", "event_type", "v", chi2_crit=9.487729,
    )


@register("friedman_events", _friedman_sql())
def q_friedman(spark, sf_dir):
    """Friedman randomized-block test (operators/sketch.py::
    friedman_test): does per-user total value differ across the five
    event types once between-user level differences are ranked away —
    the repeated-measures question kruskal_wallis (which pools users)
    cannot ask. Blocks = users with all 5 types present; exact
    decimal cell sums feed within-block doubled midranks (block
    partitions ≤ 5 rows by construction), χ²(4) at α=0.05."""
    from pybabe_spark.operators.sketch import friedman_test

    ev = read_table(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .alias("v")
        )
    )
    return friedman_test(
        cells, "user_id", "event_type", "v", chi2_crit=9.487729
    )


#: funnel-position weights for Page's ordered-trend question over the
#: five event types (view first, error last) — integer literals shared
#: with the oracle, the _TREND_SCORES idiom
_PAGE_SCORES = {
    "view": 1, "click": 2, "signup": 3, "purchase": 4, "error": 5,
}


def _page_trend_sql() -> str:
    from pybabe_spark.operators.sketch import page_trend_test_sql

    return page_trend_test_sql(
        """SELECT user_id, event_type,
                  SUM(CAST(value AS DECIMAL(18,2))) AS v
           FROM events
           WHERE value IS NOT NULL
           GROUP BY user_id, event_type""",
        "user_id", "event_type", "v", _PAGE_SCORES,
    )


@register("page_trend_events", _page_trend_sql())
def q_page_trend(spark, sf_dir):
    """Page's L ordered-trend test (operators/sketch.py::
    page_trend_test): does per-user total value INCREASE along the
    funnel ordering of event types — the ordered refinement
    friedman_events (which only asks "any difference") cannot price,
    exactly as trend_test_orders refines chi2. Shares Friedman's
    _block_midranks verbatim; L from exact decimal doubled-rank sums,
    one-sided z at alpha=0.05."""
    from pybabe_spark.operators.sketch import page_trend_test

    ev = read_table(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    )
    return page_trend_test(
        cells, "user_id", "event_type", "v", _PAGE_SCORES
    )


def _cochran_q_sql() -> str:
    from pybabe_spark.operators.sketch import cochran_q_sql

    return cochran_q_sql(
        """SELECT u.user_id, t.event_type,
                  COALESCE(c.cnt, 0) >= 2 AS hit
           FROM (SELECT DISTINCT user_id FROM events) u
           CROSS JOIN (SELECT DISTINCT event_type FROM events) t
           LEFT JOIN (SELECT user_id, event_type, COUNT(*) AS cnt
                      FROM events GROUP BY user_id, event_type) c
             ON u.user_id = c.user_id AND t.event_type = c.event_type""",
        "user_id", "event_type", "hit", chi2_crit=9.487729,
    )


@register("cochran_q_events", _cochran_q_sql())
def q_cochran_q(spark, sf_dir):
    """Cochran's Q (operators/sketch.py::cochran_q) over the full
    user × event-type grid: do the five event types differ in their
    "user did it at least twice" rates across matched users —
    mcnemar's k-treatment generalization, χ²(4) at alpha=0.05. The
    grid is users × 5 via a broadcast cross join on the tiny distinct
    type list, so every block is complete by construction; exact
    integer C/R moments, one fixed-shape division."""
    from pybabe_spark.operators.sketch import cochran_q

    ev = read_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    types = ev.select("event_type").distinct()
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    grid = (
        users.crossJoin(F.broadcast(types))
        .join(counts, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            (F.coalesce(F.col("cnt"), F.lit(0)) >= 2).alias("hit"),
        )
    )
    return cochran_q(
        grid, "user_id", "event_type", "hit", chi2_crit=9.487729
    )


def _eb_shrink_sql() -> str:
    from pybabe_spark.operators.sketch import eb_shrink_rates_sql

    return eb_shrink_rates_sql(
        """SELECT o_custkey % 200 AS bucket,
                  CAST(o_orderstatus = 'F' AS INT) AS done
           FROM orders""",
        "bucket", "done",
    )


@register("eb_shrinkage_orders", _eb_shrink_sql())
def q_eb_shrinkage(spark, sf_dir):
    """Empirical-Bayes shrinkage of per-customer-bucket finished-order
    rates (operators/sketch.py::eb_shrink_rates): method-of-moments
    beta-binomial prior from the corpus rate distribution, each
    bucket's rate pulled toward it with evidence-weighted strength —
    the leaderboard fix naive per-group rates need. One group hash
    agg + one tiny moments agg broadcast back; 12dp/6dp rounding
    discipline, exact decimal moments."""
    from pybabe_spark.operators.sketch import eb_shrink_rates

    orders = read_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 200).alias("bucket"),
        (F.col("o_orderstatus") == "F").cast("int").alias("done"),
    )
    return eb_shrink_rates(orders, "bucket", "done")


def _sd_mult_sql() -> str:
    from pybabe_spark.operators.timeseries import seasonal_decompose_mult_sql

    return seasonal_decompose_mult_sql(
        "events", "event_type", "ts", "value", period=24,
        bucket_seconds=3600,
    )


@register("seasonal_decompose_mult_events", _sd_mult_sql())
def q_seasonal_decompose_mult(spark, sf_dir):
    """Multiplicative trend × seasonal-index × remainder split of the
    hourly event-value series
    (operators/timeseries.py::seasonal_decompose_mult): the additive
    form's shared bucket/trend machinery, then exact floored integer
    RATIO arithmetic — detrended ppm ratios, slot indices normalized
    to mean 1e6, ratio remainders — zero IEEE anywhere."""
    from pybabe_spark.operators.timeseries import seasonal_decompose_mult

    ev = read_table(spark, sf_dir, "events")
    return seasonal_decompose_mult(
        ev, "event_type", "ts", "value", period=24, bucket_seconds=3600
    )


def _mann_kendall_sql():
    from pybabe_spark.operators.timeseries import mann_kendall_sql

    return mann_kendall_sql(
        "events", "event_type", "ts", "value",
        bucket_seconds=86400, z_crit=1.959964,
    )


@register("mann_kendall_daily_events", _mann_kendall_sql())
def q_mann_kendall(spark, sf_dir):
    """Mann–Kendall monotone-trend test per event type over the DAILY
    cents-sum series (operators/timeseries.py::mann_kendall): exact
    S = Σ sign(xⱼ−xᵢ) and tie-corrected 18·Var(S) as pure integers
    over the bounded period grain (max_periods raise-guard — the pair
    join never touches corpus-sized data), continuity-corrected z
    rounded once vs ±1.96. The distribution-free sibling of
    theilsen_slope_events: MK signs the drift Theil–Sen prices."""
    from pybabe_spark.operators.timeseries import mann_kendall

    ev = read_table(spark, sf_dir, "events")
    return mann_kendall(
        ev, "event_type", "ts", "value",
        bucket_seconds=86400, z_crit=1.959964,
    )


def _cronbach_sql():
    from pybabe_spark.operators.sketch import cronbach_alpha_sql

    return cronbach_alpha_sql(
        "SELECT user_id, event_type, value FROM events",
        "user_id", "event_type", "value",
    )


@register("cronbach_alpha_events", _cronbach_sql())
def q_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha over the users × event-type battery
    (operators/sketch.py::cronbach_alpha): do the five per-type spend
    scores move together as one 'engagement' scale? The whole
    statistic is one exact integer identity — k(A−B)/((k−1)A) from
    DECIMAL(38,0) subject/item moments — emitted as sign-split
    integral ppm; one (subject,item) hash agg plus two tiny-grain
    finishes, no window, no join."""
    from pybabe_spark.operators.sketch import cronbach_alpha

    ev = read_table(spark, sf_dir, "events")
    return cronbach_alpha(ev, "user_id", "event_type", "value")


def _overdispersion_sql():
    from pybabe_spark.operators.sketch import overdispersion_sql

    return overdispersion_sql(
        "SELECT event_type, user_id FROM events",
        "event_type", "user_id", z_crit=1.959964,
    )


@register("overdispersion_events", _overdispersion_sql())
def q_overdispersion(spark, sf_dir):
    """Index-of-dispersion test per event type
    (operators/sketch.py::overdispersion): are per-user event counts
    Poisson (D≈1) or bursty (D>1) — the arrival-model decision that
    sets every downstream anomaly threshold. D = (nQ−S²)/((n−1)S) as
    an exact integral ppm over the observed (type,user) count grain,
    z = (D−1)√((n−1)/2) rounded once vs 1.96. Two map-combinable
    shuffles total."""
    from pybabe_spark.operators.sketch import overdispersion

    ev = read_table(spark, sf_dir, "events")
    return overdispersion(ev, "event_type", "user_id", z_crit=1.959964)


#: epoch-day of 2024-01-16 — the mid-January regime cutoff the chow
#: key splits on (events span January 2024; the literal is shared
#: verbatim with the oracle)
_CHOW_CUTOFF_DAY = 19738


def _chow_sql():
    from pybabe_spark.operators.regression import chow_test_sql

    frame = f"""
        SELECT CAST(epoch_us(ts) // 86400000000 AS DOUBLE) AS x,
               value AS y,
               (epoch_us(ts) // 86400000000) < {_CHOW_CUTOFF_DAY}
                 AS regime
        FROM events WHERE event_type = 'purchase'
    """
    return chow_test_sql(frame, "x", "y", "regime", f_crit=2.9957)


@register("chow_break_events", _chow_sql())
def q_chow_break(spark, sf_dir):
    """Chow structural-break test on purchase value vs day
    (operators/regression.py::chow_test): did the value-over-time
    line CHANGE mid-January? Pooled and per-regime OLS from ONE
    conditional DECIMAL(38,0) moment aggregation (the ols machinery,
    never a second pass), each RSS one once-rounded IEEE expression,
    F(2, n−4) vs the 2.9957 literal. The regime cutoff day is a
    shared literal — both engines split identically."""
    from pybabe_spark.operators.regression import chow_test

    ev = read_table(spark, sf_dir, "events")
    frame = ev.filter(F.col("event_type") == "purchase").select(
        F.expr("unix_micros(ts) div 86400000000")
        .cast("double")
        .alias("x"),
        F.col("value").alias("y"),
        (
            F.expr("unix_micros(ts) div 86400000000")
            < F.lit(_CHOW_CUTOFF_DAY)
        ).alias("regime"),
    )
    return chow_test(frame, "x", "y", "regime", f_crit=2.9957)


def _wasserstein_sql():
    from pybabe_spark.operators.sketch import wasserstein_1d_sql

    return wasserstein_1d_sql(
        "SELECT event_type, value FROM events",
        "event_type", "value", "click", "purchase",
    )


@register("wasserstein_events", _wasserstein_sql())
def q_wasserstein(spark, sf_dir):
    """Wasserstein-1 distance between click and purchase value
    distributions (operators/sketch.py::wasserstein_1d): the INTEGRAL
    of the ECDF gap ks_test_events only takes the sup of — how much
    probability mass moved, in dollars (the drift magnitude a retrain
    trigger wants). The numerator Σ|cumA·n_b − cumB·n_a|·Δv stays an
    exact integer over the de-globalized 1024-cell cumulative; the
    ≤1023 cell-boundary gaps are reconstructed from the bounded cell
    table (the offsets ARE the boundary cumulatives). One division at
    the end, rounded once."""
    from pybabe_spark.operators.sketch import wasserstein_1d

    ev = read_table(spark, sf_dir, "events")
    return wasserstein_1d(ev, "event_type", "value", "click", "purchase")


def _gumbel_sql():
    from pybabe_spark.operators.timeseries import gumbel_maxima_sql

    return gumbel_maxima_sql(
        "events", "event_type", "ts", "value",
        bucket_seconds=86400, return_period=100,
    )


@register("gumbel_maxima_events", _gumbel_sql())
def q_gumbel_maxima(spark, sf_dir):
    """Gumbel extreme-value fit on daily value maxima per event type
    (operators/timeseries.py::gumbel_maxima): method-of-moments
    β = s√6/π, μ = x̄ − γβ and the 100-day return level — the
    capacity-planning twin of volume_anomalies_events (what peak to
    provision for, not which peaks happened). Exact bigint block
    maxima and DECIMAL(38,0) moments; every fit column one fixed-shape
    IEEE expression rounded once. Two map-combinable shuffles."""
    from pybabe_spark.operators.timeseries import gumbel_maxima

    ev = read_table(spark, sf_dir, "events")
    return gumbel_maxima(
        ev, "event_type", "ts", "value",
        bucket_seconds=86400, return_period=100,
    )


def _conformal_sql():
    from pybabe_spark.operators.sketch import conformal_threshold_sql

    return conformal_threshold_sql(
        "SELECT event_type, value FROM events",
        "value", 0.1, by="event_type",
    )


@register("conformal_threshold_events", _conformal_sql())
def q_conformal(spark, sf_dir):
    """Split-conformal prediction threshold per event type
    (operators/sketch.py::conformal_threshold): the k-th smallest
    value with k = ⌈(n+1)·0.9⌉ — the finite-sample-valid 90%-coverage
    cutoff (the (n+1) correction is what a plain quantile lacks).
    Exact integer rank over bigint cents via the weighted_quantiles
    target-cell machinery: the rank resolves on the bounded cell
    table and the final walk touches only the target cell's slice."""
    from pybabe_spark.operators.sketch import conformal_threshold

    ev = read_table(spark, sf_dir, "events")
    return conformal_threshold(ev, "value", 0.1, by="event_type")


def _gesd_sql():
    from pybabe_spark.operators.sketch import gesd_outliers_sql

    return gesd_outliers_sql(
        "SELECT o_totalprice FROM orders", "o_totalprice",
        max_outliers=3,
    )


@register("gesd_outliers_orders", _gesd_sql())
def q_gesd(spark, sf_dir):
    """Generalized ESD multi-outlier rounds on order totals
    (operators/sketch.py::gesd_outliers): three remove-and-retest
    rounds over the (value, count) grain — grubbs' masking-proof
    extension. Every suspect is provably an extreme of the remaining
    set, so the rounds run driver-side on one 1-row moment collect +
    one ≤2k-row extremes collect (r13 optimization: the k unrolled
    plan layers were ~190 Exchanges / 76 local jobs). Exact integer
    moments adjusted per removal, (score, v) max with the fixed
    larger-value tiebreak, once-rounded R per round — bit-identical
    to the unrolled oracle. λ critical values are n-dependent, so the
    registry key certifies the statistics; decisions come from the
    lambdas parameter (tested with Rosner literals in
    test_round13_stats)."""
    from pybabe_spark.operators.sketch import gesd_outliers

    orders = read_table(spark, sf_dir, "orders")
    return gesd_outliers(orders, "o_totalprice", max_outliers=3)


def _nemenyi_sql():
    from pybabe_spark.operators.sketch import nemenyi_test_sql

    return nemenyi_test_sql(
        """SELECT user_id, event_type,
                  SUM(CAST(value AS DECIMAL(18,2))) AS v
           FROM events
           WHERE value IS NOT NULL
           GROUP BY user_id, event_type""",
        "user_id", "event_type", "v", q_crit=2.728,
    )


@register("nemenyi_events", _nemenyi_sql())
def q_nemenyi(spark, sf_dir):
    """Nemenyi post-hoc after friedman_events (operators/sketch.py::
    nemenyi_test): WHICH event-type pairs differ in within-user rank
    once the omnibus Friedman fires — each pair's mean-rank gap vs
    CD = q·√(k(k+1)/6B) with the k=5, α=0.05 studentized-range/√2
    literal 2.728. Shares friedman's exact block-midrank machinery
    (the test-then-post-hoc discipline of kruskal/dunn); the pair
    join is confined to the ≤max_treatments-row per-treatment table
    behind an in-plan raise-guard."""
    from pybabe_spark.operators.sketch import nemenyi_test

    ev = read_table(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .alias("v")
        )
    )
    return nemenyi_test(
        cells, "user_id", "event_type", "v", q_crit=2.728
    )


@register(
    "asof_nearest_click",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS click_ts, value AS click_value
               FROM events WHERE event_type = 'click'),
         cand AS (
           SELECT p.event_id, p.user_id, p.ts,
                  (SELECT max(c1.click_ts) FROM c c1
                   WHERE c1.user_id = p.user_id
                     AND c1.click_ts <= p.ts) AS bts,
                  (SELECT min(c2.click_ts) FROM c c2
                   WHERE c2.user_id = p.user_id
                     AND c2.click_ts >= p.ts) AS fts
           FROM p
         ),
         pick AS (
           SELECT event_id, user_id, ts,
                  CASE
                    WHEN bts IS NULL THEN fts
                    WHEN fts IS NULL THEN bts
                    WHEN (epoch_us(ts) - epoch_us(bts))
                         <= (epoch_us(fts) - epoch_us(ts)) THEN bts
                    ELSE fts
                  END AS click_ts
           FROM cand
         )
    SELECT k.event_id, k.user_id, k.ts, k.click_ts,
           (SELECT max(c3.click_value) FROM c c3
            WHERE c3.user_id = k.user_id
              AND c3.click_ts = k.click_ts) AS click_value
    FROM pick k
    """,
)
def q_asof_nearest_click(spark, sf_dir):
    """Nearest-either-side as-of enrichment: each purchase gets the
    user's CLOSEST click in time (operators/join.py::asof_join,
    direction='nearest' — pandas merge_asof parity incl. the
    ties-go-backward rule). One key shuffle carries both running
    candidates; the oracle replays the pick with correlated min/max
    subqueries. The matched click_value is re-fetched by (user,
    picked ts) in BOTH engines — max() over the matched timestamp's
    rows, a deterministic tiebreak when a user has two clicks on the
    same microsecond."""
    from pybabe_spark.operators import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    joined = asof_join(
        purchases, clicks, on="user_id",
        left_ts="ts", right_ts="click_ts", direction="nearest",
    )
    # deterministic payload at duplicate matched timestamps: re-fetch
    # click_value as max() per (user, picked ts), mirroring the oracle
    per_ts = clicks.groupBy("user_id", "click_ts").agg(
        F.max("click_value").alias("click_value")
    )
    return (
        joined.drop("click_value")
        .join(per_ts, ["user_id", "click_ts"], "left")
        .select("event_id", "user_id", "ts", "click_ts", "click_value")
    )


def _mood_sql() -> str:
    from pybabe_spark.operators.sketch import mood_median_test_sql

    return mood_median_test_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        "o_orderpriority",
        "o_totalprice",
        crit=9.487729,
    )


@register("mood_median_orders", _mood_sql())
def q_mood_median(spark, sf_dir):
    """Mood's median test of order value across priorities
    (operators/sketch.py::mood_median_test): do the five priority
    tiers share a common median order value? The outlier-proof
    k-sample location check next to kruskal_wallis' rank view —
    exact lower-median via an integer reach test over the cents
    value grain, exactly-median rows counted below, then
    chi2_independence's exact floored-ppm cell sum (dof = 4, crit
    9.488 at α=0.05). Two corpus shuffles."""
    from pybabe_spark.operators.sketch import mood_median_test

    orders = read_table(spark, sf_dir, "orders")
    return mood_median_test(
        orders, "o_orderpriority", "o_totalprice", crit=9.487729
    )


def _cochran_armitage_sql() -> str:
    from pybabe_spark.operators.sketch import cochran_armitage_trend_sql

    return cochran_armitage_trend_sql(
        """SELECT CAST(substr(o_orderpriority, 1, 1) AS INTEGER)
                     AS tier,
                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                     AS finished
           FROM orders""",
        "tier",
        "finished",
        z_crit=1.959964,
    )


@register("cochran_armitage_orders", _cochran_armitage_sql())
def q_cochran_armitage(spark, sf_dir):
    """Cochran–Armitage trend test: does the share of FINISHED orders
    trend across the ordered priority tiers 1-URGENT → 5-LOW
    (operators/sketch.py::cochran_armitage_trend)? One dof spent on
    the ordered alternative chi2 can't see. Five exact decimal
    counters in ONE map-combinable keyless agg; T's sign names the
    direction exactly, z rounds once."""
    from pybabe_spark.operators.sketch import cochran_armitage_trend

    orders = read_table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1)
        .cast("int")
        .alias("tier"),
        (F.col("o_orderstatus") == "F").cast("int").alias("finished"),
    )
    return cochran_armitage_trend(
        orders, "tier", "finished", z_crit=1.959964
    )


def _bartlett_sql() -> str:
    from pybabe_spark.operators.sketch import bartlett_test_sql

    return bartlett_test_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        "o_orderpriority",
        "o_totalprice",
        crit=9.487729,
    )


@register("bartlett_orders", _bartlett_sql())
def q_bartlett(spark, sf_dir):
    """Bartlett's equal-variance test of order value across priorities
    (operators/sketch.py::bartlett_test) — the pre-flight check
    anova_orders_price assumes and brown_forsythe_orders
    robustifies; read the three together. Exact cents moments per
    group, per-term-rounded decimal summands (associative), one
    fixed-shape finish (dof = 4, crit 9.488). One group agg + one
    k-row agg."""
    from pybabe_spark.operators.sketch import bartlett_test

    orders = read_table(spark, sf_dir, "orders")
    return bartlett_test(
        orders, "o_orderpriority", "o_totalprice", crit=9.487729
    )


def _jarque_bera_sql() -> str:
    from pybabe_spark.operators.sketch import jarque_bera_sql

    return jarque_bera_sql(
        "SELECT o_orderpriority, o_totalprice FROM orders",
        "o_totalprice",
        by="o_orderpriority",
        crit=5.991465,
    )


@register("jarque_bera_orders", _jarque_bera_sql())
def q_jarque_bera(spark, sf_dir):
    """Jarque–Bera normality test of order value per priority
    (operators/sketch.py::jarque_bera): skewness + excess kurtosis
    from two-pass STANDARDIZED moments (exact cents moments → per-row
    t = (x−μ)/σ → per-term-rounded t³/t⁴ decimal sums — the shape
    that neither overflows DECIMAL(38) at petabyte rows nor cancels
    catastrophically at 6-digit means), JB vs the χ²(2) critical.
    The is-it-even-normal gate for every z-based verdict in the
    module. Two map-combinable shuffles + a broadcast moments join."""
    from pybabe_spark.operators.sketch import jarque_bera

    orders = read_table(spark, sf_dir, "orders")
    return jarque_bera(
        orders, "o_totalprice", by="o_orderpriority", crit=5.991465
    )


def _theil_sql() -> str:
    from pybabe_spark.operators.skew import theil_index_sql

    return theil_index_sql("orders", "o_orderpriority", "o_totalprice")


@register("theil_orders_priority", _theil_sql())
def q_theil_index(spark, sf_dir):
    """Theil-T inequality of order value per priority WITH the
    between/within decomposition gini can't give
    (operators/skew.py::theil_index): per-tier inequality, exact ppm
    revenue share, and each tier's between-group contribution —
    total corpus inequality is the k-row consumer-side sum. Entropy
    discipline: per-term-rounded (c·x)·ln x over the (group, cents)
    grain, exact decimals elsewhere. Two map-combinable shuffles."""
    from pybabe_spark.operators.skew import theil_index

    orders = read_table(spark, sf_dir, "orders")
    return theil_index(orders, "o_orderpriority", "o_totalprice")


def _jonckheere_sql() -> str:
    from pybabe_spark.operators.sketch import jonckheere_terpstra_sql

    return jonckheere_terpstra_sql(
        """SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT)
                     AS ship_year,
                  l_quantity
           FROM lineitem""",
        "ship_year",
        "l_quantity",
        z_crit=1.959964,
    )


@register("jonckheere_lineitem", _jonckheere_sql())
def q_jonckheere(spark, sf_dir):
    """Jonckheere–Terpstra ordered trend of line-item quantity across
    ship YEARS (operators/sketch.py::jonckheere_terpstra): does
    quantity drift monotonically over the 1995–2001 span — one dof on
    the ordered alternative, doubled-integer JT over the
    (50 quantities × 7 years) grain, exact Hollander–Wolfe tie sums,
    once-rounded z. One corpus (year, quantity) hash agg; the grain is
    limit-proved small, collects, and the statistic finishes
    driver-side as exact integers (r14)."""
    from pybabe_spark.operators.sketch import jonckheere_terpstra

    li = read_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("bigint").alias("ship_year"),
        "l_quantity",
    )
    return jonckheere_terpstra(
        li, "ship_year", "l_quantity", z_crit=1.959964
    )


def _pettitt_sql() -> str:
    from pybabe_spark.operators.timeseries import pettitt_test_sql

    return pettitt_test_sql(
        "events", "event_type", "ts", "value",
        bucket_seconds=86400, alpha_ppm=50_000,
    )


@register("pettitt_events", _pettitt_sql())
def q_pettitt(spark, sf_dir):
    """Pettitt changepoint per event type over daily value sums
    (operators/timeseries.py::pettitt_test): WHERE does each series'
    level shift — rank-based, no assumed break date (chow_break needs
    one; this finds it). Exact integer U_t via the cumulative sign
    identity over the bounded daily-bucket grain (T ≤ 31 ⇒ T² pairs
    per key), first-argmax tiebreak, once-rounded p vs α=0.05. One
    corpus bucket agg; the rest is grain-sized."""
    from pybabe_spark.operators.timeseries import pettitt_test

    ev = read_table(spark, sf_dir, "events")
    return pettitt_test(
        ev, "event_type", "ts", "value",
        bucket_seconds=86400, alpha_ppm=50_000,
    )


def _holt_sql() -> str:
    from pybabe_spark.operators.timeseries import holt_linear_sql

    return holt_linear_sql(
        "events", "event_type", "ts", "value",
        bucket_seconds=86400, horizon=3,
    )


@register("holt_linear_events", _holt_sql())
def q_holt_linear(spark, sf_dir):
    """Holt linear-trend smoothing per event type over daily value
    sums (operators/timeseries.py::holt_linear): final level + slope
    and 1–3-day-ahead forecasts. α=β=½ BY DESIGN — the whole
    recursion runs as exact DECIMAL(38,0) dyadic numerators over 4^t
    (the ewma_smooth no-float-accumulation rationale made recursive),
    folded over the sorted bucket array in Spark and replayed
    digit-identically by a recursive HUGEINT CTE in DuckDB. One
    corpus bucket agg + an O(T)-per-key fold."""
    from pybabe_spark.operators.timeseries import holt_linear

    ev = read_table(spark, sf_dir, "events")
    return holt_linear(
        ev, "event_type", "ts", "value",
        bucket_seconds=86400, horizon=3,
    )


def _breusch_pagan_sql() -> str:
    from pybabe_spark.operators.regression import breusch_pagan_sql

    return breusch_pagan_sql(
        "SELECT l_quantity, l_extendedprice FROM lineitem",
        "l_quantity",
        "l_extendedprice",
        crit=3.841459,
    )


@register("breusch_pagan_lineitem", _breusch_pagan_sql())
def q_breusch_pagan(spark, sf_dir):
    """Breusch–Pagan heteroscedasticity test on the price~quantity
    fit (operators/regression.py::breusch_pagan): does residual
    variance fan out with quantity — the does-the-OLS-SE-lie check
    next to ols_lineitem_price_qty and durbin_watson's
    autocorrelation view. Exact pass-1 moments, one-round squared
    residuals, associative decimal aux moments, LM = n·R² vs χ²(1).
    Two map-combinable corpus aggs + a 1-row attach."""
    from pybabe_spark.operators.regression import breusch_pagan

    li = read_table(spark, sf_dir, "lineitem")
    return breusch_pagan(
        li, "l_quantity", "l_extendedprice", crit=3.841459
    )


def _max_drawdown_sql() -> str:
    from pybabe_spark.operators.timeseries import max_drawdown_sql

    return max_drawdown_sql(
        "events", "event_type", "ts", "value", bucket_seconds=86400
    )


@register("max_drawdown_events", _max_drawdown_sql())
def q_max_drawdown(spark, sf_dir):
    """Maximum drawdown per event type of the cumulative daily value
    curve (operators/timeseries.py::max_drawdown): the worst
    peak-to-trough fall — the mid-month-crater risk readout a running
    total hides. Exact integer curve/peak/gap over the daily bucket
    grain, deterministic (dd, −t) argmax, one window pass + one key
    agg."""
    from pybabe_spark.operators.timeseries import max_drawdown

    ev = read_table(spark, sf_dir, "events")
    return max_drawdown(
        ev, "event_type", "ts", "value", bucket_seconds=86400
    )


def _dickey_fuller_sql() -> str:
    from pybabe_spark.operators.timeseries import dickey_fuller_sql

    return dickey_fuller_sql(
        "events", "event_type", "ts", "value",
        bucket_seconds=86400, tau_crit=-2.86,
    )


@register("dickey_fuller_events", _dickey_fuller_sql())
def q_dickey_fuller(spark, sf_dir):
    """Dickey–Fuller unit-root test per event type over daily value
    sums (operators/timeseries.py::dickey_fuller, constant/no-trend,
    lag 0): mean-reverting or random walk — the check that says
    whether mann_kendall's trend is drift and whether level z-gates
    mean anything. Exact decimal lag-pair moments, fixed-shape β/τ
    (cross-checked vs direct OLS), τ vs −2.86. One bucket agg + one
    lag window + one map-combinable key agg."""
    from pybabe_spark.operators.timeseries import dickey_fuller

    ev = read_table(spark, sf_dir, "events")
    return dickey_fuller(
        ev, "event_type", "ts", "value",
        bucket_seconds=86400, tau_crit=-2.86,
    )


_GRANGER_FRAME_SQL = """
    SELECT 'events' AS series, ts,
           CASE WHEN event_type = 'click' THEN value ELSE 0 END
             AS click_value,
           CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
             AS purchase_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
"""


def _granger_sql() -> str:
    from pybabe_spark.operators.timeseries import granger_causality_sql

    return granger_causality_sql(
        f"({_GRANGER_FRAME_SQL})",
        "series",
        "ts",
        "click_value",
        "purchase_value",
        bucket_seconds=86400,
        f_crit=4.21,
    )


@register("granger_click_purchase", _granger_sql())
def q_granger(spark, sf_dir):
    """Granger causality at lag 1: does yesterday's CLICK value lead
    today's PURCHASE revenue beyond purchase's own yesterday
    (operators/timeseries.py::granger_causality)? The directional
    upgrade of ccf_activity_purchases' symmetric view — restricted
    vs unrestricted lag regression, exact n-scaled decimal moments,
    fixed-shape two-regressor solve, F(1, n−3) vs 4.21. One bucket
    agg + one lag window + one key agg."""
    from pybabe_spark.operators.timeseries import granger_causality

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    frame = ev.select(
        F.lit("events").alias("series"),
        "ts",
        F.when(F.col("event_type") == "click", F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("click_value"),
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("purchase_value"),
    )
    return granger_causality(
        frame,
        "series",
        "ts",
        "click_value",
        "purchase_value",
        bucket_seconds=86400,
        f_crit=4.21,
    )


def _price_index_sql() -> str:
    from pybabe_spark.operators.sketch import price_index_sql

    return price_index_sql(
        """(SELECT l_partkey,
                   l_extendedprice,
                   l_quantity,
                   CAST(EXTRACT(year FROM l_shipdate) AS BIGINT)
                     AS ship_year
            FROM lineitem)""",
        "l_partkey",
        "l_extendedprice",
        "l_quantity",
        "ship_year",
        "1995",
        "1996",
    )


@register("price_index_lineitem", _price_index_sql())
def q_price_index(spark, sf_dir):
    """Laspeyres/Paasche/Fisher price indices 1995 → 1996 over the
    matched part sample (operators/sketch.py::price_index): did unit
    prices move, or did the product mix — the decomposition a raw
    revenue-per-unit comparison conflates. Exact cents/micro unit
    values, per-term-rounded DECIMAL(28,6) basket sums, fixed-shape
    ratios. One (part, year) hash agg + one part-grain agg."""
    from pybabe_spark.operators.sketch import price_index

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_extendedprice",
        "l_quantity",
        F.year("l_shipdate").cast("bigint").alias("ship_year"),
    )
    return price_index(
        li,
        "l_partkey",
        "l_extendedprice",
        "l_quantity",
        "ship_year",
        1995,
        1996,
    )


def _turning_points_sql() -> str:
    from pybabe_spark.operators.timeseries import turning_points_test_sql

    return turning_points_test_sql(
        "events", "event_type", "ts", "value", bucket_seconds=86400
    )


@register("turning_points_events", _turning_points_sql())
def q_turning_points(spark, sf_dir):
    """Kendall turning-points randomness test per event type over
    daily value sums (operators/timeseries.py::turning_points_test):
    local peaks+troughs vs the i.i.d. 2(n−2)/3 expectation — the
    nonlinear third lens next to runs_test (level runs) and acf
    (linear). Exact integer turn count via one lag/lead window on
    the bucket grain, strict-extremum plateau convention, one
    fixed-shape z."""
    from pybabe_spark.operators.timeseries import turning_points_test

    ev = read_table(spark, sf_dir, "events")
    return turning_points_test(
        ev, "event_type", "ts", "value", bucket_seconds=86400
    )


def _cmh_sql() -> str:
    from pybabe_spark.operators.sketch import cmh_test_sql

    return cmh_test_sql(
        """SELECT event_type,
                  CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END
                    AS cohort_a,
                  CASE WHEN value > 50 THEN 1 ELSE 0 END AS high_value
           FROM events""",
        "event_type",
        "cohort_a",
        "high_value",
        crit=3.841459,
    )


@register("cmh_events", _cmh_sql())
def q_cmh(spark, sf_dir):
    """Cochran–Mantel–Haenszel stratified association: is the
    high-value rate tied to the user cohort CONSISTENTLY across event
    types (operators/sketch.py::cmh_test)? The confounder-adjusted
    view pooled chi2 can Simpson-flip and single-table odds_ratio
    can't stratify — exact 2×2×K cells from one conditional agg,
    per-term-rounded rational sums, fixed-shape CMH vs χ²(1) and the
    Mantel–Haenszel common odds ratio."""
    from pybabe_spark.operators.sketch import cmh_test

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2 == 0).cast("int").alias("cohort_a"),
        (F.col("value") > 50).cast("int").alias("high_value"),
    )
    return cmh_test(
        ev, "event_type", "cohort_a", "high_value", crit=3.841459
    )
