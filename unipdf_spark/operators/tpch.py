"""TPC-H-ish relational operators over the driver star schema.

Written Spark-first: declarative DataFrame plans so Catalyst gets predicate
pushdown / column pruning / join reordering for free; small dimensions are
explicitly broadcast (region/nation/customer at this scale); aggregates are
partial-aggregated map-side by the engine. At 100 TB the same plans hold:
the fact table (lineitem) shuffles once per group-by key, dimension joins stay
broadcast, and AQE handles skewed keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schema import read_sf as _t


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
       ROUND(AVG(l_discount), 4)                                        AS avg_disc,
       COUNT(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15"))
    return (
        # no broadcast hints on orders/customer: at 100x they are multi-GB
        # build sides; AQE picks broadcast when the filtered side is small
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       STRFTIME(o_orderdate, '%Y-%m-%d')                      AS orderdate,
       o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)      AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        # orders/customer unhinted (fact-sized at scale; AQE decides);
        # supplier/nation/region stay hinted (true dimensions)
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            c,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*)                                    AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join shape (EXISTS): orders with at least one late-shipped item."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    late = l.join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90))
    return (
        o.join(
            late.select("l_orderkey").distinct(),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 customers by order value within each segment."""
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("total_spent"), F.col("c_custkey")
    )
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("c_mktsegment", "rank")
    )


TOP_CUST_SQL = """
WITH rev AS (
    SELECT c_mktsegment, c_custkey,
           ROUND(SUM(o_totalprice), 2) AS total_spent
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, c_custkey
)
SELECT c_mktsegment, c_custkey, total_spent, rank
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY c_mktsegment ORDER BY total_spent DESC, c_custkey
    ) AS rank
    FROM rev
)
WHERE rank <= 3
ORDER BY c_mktsegment, rank
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative sum of session starts) —
    the relational analog of the extractor's gap-based word clustering
    (SURVEY §2.3 'sessionization')."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                # ts carries microseconds: compare fractional-second gaps
                # via interval arithmetic (unix_timestamp() truncates to
                # whole seconds; NTZ timestamps don't cast to double).
                | (F.col("ts") - F.col("prev_ts") > F.expr("INTERVAL 1800 SECONDS"))
            ).cast("int"),
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


SESSIONIZE_SQL = """
WITH marked AS (
    SELECT user_id, value,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(*)                 AS n_events,
       ROUND(SUM(value), 2)     AS total_value
FROM marked
GROUP BY user_id
ORDER BY user_id
"""


def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


HOURLY_SQL = """
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type,
       COUNT(*)             AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets shape: ROLLUP over (returnflag, linestatus) — subtotal
    and grand-total rows come from the same single scan."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                    ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) per-user value over event time — the ordered
    window frame family."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
        F.count("*").over(w).alias("event_seq"),
    ).orderBy("user_id", "event_seq")


RUNNING_SQL = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER w, 2) AS running_value,
       COUNT(*) OVER w AS event_seq
FROM events
WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_seq
"""


def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dimension aggregate: lineitem joined to part (broadcast) rolled
    up by brand/type."""
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                    ).alias("revenue"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_retail"),
            F.count("*").alias("n_items"),
        )
        .orderBy("p_brand")
    )


BRAND_SQL = """
SELECT p_brand,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       ROUND(AVG(p_retailprice), 4) AS avg_retail,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analog: shipping volume between two nations by year.
    Dimension chain (supplier→nation, orders→customer→nation) broadcasts;
    the fact table shuffles once for the final group-by."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_name").alias("cust_nation"))
    pair = (F.col("supp_nation") == "NATION_1") & (
        F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2") & (
        F.col("cust_nation") == "NATION_1")
    return (
        l.join(F.broadcast(su), l.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate)::INT AS l_year,
           l_extendedprice * (1 - l_discount) AS volume
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog (no partsupp table in this schema, so profit =
    discounted revenue): per supplier-nation per year over parts whose name
    contain a token ('ring')."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    su = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(p.filter(F.col("p_name").contains("ring"))),
               l.l_partkey == p.p_partkey)
        .join(F.broadcast(su), l.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("l_shipdate").alias("o_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation, EXTRACT(year FROM l_shipdate)::INT AS o_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%ring%'
GROUP BY n_name, EXTRACT(year FROM l_shipdate)::INT
ORDER BY nation, o_year DESC
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analog: top-20 customers by revenue lost to returns in one
    quarter. Fact filtered before the join; customer/nation broadcast."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.filter((F.col("o_orderdate") >= F.lit("1996-01-01"))
                 & (F.col("o_orderdate") < F.lit("1996-04-01")))
        .join(l.filter(F.col("l_returnflag") == "R"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        # floor(x*100+0.5)/100: engine-portable 2-digit rounding — plain
        # ROUND diverges between engines exactly at .xx5 (Spark rounds the
        # shortest-decimal rendering, DuckDB the binary double)
        .agg((F.floor(F.sum(F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))) * 100 + 0.5) / 100)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: promo revenue share for one month — conditional
    aggregation over a broadcast part join."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter((F.col("l_shipdate") >= F.lit("1996-03-01"))
                 & (F.col("l_shipdate") < F.lit("1996-04-01")))
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                        .otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
"""


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: disjunctive brand/size/quantity predicates — the
    OR-of-ANDs shape Catalyst must keep as a single join filter (no
    cartesian)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#11") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#22") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(5, 35)))
        | ((F.col("p_brand") == "Brand#15") & (F.col("p_size").between(1, 50))
           & (F.col("l_quantity").between(10, 50)))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


Q19_SQL = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 5 AND 35)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 10 AND 50)
"""



def user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel view→click→purchase: per stage, how many users
    reached it IN ORDER (min-timestamp comparison per user — one shuffle on
    user_id with map-side partial min aggregation)."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    return per_user.agg(
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .alias("n_view"),
        F.sum(F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0))
        .alias("n_click_after_view"),
        F.sum(F.when((F.col("t_click") > F.col("t_view"))
                     & (F.col("t_buy") > F.col("t_click")), 1).otherwise(0))
        .alias("n_full_funnel"),
    )


USER_FUNNEL_SQL = """
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END)     AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END)    AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
    FROM events GROUP BY user_id
)
SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_view,
       CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
           AS n_click_after_view,
       CAST(SUM(CASE WHEN t_click > t_view AND t_buy > t_click
                     THEN 1 ELSE 0 END) AS BIGINT)           AS n_full_funnel
FROM per_user
"""


def props_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column: extract the numeric "k" attribute with
    a portable regexp (JSON functions differ between engines) and aggregate
    per event type — the JSON-ish payload leg a log pipeline needs."""
    e = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


PROPS_KEY_SQL = r"""
SELECT event_type, COUNT(*) AS n,
       ROUND(AVG(k), 4) AS avg_k, MAX(k) AS max_k
FROM (
    SELECT event_type,
           CAST(REGEXP_EXTRACT(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
    FROM events
)
WHERE k IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""



QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q14_promo_effect": q14_promo_effect,
    "q19_discounted_revenue": q19_discounted_revenue,
    "top_customers_per_segment": top_customers_per_segment,
    "events_sessionize": events_sessionize,
    "user_funnel": user_funnel,
    "props_key_stats": props_key_stats,
    "events_hourly_rollup": events_hourly_rollup,
    "revenue_rollup": revenue_rollup,
    "user_running_value": user_running_value,
    "brand_revenue": brand_revenue,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q4_order_priority": Q4_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q9_product_profit": Q9_SQL,
    "q10_returned_items": Q10_SQL,
    "q14_promo_effect": Q14_SQL,
    "q19_discounted_revenue": Q19_SQL,
    "top_customers_per_segment": TOP_CUST_SQL,
    "events_sessionize": SESSIONIZE_SQL,
    "user_funnel": USER_FUNNEL_SQL,
    "props_key_stats": PROPS_KEY_SQL,
    "events_hourly_rollup": HOURLY_SQL,
    "revenue_rollup": ROLLUP_SQL,
    "user_running_value": RUNNING_SQL,
    "brand_revenue": BRAND_SQL,
}
