"""Headline analytical queries (TPC-H-shaped).

These compose the §2 operators into realistic multi-operator pipelines
over the star schema — the closest analogue of the reference's
fixed-shape analytical pipelines (SURVEY.md §0), and the queries whose
sf0.1 wall-clock the driver benchmarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.functions.scalar import micro_units, money_sum, revenue_expr
from laser_hadoop_spark.registry import register
from laser_hadoop_spark.tables import table


@register(
    "q_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                               AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-scan multi-aggregate pricing summary.

    Pure map-side partial aggregation into a tiny exchange — the plan
    that must hold at 100 TB (no shuffle of raw rows).
    """
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_quantity"), scale=2).alias("sum_qty"),
            money_sum(F.col("l_extendedprice"), scale=2).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> top-k.

    customer is filtered then broadcast; lineitem join stays on the fact
    side; final top-20 is TakeOrderedAndProject (no global sort).
    """
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1995-03-15")
    li = table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(revenue_expr()).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(20)
    )


@register(
    "q_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1994-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with a multi-key (supp+nation) edge.

    All dims broadcast; the only shuffle is lineitem x orders. The
    c_nationkey = s_nationkey condition rides the supplier join as a
    residual multi-key equi-condition.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1994-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(revenue_expr()).alias("revenue"))
    )


@register(
    "q_scalar_subquery",
    oracle="""
    SELECT p_brand,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4)
               AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_size <= 5
      AND l_quantity < (
          SELECT 0.2 * AVG(l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = lineitem.l_partkey
      )
    GROUP BY p_brand
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (small-order revenue).

    Declared through the SQL surface so Catalyst's subquery
    decorrelation plans it — the correlated AVG becomes one grouped
    aggregate joined back to the fact scan (two scans of lineitem, one
    shuffle each, no per-row subquery execution). The reference has no
    subquery mechanism at all; this is pure optimizer leverage
    (SURVEY.md §4: decorrelation listed among Catalyst capabilities the
    reference never had).
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("lineitem", "part"))
    return spark.sql(
        """
        SELECT p_brand,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4)
                   AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_size <= 5
          AND l_quantity < (
              SELECT 0.2 * AVG(l_quantity)
              FROM lineitem l2
              WHERE l2.l_partkey = lineitem.l_partkey
          )
        GROUP BY p_brand
        """
    )


@register(
    "q_shipmode_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
    GROUP BY l_linestatus
    """,
)
def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts over a fact-fact join.

    The IN-list CASE pair runs inside the post-join project, so the
    aggregate is two codegen'd conditional sums — the reference's
    SHARED/TOTAL two-counters-one-pass pattern
    (LASERInputCheckMapper.java:239-251) over a join instead of a scan.
    """
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q_promo_revenue",
    oracle="""
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000
                                         + 0.5) AS BIGINT) ELSE 0 END)
             / SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000 + 0.5)
                        AS BIGINT)),
           4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate <  TIMESTAMP '1995-10-01'
    """,
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional to total revenue.

    Both sums aggregate exact micro-unit int64s (micro_units pattern on
    BOTH engines — identical floor(x*1e6+0.5) spelling), so the final
    double ratio is bit-identical cross-engine: same two integers, same
    one division. Part side broadcasts; one shuffle for the 1-row agg.
    """
    from laser_hadoop_spark.functions.scalar import micro_units

    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    p = table(spark, sf_dir, "part")
    rev = micro_units(revenue_expr())
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


@register(
    "q_disjunctive_pred",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-AND predicate blocks across a join.

    Catalyst pushes the common-prefix simplifications and keeps the
    disjunction as the join's residual condition; per-side conjuncts
    that appear in every branch (none here by design) would be pushed
    below the join. The interesting scale property: the part side still
    broadcasts and the fact scan still prunes columns — disjunctions
    don't break pushdown, they only widen the residual filter.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    q, sz, br = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((br == "Brand#1") & sz.between(1, 15) & q.between(1, 20))
        | ((br == "Brand#2") & sz.between(10, 30) & q.between(10, 30))
        | ((br == "Brand#3") & sz.between(20, 50) & q.between(20, 50))
    )
    return j.where(cond).agg(
        F.count("*").alias("n_lines"),
        money_sum(revenue_expr()).alias("revenue"),
    )


@register(
    "q_inactive_customers",
    oracle="""
    SELECT c_nationkey % 10 AS cgroup,
           COUNT(*) AS n_custs,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY c_nationkey % 10
    """,
)
def q_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery + NOT EXISTS.

    Rich customers who never ordered: the scalar AVG becomes a 1-row
    broadcast; NOT EXISTS rewrites to a left-anti join on o_custkey
    (J3's violation-detect pattern, LASERInputCheckMapper.java:139-143,
    as a declarative subquery). Orders side is pre-projected to the
    join key only, so the anti join shuffles one bigint column.
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("customer", "orders"))
    return spark.sql(
        """
        SELECT c_nationkey % 10 AS cgroup,
               COUNT(*) AS n_custs,
               ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4)
                   AS total_bal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        GROUP BY c_nationkey % 10
        """
    )


@register(
    "q_forecast_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount
                               AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: fully-pushed-down selective scan + 1-row aggregate.

    Every predicate reaches the parquet reader; the aggregate is a
    map-side partial into a 1-row exchange — at 100 TB this query is
    I/O-bound scan + row-group skipping on the shipdate min/max stats.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
        )
    )


@register(
    "q_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(ROUND(SUM(CAST(volume AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional two-nation trade volume by year.

    The nation dimension joins TWICE (supplier side and customer side)
    under different aliases; both broadcast. The disjunctive nation
    pair predicate runs post-join but before the aggregate, so the only
    shuffle is the final (nation, nation, year) aggregate.
    """
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(money_sum(revenue_expr()).alias("revenue"))
    )


@register(
    "q_market_share",
    oracle="""
    SELECT o_year,
           ROUND(100.0 * CAST(SUM(CASE WHEN nation = 'NATION_3'
                                       THEN vol_micro ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(vol_micro) AS DOUBLE), 4) AS mkt_share_pct
    FROM (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
               CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000 + 0.5)
                    AS BIGINT) AS vol_micro,
               n1.n_name AS nation
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region   ON n2.n_regionkey = r_regionkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
    )
    GROUP BY o_year
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional volume per year.

    Seven-table join (region gates the CUSTOMER nation; the SUPPLIER
    nation labels the share) — every dimension broadcasts, lineitem
    never shuffles before the per-year aggregate. The share is a ratio
    of two exact micro-unit int64 sums computed identically on both
    engines, so the division is bit-identical (q_promo_revenue
    pattern).
    """
    from laser_hadoop_spark.functions.scalar import micro_units

    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("nation")
    )
    vol_micro = micro_units(revenue_expr())
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("nation") == "NATION_3", vol_micro).otherwise(F.lit(0)))
        .alias("share_micro"),
        F.sum(vol_micro).alias("total_micro"),
    )
    return agg.select(
        "o_year",
        F.round(
            100.0 * F.col("share_micro").cast("double")
            / F.col("total_micro").cast("double"),
            4,
        ).alias("mkt_share_pct"),
    )


@register(
    "q_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)), 4) AS DOUBLE) AS acctbal,
           n_name
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1995-07-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by returned-item revenue.

    Selective fact predicates (returnflag + order-date window), dims
    broadcast, one aggregate shuffle, then TakeOrderedAndProject for
    the top-20 (no global sort). Ties broken by the unique c_custkey.
    """
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-07-01")
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(money_sum(revenue_expr()).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(F.col("c_acctbal").cast("decimal(18,2)"), 4)
            .cast("double")
            .alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q_large_volume_orders",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 4) AS DOUBLE)
               AS total_price,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 4) AS DOUBLE)
               AS sum_qty
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via a grouped-HAVING semi-join.

    The IN-subquery becomes an aggregate on lineitem (sum qty per
    order, HAVING > 300) semi-joined back — both the filter aggregate
    and the main aggregate shuffle on l_orderkey, so Catalyst reuses
    one partitioning; customer broadcasts; final top-10 is
    TakeOrderedAndProject.
    """
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 300)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li2 = table(spark, sf_dir, "lineitem")
    return (
        li2.join(big.withColumnRenamed("l_orderkey", "bk"), li2.l_orderkey == F.col("bk"), "left_semi")
        .join(o, li2.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(money_sum(F.col("l_quantity"), scale=2).alias("sum_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.round(F.col("o_totalprice").cast("decimal(18,2)"), 4)
            .cast("double")
            .alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the driver's star schema has no partsupp table, so the
# partsupp-dependent TPC-H shapes (Q2/Q20) derive one deterministically from
# part x supplier with engine-independent integer arithmetic — the SAME rule
# is restated in the DuckDB oracle, so correctness still hash-checks.
# Rule: each part gets 4 suppliers at (p_partkey*7 + i*13) mod n_supp,
# supplycost in integer micro-units, availqty in 1..9999.
_PARTSUPP_SQL = """
    ns AS (SELECT MAX(s_suppkey) + 1 AS n_supp FROM supplier),
    partsupp AS (
        SELECT ps_partkey, ps_suppkey,
               (ps_partkey * 7919 + ps_suppkey * 104729) % 100000000 + 1000000
                   AS ps_supplycost_micro,
               (ps_partkey * 13 + ps_suppkey * 7) % 9999 + 1 AS ps_availqty
        FROM (
            SELECT p_partkey AS ps_partkey,
                   (p_partkey * 7 + i * 13) % n_supp AS ps_suppkey
            FROM part, ns, (SELECT UNNEST(generate_series(0, 3)) AS i)
        )
    )
"""


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp derivation (see _PARTSUPP_SQL). All
    integer arithmetic on BIGINT — identical values on any engine; the
    n_supp scalar broadcasts, the 4x part fan-out is scan-local."""
    p = table(spark, sf_dir, "part").select("p_partkey")
    ns = table(spark, sf_dir, "supplier").agg(
        (F.max("s_suppkey") + F.lit(1)).alias("n_supp")
    )
    return (
        p.crossJoin(F.broadcast(ns))
        .select(
            "p_partkey",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
            "n_supp",
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.pmod(F.col("p_partkey") * 7 + F.col("i") * 13, F.col("n_supp"))
                .alias("ps_suppkey"),
        )
        .select(
            "ps_partkey",
            "ps_suppkey",
            (
                F.pmod(
                    F.col("ps_partkey") * 7919 + F.col("ps_suppkey") * 104729,
                    F.lit(100000000),
                )
                + 1000000
            ).alias("ps_supplycost_micro"),
            (
                F.pmod(F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7, F.lit(9999))
                + 1
            ).alias("ps_availqty"),
        )
    )


@register(
    "q_min_cost_supplier",
    oracle=f"""
    WITH {_PARTSUPP_SQL}
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost_micro
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE p_size <= 10 AND p_type = 'ECONOMY' AND r_name = 'EUROPE'
      AND ps_supplycost_micro = (
          SELECT MIN(ps2.ps_supplycost_micro)
          FROM partsupp ps2
          JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
          JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
          JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
          WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE'
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part in a region — a
    correlated scalar subquery whose inner block is itself a 4-table
    join sharing the outer's region filter (the 2-level correlated
    shape). Catalyst decorrelates the MIN into a grouped aggregate
    joined back on ps_partkey; every dimension broadcasts; costs stay
    integer micro-units end-to-end (no FP in the equality)."""
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("part", "supplier", "nation", "region"))
    derived_partsupp(spark, sf_dir).createOrReplaceTempView("partsupp")
    return spark.sql(
        """
        SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost_micro
        FROM partsupp
        JOIN part ON p_partkey = ps_partkey
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE p_size <= 10 AND p_type = 'ECONOMY' AND r_name = 'EUROPE'
          AND ps_supplycost_micro = (
              SELECT MIN(ps2.ps_supplycost_micro)
              FROM partsupp ps2
              JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
              JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
              JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
              WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE'
          )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
        """
    )


@register(
    "q_potential_promotion",
    oracle=f"""
    WITH {_PARTSUPP_SQL}
    SELECT s_name, n_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND ps_availqty > (
              SELECT 100 * SUM(l_quantity) FROM lineitem
              WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                AND l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate <  TIMESTAMP '1996-01-01'
          )
    )
    """,
)
def q_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers overstocked on 'red' parts — an IN
    subquery whose inner block contains BOTH a second IN subquery and a
    correlated scalar aggregate over lineitem keyed on two outer
    columns (the nested-EXISTS family). Catalyst rewrites the INs to
    left-semi joins and decorrelates the SUM into a grouped aggregate;
    at 100 TB the lineitem aggregate is the only large shuffle."""
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("part", "supplier", "nation", "lineitem"))
    derived_partsupp(spark, sf_dir).createOrReplaceTempView("partsupp")
    return spark.sql(
        """
        SELECT s_name, n_name
        FROM supplier JOIN nation ON n_nationkey = s_nationkey
        WHERE s_suppkey IN (
            SELECT ps_suppkey FROM partsupp
            WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
              AND ps_availqty > (
                  SELECT 100 * SUM(l_quantity) FROM lineitem
                  WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                    AND l_shipdate >= TIMESTAMP '1995-01-01'
                    AND l_shipdate <  TIMESTAMP '1996-01-01'
              )
        )
        """
    )


@register(
    "q_product_profit",
    oracle=f"""
    WITH {_PARTSUPP_SQL}
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(ROUND(SUM(CAST(
               l_extendedprice * (1 - l_discount)
               - (ps_supplycost_micro / 1000000.0) * l_quantity
               AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by nation and year.

    Six-way join centered on lineitem: partsupp matches on BOTH
    (partkey, suppkey) — the one two-key fact-fact equi-join in the
    suite — while part/supplier/nation broadcast and orders shuffles on
    orderkey. Profit = revenue minus supply cost x quantity, summed via
    the exact micro-unit discipline (supply costs are integer micro
    already, so the subtraction stays on the 6-decimal grid). At 100 TB
    partsupp is 4x|part| — too big to broadcast, AQE plans the two-key
    join as a shuffle join; everything else rides the existing
    orderkey/partkey exchanges.
    """
    li = table(spark, sf_dir, "lineitem")
    ps = derived_partsupp(spark, sf_dir)
    p = table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    amount = revenue_expr() - (
        F.col("ps_supplycost_micro") / F.lit(1_000_000.0)
    ) * F.col("l_quantity")
    return (
        li.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(money_sum(amount).alias("sum_profit"))
    )


@register(
    "q_important_stock",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    vals AS (
        SELECT ps_partkey,
               CAST(SUM(ps_supplycost_micro * ps_availqty) AS BIGINT)
                   AS value_micro
        FROM partsupp JOIN supplier ON s_suppkey = ps_suppkey
        WHERE s_nationkey < 13
        GROUP BY ps_partkey
    )
    SELECT ps_partkey, value_micro
    FROM vals
    WHERE value_micro * (SELECT COUNT(*) FROM vals)
          > 3 * (SELECT CAST(SUM(value_micro) AS BIGINT) FROM vals)
    """,
)
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts holding an outsized share (>3x the mean)
    of the tracked nations' total stock value.

    Grouped aggregate compared against a global scalar aggregate of the
    SAME relation — Catalyst plans the subquery as a 1-row broadcast,
    the vals relation computes once and reuses. All arithmetic is exact
    bigint micro-units; the threshold is the integer cross-multiply
    `value * n > 3 * total` (a mean multiple, not a fixed share, so the
    predicate stays selective-but-nonempty at every scale factor —
    a fixed share goes empty as |part| grows).
    """
    ps = derived_partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier").where(F.col("s_nationkey") < 13)
    vals = (
        ps.join(F.broadcast(s), F.col("s_suppkey") == F.col("ps_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(F.col("ps_supplycost_micro") * F.col("ps_availqty"))
            .alias("value_micro")
        )
    )
    total = vals.agg(
        F.sum("value_micro").alias("__total"), F.count("*").alias("__n")
    )
    return (
        vals.crossJoin(F.broadcast(total))
        .where(F.col("value_micro") * F.col("__n") > 3 * F.col("__total"))
        .select("ps_partkey", "value_micro")
    )


@register(
    "q_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                   * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_revenue_micro
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue_micro
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue_micro = (SELECT MAX(total_revenue_micro) FROM revenue)
    """,
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.

    The classic view-plus-scalar-max: per-supplier revenue aggregates
    once, its MAX broadcasts back as a 1-row join, and the equality is
    on EXACT bigint micro-units — a float-revenue equality would be a
    cross-engine coin flip, the integer one cannot disagree.
    """
    li = table(spark, sf_dir, "lineitem")
    rev = (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(micro_units(revenue_expr())).alias("total_revenue_micro"))
    )
    top = rev.agg(F.max("total_revenue_micro").alias("__max_rev"))
    s = table(spark, sf_dir, "supplier")
    return (
        F.broadcast(s)
        .join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(top))
        .where(F.col("total_revenue_micro") == F.col("__max_rev"))
        .select("s_suppkey", "s_name", "total_revenue_micro")
    )


@register(
    "q_parts_supplier_count",
    oracle=f"""
    WITH {_PARTSUPP_SQL}
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier counts per part attribute bucket with
    a NOT IN exclusion subquery.

    Catalyst rewrites the NOT IN (non-null key) to a broadcast
    left-anti join; the distinct count shuffles on the grouping
    attributes only after partsupp pre-filters against the broadcast
    part dimension.
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("part", "supplier"))
    derived_partsupp(spark, sf_dir).createOrReplaceTempView("partsupp")
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        FROM partsupp JOIN part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#3'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND ps_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0
          )
        GROUP BY p_brand, p_type, p_size
        """
    )


@register(
    "q_waiting_suppliers",
    oracle="""
    WITH flagged AS (
        SELECT l_orderkey, l_suppkey,
               (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM flagged l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE l1.late
      AND EXISTS (
          SELECT 1 FROM flagged l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM flagged l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.late
      )
    GROUP BY s_name
    """,
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone were late on finalized
    multi-supplier orders (this schema has no commit/receipt dates, so
    "late" is shipping >90 days after the order date).

    The EXISTS + NOT EXISTS pair over the same derived relation is the
    hardest decorrelation shape in the suite: Catalyst turns them into
    a left-semi and a left-anti join on l_orderkey, both reusing the
    flagged relation's orderkey partitioning. Three shuffles total at
    any scale (flagged build, semi, anti) — no per-row subqueries.
    """
    from laser_hadoop_spark.tables import register_views

    register_views(spark, sf_dir, names=("lineitem", "orders", "supplier", "nation"))
    return spark.sql(
        """
        WITH flagged AS (
            SELECT l_orderkey, l_suppkey,
                   (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            WHERE o_orderstatus = 'F'
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM flagged l1
        JOIN supplier ON s_suppkey = l1.l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE l1.late
          AND EXISTS (
              SELECT 1 FROM flagged l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM flagged l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.late
          )
        GROUP BY s_name
        """
    )


@register(
    "q_pareto_customers",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_centi
        FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT SUM(rev_centi) AS total_centi, COUNT(*) AS n_cust FROM rev),
    ranked AS (
        SELECT o_custkey, rev_centi,
               SUM(rev_centi) OVER (ORDER BY rev_centi DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_centi,
               ROW_NUMBER() OVER (ORDER BY rev_centi DESC, o_custkey) AS rnk
        FROM rev
    )
    SELECT CAST(MIN(r.rnk) AS BIGINT) AS n_top_customers,
           CAST(t.n_cust AS BIGINT) AS n_customers,
           CAST(MIN(r.rnk) * 10000 // t.n_cust AS BIGINT) AS top_share_bp
    FROM ranked r CROSS JOIN tot t
    WHERE r.cum_centi * 10 >= t.total_centi * 8
    GROUP BY t.n_cust
    """,
)
def q_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-closure: Pareto concentration (how many customers make
    80% of revenue).

    Revenue in exact centi-units, customers ranked by revenue with the
    unique custkey tiebreak, cumulative share compared as cum*10 >=
    total*8 (no division), and the answer is the smallest rank crossing
    the line plus its basis-point share of the customer base — the
    80/20 dashboard number computed without a single float.

    The cumulative ranking runs as operators/cumulative.ordered_cumsum
    — the two-pass range-partitioned form, so there is NO
    single-partition exchange even though the order is global; a 100x
    dimension growth just adds parallel partitions.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "rev_centi"
        )
    )
    tot = rev.agg(
        F.sum("rev_centi").alias("total_centi"), F.count("*").alias("n_cust")
    )
    ranked = ordered_cumsum(
        rev,
        order_by=[F.col("rev_centi").desc(), F.col("o_custkey")],
        values={"rev_centi": "cum_centi"},
        row_number_col="rnk",
    )
    crossing = ranked.crossJoin(F.broadcast(tot)).where(
        F.col("cum_centi") * 10 >= F.col("total_centi") * 8
    )
    return (
        crossing.groupBy("n_cust")
        .agg(
            F.min("rnk").cast("bigint").alias("n_top_customers"),
            F.expr("CAST(MIN(rnk) * 10000 DIV n_cust AS BIGINT)").alias(
                "top_share_bp"
            ),
        )
        .select(
            "n_top_customers",
            F.col("n_cust").cast("bigint").alias("n_customers"),
            "top_share_bp",
        )
    )


@register(
    "q_ship_latency",
    oracle="""
    WITH lat AS (
        SELECT o.o_orderpriority AS priority,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority, COUNT(*) AS n_items,
           ROUND(quantile_cont(days, 0.5), 4) AS p50_days,
           ROUND(quantile_cont(days, 0.95), 4) AS p95_days,
           CAST(MAX(days) AS BIGINT) AS max_days,
           CAST(SUM(CASE WHEN days > 90 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sla_breach
    FROM lat GROUP BY priority
    """,
)
def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA-closure: order-to-ship latency distribution per priority.

    The operational-latency report: per priority, exact interpolated
    p50/p95 of days-to-ship (integer day inputs — the percentile
    interpolation midpoints are exact in double), the max, and the
    count over a 90-day SLA. Fact-fact join on orderkey (bucketed
    layout applies — q_bucketed_fact_join's warehouse removes this
    exchange when pre-registered), then one aggregate.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    return lat.groupBy("priority").agg(
        F.count("*").alias("n_items"),
        F.round(F.percentile("days", F.lit(0.5)), 4).alias("p50_days"),
        F.round(F.percentile("days", F.lit(0.95)), 4).alias("p95_days"),
        F.max("days").cast("bigint").alias("max_days"),
        F.sum(F.when(F.col("days") > 90, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sla_breach"),
    )


@register(
    "q_gini_revenue",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS r
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS i FROM rev
    ),
    sums AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(r AS HUGEINT)) AS s,
               SUM(CAST(i AS HUGEINT) * r) AS si
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(s AS BIGINT) AS total_centi,
           ROUND(CAST(2 * si AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
                 - CAST(n + 1 AS DOUBLE) / n, 4) AS gini
    FROM sums
    """,
)
def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-closure: Gini coefficient of customer revenue.

    Inequality of spend across customers via the rank formula
    G = 2·Σ(i·x_(i)) / (n·Σx) − (n+1)/n over revenue sorted ascending
    (custkey tiebreak). All sums are exact integers (centi-unit revenue
    times bigint rank, accumulated in decimal(38)); doubles appear only
    in the final two IEEE divisions, identical on both engines. Pairs
    with q_pareto_customers: one number vs the 80% crossing point.

    The global ranking runs as operators/cumulative.ordered_cumsum's
    two-pass offset row number — no single-partition exchange at any
    customer cardinality.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "r"
        )
    )
    ranked = ordered_cumsum(
        rev, order_by=[F.col("r"), F.col("o_custkey")], row_number_col="i"
    ).select("r", "i")
    sums = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.col("r").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("r")).alias("si"),
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("s").cast("bigint").alias("total_centi"),
        F.round(
            (F.lit(2) * F.col("si")).cast("double")
            / (F.col("n").cast("double") * F.col("s").cast("double"))
            - (F.col("n") + 1).cast("double") / F.col("n"),
            4,
        ).alias("gini"),
    )


@register(
    "q_value_deciles",
    oracle="""
    WITH v AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v_centi,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT decile, COUNT(*) AS n_orders,
           CAST(MIN(v_centi) AS BIGINT) AS lo_centi,
           CAST(MAX(v_centi) AS BIGINT) AS hi_centi,
           CAST(SUM(v_centi) AS BIGINT) AS sum_centi
    FROM v GROUP BY decile
    """,
)
def q_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-closure: order-value decile table.

    Equi-depth distribution report: per-decile count / bounds / exact
    centi sums — the where-the-money-sits table. The decile id is
    NTILE(10)'s closed form over a distributed global row number
    (operators/cumulative.ordered_cumsum + closed_form_ntile): no
    single-partition window over the orders fact, so the plan holds at
    100x. The oracle keeps DuckDB's NTILE spelling; hash equality
    proves the closed form identical.
    """
    from laser_hadoop_spark.operators.cumulative import (
        closed_form_ntile,
        ordered_cumsum,
    )

    o = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = ordered_cumsum(
        o, order_by=["o_totalprice", "o_orderkey"], row_number_col="rn"
    )
    n_row = o.agg(F.count("*").alias("n"))
    v = ranked.crossJoin(F.broadcast(n_row)).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias(
            "v_centi"
        ),
        closed_form_ntile("rn", "n", 10).cast("int").alias("decile"),
    )
    return v.groupBy("decile").agg(
        F.count("*").alias("n_orders"),
        F.min("v_centi").alias("lo_centi"),
        F.max("v_centi").alias("hi_centi"),
        F.sum("v_centi").alias("sum_centi"),
    )


@register(
    "q_duplicate_invoices",
    oracle="""
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           CAST(FLOOR(a.o_totalprice * 100 + 0.5) AS BIGINT) AS amount_a_centi,
           CAST(FLOOR(b.o_totalprice * 100 + 0.5) AS BIGINT) AS amount_b_centi,
           CAST(a.o_custkey AS BIGINT) AS custkey
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND ABS(FLOOR(a.o_totalprice * 100 + 0.5)
             - FLOOR(b.o_totalprice * 100 + 0.5)) <= 50000
     AND a.o_orderkey < b.o_orderkey
     AND ABS(date_diff('day', CAST(a.o_orderdate AS DATE),
                       CAST(b.o_orderdate AS DATE))) <= 90
    """,
)
def q_duplicate_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraud-closure: near-duplicate invoice detection.

    Same customer, amounts within $500 (exact centi-unit band — float
    tolerance would be a bug) and order dates within 90 days: the
    double-payment / split-invoice audit. Self-join on the custkey
    equi-key with the amount band and date window riding inside the
    join condition — comparisons bounded per customer, pairs
    canonicalized by a<b.
    """
    o = table(spark, sf_dir, "orders")
    amt = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    side = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        amt.alias("amount_centi"),
        F.col("o_orderdate").cast("date").alias("day"),
    )
    a, b = side.alias("a"), side.alias("b")
    return (
        a.join(
            b,
            (F.col("a.custkey") == F.col("b.custkey"))
            & (
                F.abs(F.col("a.amount_centi") - F.col("b.amount_centi"))
                <= 50000
            )
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (
                F.abs(F.datediff(F.col("a.day"), F.col("b.day"))) <= 90
            ),
        )
        .select(
            F.col("a.o_orderkey").alias("key_a"),
            F.col("b.o_orderkey").alias("key_b"),
            F.col("a.amount_centi").alias("amount_a_centi"),
            F.col("b.amount_centi").alias("amount_b_centi"),
            F.col("a.custkey").cast("bigint").alias("custkey"),
        )
    )


@register(
    "q_benford",
    oracle="""
    WITH digits AS (
        SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
                    AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
        FROM orders WHERE o_totalprice > 0
    ),
    counts AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT SUM(n) AS n_tot FROM counts)
    SELECT c.d AS first_digit, c.n,
           CAST(c.n * 10000 // t.n_tot AS BIGINT) AS share_bp
    FROM counts c CROSS JOIN tot t
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraud-closure: Benford first-digit profile of order amounts.

    First significant digit of the exact centi amount (string head of
    the integer — no log/pow float path), counts and basis-point
    shares; audit tooling compares the shares against Benford's
    log10(1+1/d) expectation. Exact integers throughout.
    """
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = F.substring(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").cast("string"),
        1,
        1,
    ).cast("int")
    counts = o.select(d.alias("d")).groupBy("d").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("n_tot"))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        "n",
        F.expr("CAST(n * 10000 DIV n_tot AS BIGINT)").alias("share_bp"),
    )


@register(
    "q_monthly_growth",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS rev_centi
        FROM orders GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month,
           CAST(rev_centi AS BIGINT) AS rev_centi,
           CAST(CASE WHEN LAG(rev_centi) OVER (ORDER BY month) IS NULL
                     THEN NULL
                     ELSE (rev_centi - LAG(rev_centi) OVER (ORDER BY month))
                          * 10000 // LAG(rev_centi) OVER (ORDER BY month)
                END AS BIGINT) AS mom_growth_bp
    FROM monthly
    """,
)
def q_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-closure: monthly revenue + month-over-month growth.

    Exact centi revenue per calendar month and the MoM growth in basis
    points (integer division; truncation toward zero on both engines,
    including negative growth). Month truncation on DATE values is
    TZ-free. One aggregate + one lag over the tiny month table.
    """
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("rev_centi")
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_centi").over(w)
    return monthly.select(
        "month",
        "rev_centi",
        F.when(prev.isNull(), F.lit(None).cast("bigint"))
        .otherwise(
            F.expr(
                "CAST((rev_centi - LAG(rev_centi) OVER (ORDER BY month)) * 10000"
                " DIV LAG(rev_centi) OVER (ORDER BY month) AS BIGINT)"
            )
        )
        .alias("mom_growth_bp"),
    )


@register(
    "q_abc_analysis",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS r
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(CAST(r AS HUGEINT)) AS total FROM rev),
    ranked AS (
        SELECT r,
               SUM(CAST(r AS HUGEINT)) OVER (ORDER BY r DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM rev
    ),
    classed AS (
        SELECT r, CASE WHEN cum * 100 <= total * 80 THEN 'A'
                       WHEN cum * 100 <= total * 95 THEN 'B'
                       ELSE 'C' END AS cls
        FROM ranked CROSS JOIN tot
    )
    SELECT cls, COUNT(*) AS n_parts,
           CAST(SUM(CAST(r AS HUGEINT)) AS BIGINT) AS rev_centi
    FROM classed GROUP BY cls
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-closure: ABC classification of parts by revenue.

    Inventory-management staple: parts ranked by exact centi revenue;
    A = parts inside the first 80% of cumulative revenue, B = next 15%,
    C = tail. Class boundaries compared as cum*100 <= total*{80,95} —
    integer cross-multiplication, no percentages in float. The
    cumulative revenue runs as operators/cumulative.ordered_cumsum —
    two-pass range-partitioned, no single-partition exchange at any
    part cardinality.
    """
    from laser_hadoop_spark.operators.cumulative import ordered_cumsum

    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("r")
    )
    tot = rev.agg(F.sum(F.col("r").cast("decimal(38,0)")).alias("total"))
    ranked = ordered_cumsum(
        rev.select("l_partkey", "r", F.col("r").cast("decimal(38,0)").alias("rd")),
        order_by=[F.col("r").desc(), F.col("l_partkey")],
        values={"rd": "cum"},
    ).select("r", "cum")
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "r",
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("cls"),
    )
    return classed.groupBy("cls").agg(
        F.count("*").alias("n_parts"),
        F.sum(F.col("r").cast("decimal(38,0)")).cast("bigint").alias("rev_centi"),
    )
