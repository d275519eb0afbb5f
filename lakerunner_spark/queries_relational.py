"""Relational query catalog: multi-join / heavy-aggregation queries.

These exercise the Spark planes the telemetry operators lean on —
broadcast vs shuffle join selection, partial aggregation, semi-join
pruning — at bench scale (sf0.1). TPC-H-shaped over the driver's
synthetic star schema (dates adapted to the generated 1995-2001 range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakerunner_spark.functions.rounding import portable_round as _pr
from lakerunner_spark.queries import register
from lakerunner_spark.testdata import load_table

# Date cutoffs within the synthetic data's 1995-2001 range. The parquet
# date columns surface as TIMESTAMP_NTZ; comparing against NTZ literals
# is calendar-based and timezone-free on both engines.
_D_1996_01_01 = "1996-01-01"
_D_1996_03_15 = "1996-03-15"
_D_1997_01_01 = "1997-01-01"
_D_1998_09_02 = "1998-09-02"


def _ntz(date_str: str) -> F.Column:
    return F.expr(f"TIMESTAMP_NTZ '{date_str} 00:00:00'")


@register(
    "tpch_q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           pround(sum(l_quantity), 2) AS sum_qty,
           pround(sum(l_extendedprice), 2) AS sum_base_price,
           pround(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           pround(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS sum_charge,
           pround(avg(l_quantity), 6) AS avg_qty,
           pround(avg(l_extendedprice), 6) AS avg_price,
           pround(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_D_1998_09_02}'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-heavy aggregation; Catalyst: filter+projection pushdown, partial agg."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= _ntz(_D_1998_09_02))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _pr(F.sum("l_quantity"), 2).alias("sum_qty"),
            _pr(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _pr(F.sum(disc_price), 2).alias("sum_disc_price"),
            _pr(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            _pr(F.avg("l_quantity"), 6).alias("avg_qty"),
            _pr(F.avg("l_extendedprice"), 6).alias("avg_price"),
            _pr(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           pround(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{_D_1996_03_15}'
      AND l_shipdate > TIMESTAMP '{_D_1996_03_15}'
    GROUP BY l_orderkey, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + global top-n (TakeOrderedAndProject).

    customer is small relative to lineitem and AQE's runtime size
    check broadcasts it — UNhinted, because customer grows linearly
    with scale factor and a compile-time hint would bypass the size
    check at 100 TB (the ds8/dd10 hazard class; only constant-size
    nation/region keep hints anywhere in this module). The
    orders⋈lineitem join shuffles on orderkey, its natural co-location
    key.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ntz(_D_1996_03_15)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _ntz(_D_1996_03_15)
    )
    return (
        li.join(
            orders.join(
                cust, F.col("c_custkey") == F.col("o_custkey")
            ).select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            _pr(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderpriority")
    )


@register(
    "tpch_q5_local_supplier",
    f"""
    SELECT n_name,
           pround(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '{_D_1996_01_01}'
      AND o_orderdate < TIMESTAMP '{_D_1997_01_01}'
    GROUP BY n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way join: dimension tables broadcast (nation/region hinted —
    constant-size; customer/supplier unhinted, AQE decides), fact
    joins shuffle on keys."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz(_D_1996_01_01))
        & (F.col("o_orderdate") < _ntz(_D_1997_01_01))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            _pr(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q6_forecast_revenue",
    f"""
    SELECT pround(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{_D_1996_01_01}'
      AND l_shipdate < TIMESTAMP '{_D_1997_01_01}'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure filter+agg — all predicates reach the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= _ntz(_D_1996_01_01))
        & (F.col("l_shipdate") < _ntz(_D_1997_01_01))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        _pr(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "tpch_q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           pround(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '{_D_1996_01_01}'
      AND o_orderdate < TIMESTAMP '{_D_1996_03_15}'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way join + agg + top-n: fact-fact shuffle join on orderkey,
    dims broadcast, TakeOrderedAndProject for the limit."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz(_D_1996_01_01))
        & (F.col("o_orderdate") < _ntz(_D_1996_03_15))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _pr(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@register(
    "tpch_q12_priority_lines",
    f"""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '{_D_1996_01_01}'
      AND l_shipdate < TIMESTAMP '{_D_1997_01_01}'
    GROUP BY l_linestatus
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shaped join + conditional aggregation (CASE partial-agg
    pushdown), adapted to the synthetic schema's columns."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(_D_1996_01_01))
        & (F.col("l_shipdate") < _ntz(_D_1997_01_01))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "w5_running_revenue",
    f"""
    SELECT o_custkey, o_orderkey,
           pround(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), 2) AS running_total,
           row_number() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
    WHERE o_custkey < 100
    """,
)
def w5_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame running total + sequence per customer (general window
    surface beyond the telemetry RANGE frames)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _pr(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            2,
        ).alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "u2_union_streams",
    f"""
    SELECT event_type, CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS chq_timestamp,
           value
    FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT event_type, CAST(epoch_ns(ts) // 1000000 AS BIGINT), value
    FROM events WHERE event_type = 'purchase' AND value > 100.0
    """,
)
def u2_union_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: unionByName of per-leaf result streams."""
    from lakerunner_spark.testdata import events_stream

    e = events_stream(spark, sf_dir)
    a = e.filter(F.col("event_type") == "error")
    b = e.filter((F.col("event_type") == "purchase") & (F.col("value") > 100.0))
    cols = ["event_type", "chq_timestamp", "value"]
    return a.select(cols).unionByName(b.select(cols))

@register(
    "tpch_q4_order_priority",
    f"""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_D_1996_01_01}'
      AND o_orderdate < TIMESTAMP '{_D_1997_01_01}'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped EXISTS → left-semi shuffle join on orderkey (both sides
    hash-partitioned on the key; semi-join never materializes lineitem
    columns, so the scan prunes to l_orderkey+l_returnflag only)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz(_D_1996_01_01))
        & (F.col("o_orderdate") < _ntz(_D_1997_01_01))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q22_idle_rich_customers",
    f"""
    SELECT c_mktsegment, count(*) AS numcust,
           pround(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT pround(avg(c_acctbal), 2) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-shaped: broadcast scalar threshold (cross-join of a 1-row agg,
    never a collect) + left-anti join against date-filtered orders.
    The threshold is rounded on both engines so the comparison is
    bit-identical (see oracle-parity rules)."""
    cust = load_table(spark, sf_dir, "customer")
    thresh = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(_pr(F.avg("c_acctbal"), 2).alias("avg_bal"))
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ntz("2000-01-01")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _pr(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "tpch_q17_small_qty_revenue",
    """
    SELECT pround(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN (SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_limit
          FROM lineitem GROUP BY l_partkey) ON l_partkey = pk
    WHERE l_quantity < qty_limit
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shaped correlated scalar subquery, decorrelated as a
    pre-aggregated self-join: both sides hash-partition on partkey, so
    the agg output reuses the join's exchange. Quantities are
    integer-valued doubles → the avg is order-independent and exact."""
    li = load_table(spark, sf_dir, "lineitem")
    limits = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_limit")
    )
    return (
        li.join(limits, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(_pr(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "tpch_q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year, pround(sum(volume), 2) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS BIGINT) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate >= TIMESTAMP '{_D_1996_01_01}'
            AND l_shipdate < TIMESTAMP '{_D_1998_09_02}') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-shaped dual-dimension join with a disjunctive cross-filter on
    the joined pair. Both nation copies broadcast; the disjunction is
    evaluated post-join (it references both sides), but the per-side
    `IN (n1, n2)` implication is pushed into each broadcast dim here so
    the fact-side joins only carry rows from the two nations."""
    two = ["NATION_1", "NATION_2"]
    n1 = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(two))
    n2 = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(two))
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n1.select(F.col("n_nationkey").alias("snk"),
                              F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("snk"),
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n2.select(F.col("n_nationkey").alias("cnk"),
                              F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cnk"),
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(_D_1996_01_01))
        & (F.col("l_shipdate") < _ntz(_D_1998_09_02))
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp.select("s_suppkey", "supp_nation"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust.select("c_custkey", "cust_nation"),
              F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            _pr(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q8_market_share",
    f"""
    SELECT o_year,
           pround(pround(sum(CASE WHEN nation = 'NATION_3' THEN volume
                                  ELSE 0.0 END), 2)
                  / pround(sum(volume), 2), 6) AS mkt_share
    FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n2.n_name AS nation
          FROM part
          JOIN lineitem ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
            AND o_orderdate >= TIMESTAMP '{_D_1996_01_01}'
            AND o_orderdate < TIMESTAMP '{_D_1998_09_02}') all_nations
    GROUP BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-shaped market-share ratio: 8-way join (all dims broadcast, the
    only shuffle joins are lineitem⋈orders on orderkey) feeding a
    conditional-sum / total-sum ratio per year. Both sums are rounded
    before the division so the ratio is bit-stable across engines."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz(_D_1996_01_01))
        & (F.col("o_orderdate") < _ntz(_D_1998_09_02))
    )
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("supp_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            _pr(
                _pr(F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0)), 2)
                / _pr(F.sum(vol), 2),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_q9_product_profit",
    """
    SELECT nation, o_year,
           pround(CAST(sum(amount_e4) AS BIGINT) / 10000.0, 2) AS sum_profit
    FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 CAST(floor((l_extendedprice * (1 - l_discount)
                             - p_retailprice * 0.01 * l_quantity) * 10000.0
                            + 0.5) AS BIGINT) AS amount_e4
          FROM part
          JOIN lineitem ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-shaped profit rollup by (nation, year). The synthetic schema
    has no partsupp, so supply cost is modeled as 1% of p_retailprice —
    the plan family is what matters: LIKE-filtered part dim broadcast
    into the fact, then a two-key group over join output.

    Profit mixes signs, so cancellation puts a double-sum within eps of
    a half-cent boundary; per-row amounts are fixed-pointed to integer
    1e-4 units and summed as BIGINT (exact, order-independent)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.01 * F.col("l_quantity")
    )
    amount_e4 = F.floor(amount * 10000.0 + F.lit(0.5)).cast("long")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_pr(F.sum(amount_e4) / 10000.0, 2).alias("sum_profit"))
    )


@register(
    "tpch_q13_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-shaped distribution: left-outer join with an ON-clause filter
    on the right side only (pushed below the join), per-customer count
    (counting the nullable right key so unmatched customers count 0),
    then a second aggregation over the counts. Two shuffles total; the
    second one is tiny (one row per customer)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "tpch_q14_promo_revenue",
    f"""
    SELECT pround(100.0 * pround(sum(CASE WHEN p_type = 'PROMO'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0.0 END), 2)
                  / pround(sum(l_extendedprice * (1 - l_discount)), 2),
                  6) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '{_D_1996_01_01}'
      AND l_shipdate < TIMESTAMP '{_D_1996_03_15}'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shaped promo ratio: broadcast part into the date-pruned fact
    scan, single conditional-sum pass, scalar output."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(_D_1996_01_01))
        & (F.col("l_shipdate") < _ntz(_D_1996_03_15))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            _pr(
                F.lit(100.0)
                * _pr(F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)), 2)
                / _pr(F.sum(rev), 2),
                6,
            ).alias("promo_revenue")
        )
    )


@register(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             pround(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{_D_1996_01_01}'
        AND l_shipdate < TIMESTAMP '{_D_1996_03_15}'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-shaped argmax via scalar subquery: the per-supplier revenue
    view is computed once, its 1-row max broadcasts back onto itself
    (no collect, no second scan of lineitem), and the supplier dim
    broadcasts. Revenue is rounded before the equality test so the
    max-comparison is exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz(_D_1996_01_01))
        & (F.col("l_shipdate") < _ntz(_D_1996_03_15))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _pr(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q16_supplier_cnt",
    """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-shaped distinct-count with NOT-IN exclusion: the excluded
    supplier set (the reference query's complaint suppliers; here
    negative-balance ones) is tiny -> broadcast left-anti join; part
    filter broadcasts; count(DISTINCT) plans as a two-phase expand/agg.
    lineitem stands in for partsupp as the part-supplier relation."""
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 23, 36, 45, 49)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q19_disjunctive_revenue",
    """
    SELECT pround(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-shaped disjunctive join predicate. Catalyst derives the
    per-side implications of the OR tree: `p_brand IN (...)` prunes the
    broadcast side and `l_quantity BETWEEN 1 AND 30` reaches the fact
    scan as a pushed filter, so the full disjunction only runs on the
    small joined remainder."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    disj = (
        ((b == "Brand#1") & sz.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#2") & sz.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#3") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(disj)
        .agg(
            _pr(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "tpch_q21_waiting_supplier",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-shaped sole-blame detection: the same fact joins back to
    itself once as a left-semi (some OTHER supplier touched the order)
    and once as a left-anti (no OTHER supplier's line was returned) —
    equi-key on orderkey with a non-equi residual on suppkey, the plan
    family TPC-H Q21's correlated EXISTS/NOT EXISTS decorrelates to.
    All three lineitem scans prune to 2-3 columns. The synthetic schema
    has no receipt/commit dates, so `l_returnflag = 'R'` stands in for
    the late-delivery predicate."""
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2_key"), F.col("l_suppkey").alias("s2_key")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_key"), F.col("l_suppkey").alias("s3_key")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        l1.join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("o2_key"))
            & (F.col("l_suppkey") != F.col("s2_key")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3_key"))
            & (F.col("l_suppkey") != F.col("s3_key")),
            "left_anti",
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@register(
    "tpch_q18_large_volume",
    """
    SELECT c_name, c_custkey, o_orderkey,
           pround(o_totalprice, 2) AS o_totalprice_r,
           pround(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 150.0)
    GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
    ORDER BY o_totalprice_r DESC, o_orderkey ASC
    LIMIT 50
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shaped HAVING-IN subquery → semi-join on a pre-aggregated key
    set; sum(l_quantity) is exact over integer-valued doubles. Shuffle
    joins co-partition on orderkey; customer dim broadcasts; the final
    top-n is TakeOrderedAndProject (no global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qsum"))
        .filter(F.col("qsum") > 150.0)
        .select(F.col("l_orderkey").alias("big_okey"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(big, F.col("l_orderkey") == F.col("big_okey"), "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_totalprice")
        .agg(_pr(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            _pr(F.col("o_totalprice"), 2).alias("o_totalprice_r"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice_r").desc(), F.col("o_orderkey").asc())
        .limit(50)
    )


@register(
    "tpch_q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             pround(min(l_extendedprice / l_quantity), 4) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    regional AS (
      SELECT p_partkey, p_name, s_acctbal, s_name, n_name, unit_cost,
             min(unit_cost) OVER (PARTITION BY p_partkey) AS best_cost
      FROM cost
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE p_size <= 10 AND r_name = 'EUROPE')
    SELECT pround(s_acctbal, 2) AS s_acctbal_r, s_name, n_name, p_partkey,
           p_name, unit_cost
    FROM regional WHERE unit_cost = best_cost
    ORDER BY s_acctbal_r DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shaped min-cost supplier. The reference query's correlated
    `= (SELECT min(ps_supplycost) ...)` decorrelates to a window MIN
    over the region-restricted join — one pass, no self-join, no second
    scan of the fact (contrast q15's broadcast-scalar and q17's pre-agg
    self-join: three decorrelation families now covered). The synthetic
    schema has no partsupp, so unit cost is min(extendedprice/quantity)
    per (part, supplier) from lineitem.

    Scale: the (part, supplier) cost relation is ~|partsupp|, far
    smaller than lineitem; all dims broadcast; the window partitions by
    p_partkey, the same key the preceding join shuffled on, so AQE can
    reuse the exchange. Rounding before the equality test keeps the
    tie-set identical on both engines."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        _pr(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias(
            "unit_cost"
        )
    )
    regional = cost.join(
        part, F.col("l_partkey") == F.col("p_partkey")
    ).join(eu_supp, F.col("l_suppkey") == F.col("s_suppkey"))
    best = F.min("unit_cost").over(Window.partitionBy("p_partkey"))
    return (
        regional.withColumn("best_cost", best)
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .select(
            _pr(F.col("s_acctbal"), 2).alias("s_acctbal_r"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            "unit_cost",
        )
        .orderBy(
            F.col("s_acctbal_r").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


@register(
    "tpch_q11_important_parts",
    """
    WITH val AS (
      SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0
                                 + 0.5) AS BIGINT)) AS BIGINT) AS value_c
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY l_partkey)
    SELECT l_partkey AS partkey, pround(value_c / 100.0, 2) AS part_value
    FROM val
    WHERE value_c * 1000 > (SELECT sum(value_c) FROM val)
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11-shaped important-parts: per-part value restricted to one
    region's suppliers, keeping parts above a fraction (0.1%) of the
    grand total — the HAVING-over-global-aggregate family. The same
    aggregated view feeds both sides (rows and the scalar total); Spark
    plans the 1-row total as a broadcast cross join, and AQE reuses the
    shuffle of the shared groupBy lineage rather than rescanning
    lineitem.

    Per-row amounts are fixed-pointed to integer cents before summing,
    so both the total and the `value*1000 > total` comparison are exact
    integer arithmetic on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("long")
    val = (
        li.join(asia_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("value_c"))
    )
    total = val.agg(F.sum("value_c").alias("total_c"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value_c") * 1000 > F.col("total_c"))
        .select(
            F.col("l_partkey").alias("partkey"),
            _pr(F.col("value_c") / 100.0, 2).alias("part_value"),
        )
    )


@register(
    "tpch_q20_promotable_suppliers",
    f"""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{_D_1996_01_01}'
        AND l_shipdate < TIMESTAMP '{_D_1997_01_01}'
        AND l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE '%blue%')
      GROUP BY l_partkey, l_suppkey),
    qual AS (
      SELECT DISTINCT l_suppkey FROM (
        SELECT l_suppkey, qty,
               sum(qty) OVER (PARTITION BY l_partkey) AS total_qty
        FROM shipped) t
      WHERE qty * 5 > total_qty)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM qual)
      AND s_nationkey IN (SELECT n_nationkey FROM nation
                          JOIN region ON n_regionkey = r_regionkey
                          WHERE r_name = 'ASIA')
    ORDER BY s_name
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-shaped promotable suppliers: a nested semi-join chain.
    lineitem is first semi-pruned by the LIKE-filtered part list, the
    per-(part, supplier) shipped quantity is compared against a
    window-computed per-part total (the reference's correlated `> 0.5 *
    sum(...)` threshold; >20% share here), and the distinct qualifying
    supplier keys semi-join into the supplier dim alongside a
    region-restricted nation semi-join — supplier rows are never
    duplicated, only filtered. Quantities are integer-valued doubles
    cast to BIGINT, so the share comparison `qty*5 > total` is exact.

    Scale: both semi-join build sides (blue parts, qualifying
    suppliers) are tiny and broadcast; the only big shuffle is the
    groupBy on (partkey, suppkey), and the window reuses its
    partitioning on l_partkey."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    blue = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%blue%"))
        .select("p_partkey")
    )
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= _ntz(_D_1996_01_01))
            & (F.col("l_shipdate") < _ntz(_D_1997_01_01))
        )
        .join(blue, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    total = F.sum("qty").over(Window.partitionBy("l_partkey"))
    qual = (
        shipped.withColumn("total_qty", total)
        .filter(F.col("qty") * 5 > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    asia = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )
