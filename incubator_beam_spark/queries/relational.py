"""Relational core: scans, filters, aggregation, joins, set ops, top-k.

Covers the reference's relational surface (SURVEY.md §2.3, §2.5, §2.8):
Beam SQL's ``BeamAggregationRel``/``BeamCoGBKJoinRel``/``BeamSortRel``/
``BeamUnionRel``/``BeamIntersectRel``/``BeamMinusRel`` (reference:
``sdks/java/extensions/sql/src/main/java/org/apache/beam/sdk/extensions/sql/impl/rel/``)
and the join library (``sdks/java/extensions/join-library/.../Join.java``),
re-expressed as Catalyst plans.

Scale notes (100 TB design stance):
- Aggregations are plain ``groupBy().agg`` → Catalyst partial aggregation
  (map-side combine) — the same lifting Beam does in
  ``runners/portability/fn_api_runner/translations.py:1093`` — for free.
- Dim tables (region/nation/supplier at TPC-H ratios) are broadcast, so
  the only shuffles left are on fact-table keys; AQE handles skew.
- Every filter is expressed on base columns before joins so it reaches
  the parquet scan (PushedFilters).
- Float aggregates are ROUND()ed identically in the Spark plan and the
  DuckDB oracle so value-hashes are order-insensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan → filter → agg).
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                         AS sum_qty,
           round(sum(l_extendedprice), 2)                                    AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                 AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)   AS sum_charge,
           round(avg(l_quantity), 4)                                         AS avg_qty,
           round(avg(l_extendedprice), 4)                                    AS avg_price,
           round(avg(l_discount), 4)                                         AS avg_disc,
           count(*)                                                          AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: the canonical scan→filter→hash-agg plan."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-way joins
# ---------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS revenue_um,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_um DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fact→dims with pre-join filters, agg, deterministic top-k.

    Revenue is in exact 1e-4 units (price 2dp x (1-discount) 2dp = 4dp
    terms): a sum rounded to cents can tie at half a cent, and Spark and
    DuckDB round that tie apart."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000)
            .cast("bigint")
            .alias("revenue_um")
        )
        .orderBy(F.desc("revenue_um"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue_um", "o_orderdate", "o_orderpriority")
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way star join; dims broadcast, facts shuffle only on join keys."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "join_inner",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 2) AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    WHERE o_orderstatus = 'O'
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join (Beam join-library innerJoin)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return cust.join(orders, cust.c_custkey == orders.o_custkey).select(
        "c_custkey", "c_name", "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 400000
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a non-key condition (null-padded misses)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    cond = (cust.c_custkey == orders.o_custkey) & (orders.o_totalprice > 400000)
    return cust.join(orders, cond, "left").select("c_custkey", "c_name", "o_orderkey")


@query(
    "join_right_outer",
    oracle="""
    SELECT o_orderkey, c_custkey, c_name
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey AND o_orderstatus = 'P'
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    cond = (orders.o_custkey == cust.c_custkey) & (orders.o_orderstatus == "P")
    return orders.join(cust, cond, "right").select("o_orderkey", "c_custkey", "c_name")


@query(
    "join_full_outer",
    oracle="""
    WITH big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000)
    SELECT c.c_custkey, c.c_name, b.o_custkey AS big_spender_key
    FROM customer c FULL OUTER JOIN big b ON c.c_custkey = b.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join."""
    cust = table(spark, sf_dir, "customer")
    big = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
        .distinct()
    )
    return cust.join(big, cust.c_custkey == big.o_custkey, "full").select(
        "c_custkey", "c_name", F.col("o_custkey").alias("big_spender_key")
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS)."""
    cust = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two small dims."""
    region = table(spark, sf_dir, "region").select(F.col("r_name").alias("region_name"))
    nation = table(spark, sf_dir, "nation").select(F.col("n_name").alias("nation_name"))
    return region.crossJoin(nation)


@query(
    "cogroup_by_key",
    oracle="""
    WITH o AS (SELECT o_custkey AS k, count(*) AS n_orders,
                      round(sum(o_totalprice), 2) AS sum_total
               FROM orders GROUP BY o_custkey),
         c AS (SELECT c_custkey AS k, count(*) AS n_customers,
                      round(sum(c_acctbal), 2) AS sum_bal
               FROM customer GROUP BY c_custkey)
    SELECT coalesce(o.k, c.k) AS k,
           coalesce(n_orders, 0)    AS n_orders,
           coalesce(sum_total, 0.0) AS sum_total,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(sum_bal, 0.0)   AS sum_bal
    FROM o FULL OUTER JOIN c ON o.k = c.k
    """,
)
def cogroup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoGroupByKey (reference ``transforms/util.py:99``): n-way grouping of
    two keyed inputs — expressed as per-side pre-aggregation + full outer
    join, so each side combines map-side before the single shuffle."""
    o = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
    )
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_custkey").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )
    return (
        o.join(c, "k", "full")
        .select(
            "k",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("sum_total", F.lit(0.0)).alias("sum_total"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("sum_bal", F.lit(0.0)).alias("sum_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations (Beam Sets.java / BeamUnionRel / BeamIntersectRel / BeamMinusRel)
# ---------------------------------------------------------------------------
@query(
    "set_union_all",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    UNION ALL
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten / UNION ALL."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.unionByName(s)


@query(
    "set_union_distinct",
    oracle="SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey AS nk FROM supplier",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.unionByName(s).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT DISTINCT."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT DISTINCT."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.subtract(s)


@query(
    "set_intersect_all",
    oracle="""
    SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'A'
    INTERSECT ALL
    SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics)."""
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_orderkey").alias("k"))
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_orderkey").alias("k"))
    return a.intersectAll(r)


@query(
    "set_except_all",
    oracle="""
    SELECT l_orderkey AS k FROM lineitem WHERE l_linestatus = 'O'
    EXCEPT ALL
    SELECT l_orderkey AS k FROM lineitem WHERE l_linestatus = 'F'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics)."""
    li = table(spark, sf_dir, "lineitem")
    o = li.filter(F.col("l_linestatus") == "O").select(F.col("l_orderkey").alias("k"))
    f = li.filter(F.col("l_linestatus") == "F").select(F.col("l_orderkey").alias("k"))
    return o.exceptAll(f)


@query(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (reference ``transforms/util.py:249``)."""
    return table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# Top-k / sort-limit (BeamSortRel requires LIMIT; we match that shape)
# ---------------------------------------------------------------------------
@query(
    "topk_global",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (no full sort at scale)."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@query(
    "topk_per_key",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per key (Beam ``Top.PerKey``, ``combiners.py:167``) via ranked
    window — single shuffle on the key, no per-key list materialization."""
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rn")
    )


# ---------------------------------------------------------------------------
# TPC-H-style breadth (adapted to the fixture's reduced schemas; the
# reference's SQL coverage model is the TPC-DS harness,
# sdks/java/testing/tpcds/ — same idea, DuckDB as the oracle).
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter+agg — every predicate must reach the scan
    (PushedFilters) and the plan is one partial+final agg, no shuffle of
    data rows (only the two accumulators)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: two-nation volume by year. supplier/customer/nation all
    broadcast; the only big shuffle is lineitem⨝orders on orderkey."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    joined = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top returners. Date filter reaches the orders scan,
    returnflag filter the lineitem scan; customer/nation broadcast;
    TakeOrderedAndProject for the top-20 (no global sort)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    n = table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.00 * sum(CASE WHEN p.p_type = 'PROMO'
                                   THEN l.l_extendedprice * (1 - l.l_discount)
                                   ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share. part broadcasts; the month filter
    prunes lineitem at the scan."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
                / F.sum(disc),
                4,
            ).alias("promo_revenue")
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier by quarterly revenue — agg + scalar-max
    self-reference; the revenue relation is tiny so both its reuses are
    cheap and the max broadcasts."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150)
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-quantity orders — HAVING-filtered agg feeding a
    semi-join (the big-order keyset is small, so it broadcasts)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big.withColumnRenamed("l_orderkey", "big_key")),
                F.col("l_orderkey") == F.col("big_key"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q19_discounted_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 21)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive brand/size/quantity predicates over a
    broadcast part join (container->p_size adaptation for the reduced
    fixture schema)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "q13_customer_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey)
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count histogram over a LEFT join (customers with
    zero orders count as c_count=0 — the outer-join-then-aggregate shape;
    count(o_orderkey) skips NULLs exactly like SQL)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
          FROM lineitem GROUP BY l_partkey) t
      ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11' AND l.l_quantity < t.qty_thresh
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: per-part correlated scalar subquery (avg quantity),
    decorrelated into an aggregate + join — the rewrite Catalyst (and
    Calcite) perform; the per-part averages relation is small and
    broadcasts."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    thresh = (
        li.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((0.2 * F.avg("l_quantity")).alias("qty_thresh"))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(thresh), li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0),
    cand AS (
      SELECT c.c_custkey, c.c_nationkey % 10 AS cntry, c.c_acctbal
      FROM customer c, avg_bal
      WHERE c.c_acctbal > avg_bal.ab
        AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    SELECT cntry, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM cand GROUP BY cntry
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: positive-balance average (broadcast scalar) + customers
    with NO orders (left-anti join) grouped by country code."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select((F.col("c_nationkey") % 10).alias("cntry"), "c_acctbal")
        .groupBy("cntry")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H completion: q2/q4/q8/q9/q11/q12/q16/q20/q21 (schema-adapted).
# The testdata has no partsupp/l_shipmode/l_commitdate, so supply facts
# derive from lineitem — every query keeps its canonical PLAN SHAPE
# (decorrelated min subquery, EXISTS semi-join, conditional market share,
# scalar-subquery threshold, NOT IN anti-join, nested IN, EXISTS+NOT
# EXISTS self-joins) per the reference's SQL rel surface (SURVEY.md §2.8).
# ---------------------------------------------------------------------------
@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eur AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    esupply AS (
      SELECT * FROM supply JOIN eur ON l_suppkey = s_suppkey),
    minc AS (
      SELECT l_partkey AS m_partkey, min(cost) AS min_cost
      FROM esupply GROUP BY l_partkey)
    SELECT p_partkey, p_name, s_name, n_name,
           round(s_acctbal, 2) AS acctbal,
           CAST(round(cost * 10000) AS BIGINT) AS cost_e4
    FROM esupply
    JOIN minc ON l_partkey = m_partkey AND cost = min_cost
    JOIN part ON p_partkey = l_partkey
    WHERE p_type = 'LARGE' AND p_size <= 15
    ORDER BY acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted: supply = lineitem unit costs): the correlated
    MIN subquery becomes a min-over-window on the aggregated supply
    relation — ONE lineitem scan (a decorrelated agg+self-join would scan
    and aggregate it twice). The part predicate prunes lineitem via a
    broadcast semi-join BEFORE the supply shuffle, so only qualifying
    parts' rows shuffle at all; the window then sorts the tiny
    (partkey, suppkey) relation, never base rows."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 15)
    )
    supply = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    eur = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    esupply = supply.join(F.broadcast(eur), supply.l_suppkey == F.col("s_suppkey"))
    return (
        esupply.withColumn("min_cost", F.min("cost").over(W.partitionBy("l_partkey")))
        .filter(F.col("cost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("acctbal"),
            # e4 integer units: round(cost*1e4) avoids engine-specific
            # HALF_UP vs half-away rounding at exact .5 decimal boundaries
            F.round(F.col("cost") * 10000).cast("long").alias("cost_e4"),
        )
        .orderBy(F.desc("acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted: 'late' = shipped >60 days after order date):
    correlated EXISTS becomes a LEFT SEMI join on orderkey; the date
    filter reaches the orders scan (PushedFilters)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q8_market_share",
    oracle="""
    WITH allnations AS (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey AND p_type = 'ECONOMY'
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM allnations GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — two-level star join with every
    dim broadcast; the share is a conditional-sum ratio in one agg pass."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").alias("n1")
    n2 = table(spark, sf_dir, "nation").alias("n2")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    supp = table(spark, sf_dir, "supplier")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    return joined.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: profit = discounted revenue; no ps_supplycost
    in the testdata): LIKE-filtered part broadcast, profit rolled up by
    supplier nation x order year."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("profit")
        )
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l_partkey, sum(l_extendedprice * l_quantity) AS value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey)
    SELECT l_partkey AS ps_partkey, round(value, 2) AS value
    FROM val
    WHERE value > (SELECT sum(value) * 0.001 FROM val)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: stock value from lineitem): per-part value vs
    a global-fraction scalar subquery — the total re-aggregates the small
    per-part relation and broadcasts as a 1-row cross join."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    thresh = val.agg((F.sum("value") * 0.001).alias("thresh"))
    return (
        val.join(F.broadcast(thresh))
        .filter(F.col("value") > F.col("thresh"))
        .select(F.col("l_partkey").alias("ps_partkey"), F.round("value", 2).alias("value"))
    )


@query(
    "q12_priority_by_returnflag",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('R','A')
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: l_returnflag stands in for the absent
    l_shipmode): the priority-class conditional counts in one agg pass
    over the orders join."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q16_supplier_part_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: part-supplier pairs from lineitem): NOT IN
    over a filtered supplier set becomes a broadcast LEFT ANTI join;
    distinct-supplier counts per brand/type/size."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad_supp = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_potential_promotion",
    oracle="""
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey = 2
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 50)
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: excess stock from shipped quantity): nested IN
    subqueries become broadcast semi-joins — parts filter the lineitem
    scan, qualifying suppliers semi-join the supplier dim."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    qualifying = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(qualifying),
            supp.s_suppkey == qualifying.l_suppkey,
            "left_semi",
        )
        .select("s_name", "n_name")
    )


@query(
    "q21_suppliers_kept_waiting",
    oracle="""
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
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted: 'late' = l_returnflag R; no receipt/commit
    dates in the testdata): the EXISTS / NOT EXISTS pair become LEFT SEMI
    and LEFT ANTI self-joins on orderkey with a suppkey inequality — all
    three lineitem scans share the orderkey shuffle."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").alias("l3")
    waiting = (
        l1.join(o, F.col("l1.l_orderkey") == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(supp), F.col("l1.l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
