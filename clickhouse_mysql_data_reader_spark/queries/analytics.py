"""Analytics surface [B] — the operators the reference delegates to
ClickHouse (SURVEY.md §2.4), expressed as Catalyst built-ins.

The reference lands rows into MergeTree tables precisely so the
destination can run these (engine choice tablesqlbuilder.py:393-398,
airline.ontime example); it implements none of them itself. Here each is
a declarative DataFrame plan — Catalyst handles predicate pushdown,
column pruning, partial aggregation, and join-strategy selection; AQE
re-plans at runtime. Comments on each query note the scale story.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.queries.registry import register
from clickhouse_mysql_data_reader_spark.sources.parquet import load_table


def _dec(col: str, prec: int = 18, scale: int = 4):
    """Exact-arithmetic cast used on both sides of the oracle compare.

    Both engines round double->decimal HALF_UP (verified empirically:
    0.03125 -> 0.0313 in DuckDB 1.0 and Spark 4), so decimal
    quantization and exact decimal sums are bit-identical.  Final
    OUTPUTS must still leave decimal (cast to DOUBLE/BIGINT/VARCHAR):
    the driver compares pandas-level values, where DuckDB decimals
    become float64 while Spark keeps Decimal objects — trailing-zero
    renderings then hash-mismatch (see tests/oracle_utils.py).
    """
    return F.col(col).cast(f"decimal({prec},{scale})")


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship TPC-H-Q1-style scan+filter+hash-aggregate. Partial/final "
    "agg is automatic (map-side combine); only the tiny grouped state "
    "shuffles, so this scales linearly to 100 TB.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3 (shipping priority): segment-filtered customer dim "
    "BROADCAST into orders (date-pruned at the scan), one fact-fact "
    "shuffle join to lineitem, revenue aggregate with the q1 exact-"
    "decimal idiom, top-10 as TakeOrderedAndProject (never a global "
    "sort). The added l_orderkey tie-break makes the LIMIT frontier "
    "deterministic in both engines.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
    doc="TPC-H Q5 (local supplier volume): six-table join where only "
    "supplier rows from the CUSTOMER's nation count as revenue. Plan "
    "shape for 100 TB: region->nation is an always-broadcast chain "
    "(25/5 rows); date-pruned orders shuffle-join customer on custkey, "
    "lineitem joins on orderkey, and the supplier join carries the "
    "c_nationkey = s_nationkey 'local' constraint as an extra equi-key "
    "(suppkey, nationkey) so Catalyst keeps it a hash join instead of "
    "a post-join filter over a 25x larger intermediate. Final agg "
    "state is one row per nation.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1995-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    asia_nations = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        # Pre-restricting suppliers to the target region keeps the big
        # (suppkey, nationkey) join's build side 1/5 the size and lets
        # the region predicate prune BEFORE the fact join, mirroring
        # what a warehouse optimizer does with the r_name filter.
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


@register(
    "q18_large_volume_customer",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 200
          )
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
    LIMIT 100
    """,
    doc="TPC-H Q18 (large-volume customer): a HAVING-filtered self-semi "
    "join on the fact table. Plan shape for 100 TB: the inner "
    "sum(l_quantity) > 200 aggregate reduces lineitem to a per-order "
    "total map-side-combined on the SAME key (l_orderkey) the outer "
    "join needs, so AQE can reuse the exchange; the surviving orderkey "
    "set is tiny (top fraction of a percent) and joins back as a "
    "LeftSemi that AQE converts to broadcast at runtime. Customer "
    "attaches by broadcast of the filtered orders side. Top-100 is "
    "TakeOrderedAndProject with full tie-breaks (price, date, key) so "
    "the LIMIT frontier is deterministic in both engines.",
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > 200)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders").join(
        big_orders.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "semi"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(),
            F.col("o_orderdate").asc(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
    )


@register(
    "q14_promo_effect",
    """
    SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,4))
                       * CAST(1 - l_discount AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
           CAST(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,4))
                       * CAST(1 - l_discount AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                   * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS DOUBLE)
             AS promo_pct
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
    doc="TPC-H Q14 (promotion effect; p_type is a plain category in this "
    "schema so the LIKE 'PROMO%' prefix degenerates to equality — "
    "reference airline.ontime shows the same conditional-share shape). "
    "One month of lineitem joins part on partkey; both revenue sums are "
    "exact decimal, and the percentage divides the two ALREADY-CAST "
    "doubles so both engines divide bit-identical operands. Scale: the "
    "month filter prunes the fact scan, part projects to two columns "
    "(AQE picks broadcast when the dim fits, shuffle-hash when it "
    "doesn't), and the final agg is a single map-side-combined row.",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = _dec("l_extendedprice") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,4)")
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(disc_price).cast("double").alias("total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
                "promo_pct"
            ),
        )
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 20
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 30
            AND l_quantity BETWEEN 20 AND 30))
    """,
    doc="TPC-H Q19 (discounted revenue, adapted to this schema's "
    "brand/size/quantity columns — no shipmode/shipinstruct in the "
    "testdata): an OR-of-ANDs predicate spanning BOTH join sides. The "
    "scale point is what Catalyst does with the disjunction: CNF "
    "conversion (PushExtraPredicateThroughJoin) derives the per-side "
    "residuals — (brand,size) bounds onto the part scan and the "
    "l_quantity envelope onto the lineitem scan as PushedFilters — so "
    "each side prunes BEFORE the partkey hash join instead of "
    "evaluating the full disjunction on the joined stream. Output is "
    "one exact-decimal row.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )

    def _branch(brand: str, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    cond = (F.col("p_partkey") == F.col("l_partkey")) & (
        _branch("Brand#1", 10, 1, 11)
        | _branch("Brand#13", 20, 10, 20)
        | _branch("Brand#25", 30, 20, 30)
    )
    return li.join(part, cond).agg(
        F.sum(
            _dec("l_extendedprice")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM (
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
             l_extendedprice, l_discount
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
          OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 (volume shipping between two trading nations, both "
    "directions kept separate). Scale shape: both nation filters "
    "BROADCAST into supplier/customer (each join halves its side "
    "before the facts meet), the two-year shipdate band prunes the "
    "lineitem scan, and the cross-pair disjunction evaluates on the "
    "already-joined narrow stream. Exact-decimal revenue; year "
    "extraction under the pinned UTC session.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    n3, n7 = "NATION_3", "NATION_7"
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(n3, n7)
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        ((F.col("supp_nation") == n3) & (F.col("cust_nation") == n7))
        | ((F.col("supp_nation") == n7) & (F.col("cust_nation") == n3))
    )
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10 (returned-item revenue; this schema's customer "
    "carries name/acctbal/nation, the projected address/phone/comment "
    "columns don't exist in the testdata). Scale shape: the quarter "
    "window prunes orders at the scan and the returnflag filter prunes "
    "lineitem; nation is an always-broadcast dim; top-20 is "
    "TakeOrderedAndProject with the custkey tie-break making the LIMIT "
    "frontier deterministic.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT OUTER JOIN (
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderpriority <> '1-URGENT'
      ) o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 (customer order-count distribution; the o_comment "
    "NOT-LIKE filter becomes an order-priority exclusion — this "
    "schema has no comment column, the two-level aggregate shape is "
    "the point). Scale shape: LEFT OUTER join keeps zero-order "
    "customers (the distribution's head), the per-customer count is "
    "the shuffle stage, and the second aggregate's state is a handful "
    "of distinct counts. count(o_orderkey) counts MATCHES (NULLs from "
    "the outer join don't count) — the Q13 semantics.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH bl AS (
      SELECT l_partkey,
             CAST(CAST(l_quantity AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS qt,
             l_extendedprice
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#9'
    ), st AS (
      SELECT l_partkey, CAST(count(*) AS HUGEINT) AS n, sum(qt) AS s
      FROM bl GROUP BY l_partkey
    )
    SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_small
    FROM bl JOIN st ON bl.l_partkey = st.l_partkey
    WHERE 5 * qt * n < s
    """,
    doc="TPC-H Q17 (small-quantity-order revenue, the correlated "
    "avg-quantity subquery decorrelated into a per-part aggregate + "
    "join — exactly what a warehouse optimizer does). The l_quantity < "
    "0.2*avg(l_quantity) comparison is multiplied out to integers "
    "(5*q*n < sum(q), DECIMAL(38,0)/HUGEINT ticks) so the BOUNDARY "
    "rows are engine-exact instead of float-avg-dependent. Scale "
    "shape: brand filter prunes part before the fact join; both the "
    "row branch and its per-part stats aggregate shuffle on the SAME "
    "key (l_partkey), so the sort-merge re-join adds no extra "
    "exchange (the brand-pruned scan does run twice — the standard "
    "decorrelation trade; persist the branch if the filtered slice is "
    "expensive to recompute); one-row result.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = "decimal(38,0)"
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#9")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    bl = li.join(part, F.col("p_partkey") == F.col("l_partkey")).select(
        "l_partkey",
        (F.col("l_quantity").cast("decimal(18,4)") * 10000)
        .cast(dec)
        .alias("qt"),
        "l_extendedprice",
    )
    st = bl.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("qt").cast(dec).alias("s"),
    )
    return (
        bl.join(st, bl.l_partkey == st._pk)
        .filter(
            (F.lit(5).cast(dec) * F.col("qt")).cast(dec) * F.col("n")
            < F.col("s")
        )
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN CAST(0.05 AS DECIMAL(18,4))
                         AND CAST(0.07 AS DECIMAL(18,4))
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 (forecast revenue change): the pure scan-side query — "
    "every predicate (date band, discount band, quantity cap) pushes "
    "into the parquet scan, the aggregate is one map-side-combined "
    "row, and there is NO join or window anywhere. At 100 TB this is "
    "the I/O-bound baseline the other queries are measured against. "
    "The discount band compares DECIMAL-quantized values so the "
    "0.05/0.07 boundary rows are engine-exact (raw double literals "
    "would make them representation-dependent).",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & disc.between(
                F.lit("0.05").cast("decimal(18,4)"), F.lit("0.07").cast("decimal(18,4)")
            )
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,4))
                 * CAST(1 - l_discount AS DECIMAL(18,4))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier, rev
    WHERE s_suppkey = suppkey
      AND total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 (top supplier; the reference view becomes a CTE): "
    "quarter-pruned per-supplier revenue, then supplier(s) matching "
    "the GLOBAL max — the scalar-subquery-against-own-aggregate shape. "
    "Scale: the revenue aggregate is map-side-combined to one row per "
    "supplier; the max reduces that to ONE row which joins back as a "
    "broadcast; ties all surface (deterministic, no LIMIT). Exact "
    "decimal end to end — the max and the equality compare the same "
    "exact DECIMAL, so no float-equality hazard.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(
            _dec("l_extendedprice")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
        ).alias("total_rev")
    )
    top = rev.agg(F.max("total_rev").alias("_max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), rev.total_rev == F.col("_max_rev"))
        .join(supp, F.col("s_suppkey") == F.col("suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "q4_order_priority_check",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 (order priority checking): the EXISTS-correlated "
    "subquery as a LEFT SEMI join — each order counted once no matter "
    "how many lines match (this schema has no commitdate/receiptdate, "
    "so the late-delivery predicate becomes the returned-flag gate; "
    "the decorrelation shape is the point). Scale shape: the date "
    "band prunes the orders scan, the semi join's build side is the "
    "pruned returned-lines key set, and the final aggregate is five "
    "priority rows.",
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        orders.join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12_linestatus_priority",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="TPC-H Q12 (shipping modes / order priority): the conditional "
    "CASE-sum pair over a fact-fact join (l_linestatus stands in for "
    "l_shipmode, absent from this schema). Scale shape: the date band "
    "prunes the lineitem scan, the join shuffles on orderkey (or "
    "reuses a bucketed landing), and the CASE-sums fold map-side into "
    "two counters per linestatus — no second pass over the join.",
)
def q12_linestatus_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select(F.col("l_orderkey").alias("o_orderkey"), "l_linestatus")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, "o_orderkey")
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#9'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
    doc="TPC-H Q16 (parts/supplier relationship): supplier breadth per "
    "part group with a NOT-IN supplier blacklist (negative-balance "
    "suppliers stand in for the complaints LIKE; lineitem stands in "
    "for partsupp, absent from this schema). Scale shape: the "
    "blacklist is a broadcast ANTI join (never a shuffled NOT IN), "
    "the part dim broadcasts, and the exact countDistinct is the only "
    "full shuffle — grouped by (brand, size), bounded state.",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#9")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
        )
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand", "p_size")
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(bad_supp), "l_suppkey", "left_anti")
        .join(F.broadcast(part), "l_partkey")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@register(
    "q22_global_sales_opportunity",
    """
    WITH avg_bal AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
             / CAST(count(*) AS BIGINT) AS a
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="TPC-H Q22 (global sales opportunity): rich customers who never "
    "ordered — a scalar aggregate subquery (global positive-balance "
    "average, decorrelated to a broadcast 1-row frame) + NOT EXISTS "
    "as a LEFT ANTI join (mktsegment stands in for the phone country "
    "code, absent from this schema). The average divides an exact "
    "DECIMAL sum cast to DOUBLE by the BIGINT count — the one "
    "bit-stable cross-engine formulation. Scale shape: the 1-row "
    "stats frame broadcasts, the anti join shuffles on custkey (or "
    "broadcasts the key set), the final aggregate is five segments.",
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(_dec("c_acctbal")).cast("double")
                / F.count(F.lit(1))
            ).alias("a")
        )
    )
    orders_keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(orders_keys, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q8_market_share",
    """
    WITH vol AS (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                              THEN volume ELSE 0 END) AS DOUBLE)
                / CAST(sum(volume) AS DOUBLE) AS DOUBLE) AS mkt_share,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
    doc="TPC-H Q8 (national market share): the widest star in the "
    "registry — lineitem joined to part/supplier/orders/customer plus "
    "nation TWICE (customer side gates the region, supplier side "
    "labels the share) and region, then a conditional-share aggregate "
    "per year. Scale shape: every dim broadcasts (nation/region are "
    "tiny, part/supplier/customer are the classic broadcast dims), so "
    "the fact table never shuffles until the per-year aggregate — a "
    "handful of rows. Both share terms sum exact DECIMALs and cast to "
    "DOUBLE only for the final division (engine-exact).",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    n1 = (
        nation.join(F.broadcast(region), nation.n_regionkey == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("c_nationkey"))
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), "c_nationkey")
        .join(F.broadcast(n2), "s_nationkey")
        .select(
            F.year("o_orderdate").alias("o_year"),
            (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).alias(
                "volume"
            ),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        vol.groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume"))
                    .otherwise(zero)
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


@register(
    "q21_suppliers_kept_waiting",
    """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
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
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    doc="TPC-H Q21 (suppliers who kept orders waiting): the hardest "
    "correlated shape in the suite — an EXISTS and a NOT EXISTS over "
    "the SAME fact table with a supplier INEQUALITY inside the "
    "correlation (the sole returned-line supplier in a multi-supplier "
    "finished order; l_returnflag stands in for the receipt-after-"
    "commit lateness, absent from this schema). Decorrelated to a "
    "LEFT SEMI + LEFT ANTI pair: both hash on the orderkey equi-part "
    "and apply the suppkey inequality as the join residual — never a "
    "cartesian. Scale shape: three orderkey-keyed passes over pruned "
    "lineitem projections (bucket-land by orderkey and all three are "
    "exchange-free), a semi join against F-status orders, a broadcast "
    "supplier dim, TakeOrderedAndProject top-10.",
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    ).alias("l1")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    fin_orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .join(fin_orders, "l_orderkey", "left_semi")
    )
    return (
        waiting.join(F.broadcast(supp), "l_suppkey")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "agg_count_distinct",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact distinct aggregation. Catalyst expands to a two-phase "
    "shuffle (distinct-expand then final agg); key cardinality bounds "
    "state, not input rows.",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "agg_approx_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="approx_count_distinct (HyperLogLog++). The 100 TB path: constant "
    "memory per group vs exact distinct's shuffle of all keys. Sketch "
    "values are engine-specific, so the ORACLE is a bounded check — but "
    "the exact distinct count is in the compared output: DuckDB computes "
    "it independently, the hash verifies Spark's exact anchor, and "
    "within_5pct bound-checks the sketch against that verified anchor "
    "(rsd=0.01 gives ~1% typical error; 5%% is the gate). Both aggregates "
    "run over the PRE-DISTINCT (flag, partkey) pairs, never in one agg "
    "with countDistinct: a distinct + non-distinct mix triggers the "
    "Expand-based distinct rewrite, whose first phase groups by (flag, "
    "partkey) — one rsd=0.01 HLL buffer PER PAIR, ~200k sketch "
    "allocations at sf0.1 (measured 18.5s; this form 1.1s, and HLL is "
    "duplicate-insensitive so the estimate is bit-identical).",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_partkey")
        .distinct()
    )
    return (
        pairs.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
            F.count(F.lit(1)).alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("within_5pct"),
        )
    )


@register(
    "agg_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals. Two-phase: the fact table is first "
    "aggregated at the FINEST key granularity (plain map-side partial "
    "agg — no Expand touches a raw row), and the rollup's Expand runs "
    "over the tiny per-(flag,status) aggregate. Legal because both "
    "measures are algebraic (sum of sums, sum of counts); at 100 TB "
    "this is the difference between scanning 3x the fact table and "
    "expanding ~6 rows.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("_sq"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("_sq").cast("double").alias("sum_qty"),
            F.sum("_n").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


@register(
    "agg_cube",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two low-cardinality dims. Same two-phase shape as "
    "agg_rollup: finest-granularity partial agg first, cube's Expand(x4) "
    "over the small aggregate only.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum(_dec("o_totalprice")).alias("_sp"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return (
        base.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum("_sp").cast("double").alias("sum_price"),
            F.sum("_n").alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "sum_price",
            "n_orders",
        )
    )


@register(
    "agg_pivot",
    """
    SELECT user_id % 10 AS user_bucket,
           CAST(sum(CASE WHEN event_type = 'click'
                         THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS click,
           CAST(sum(CASE WHEN event_type = 'view'
                         THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS view,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS purchase
    FROM events
    GROUP BY user_id % 10
    """,
    doc="Pivot with an explicit value list (no extra pass to discover "
    "columns; pivot-on-known-values is a single aggregate at any scale).",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.sum(_dec("value")))
    )
    return pivoted.select(
        "user_bucket",
        *(F.col(c).cast("double").alias(c) for c in ("click", "view", "purchase")),
    )


@register(
    "agg_unpivot",
    """
    WITH s AS (
      SELECT l_returnflag,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty'   AS metric, sum_qty   AS val FROM s
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS val FROM s
    UNION ALL
    SELECT l_returnflag, 'sum_disc'  AS metric, sum_disc  AS val FROM s
    """,
    doc="UNPIVOT (wide->long, the inverse of agg_pivot): aggregate "
    "first, then melt the metric columns with Spark's native unpivot "
    "(Expand — one pass, no join/union re-scan; the UNION ALL oracle "
    "spells out the same relation). Wide->long reshaping feeds every "
    "metrics/feature-store export where downstream wants one "
    "(key, metric, value) row per cell.",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.sum(_dec("l_discount")).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "metric", "val"
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_broadcast_dim",
    """
    SELECT n_name AS nation,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="Star join fact->dims. Both dims explicitly broadcast: zero "
    "shuffle of the fact table, the decisive strategy at 100 TB.",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
    )


_FACT_FACT_ORACLE = """
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o_orderpriority
    """


def _fact_fact_agg(joined: DataFrame) -> DataFrame:
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
        )
        .cast("double")
        .alias("revenue"),
    )


@register(
    "join_shuffle_fact_fact",
    _FACT_FACT_ORACLE,
    doc="Fact-fact equi join: sort-merge/shuffle-hash chosen by Catalyst, "
    "AQE splits skewed keys. Filter on orders is pushed below the join.",
)
def join_shuffle_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return _fact_fact_agg(li.join(orders, li.l_orderkey == orders.o_orderkey))


def _drop_stale_warehouse_dir(spark: SparkSession, table: str) -> None:
    """A fresh in-memory metastore doesn't know tables a PREVIOUS
    session landed, but their warehouse directories persist and make
    saveAsTable fail with LOCATION_ALREADY_EXISTS — clear them."""
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme not in ("", "file"):
        return
    path = os.path.join(wh.path, table.lower())
    if os.path.exists(path):
        shutil.rmtree(path, ignore_errors=True)


def landed_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Land lineitem/orders as managed tables bucketed by the join key
    (column-pruned to the query's needs) — the write-once MergeTree-
    ORDER-BY-style layout. Idempotent per (catalog, sf_dir).

    Bucket count = the session's core count (floor 16): a bucketed scan
    runs ONE task per bucket (a bucket is never split across tasks —
    that is the co-location guarantee), so fewer buckets than cores
    caps scan parallelism below what the plain shuffle join gets from
    splittable files. Round 5 landed 16 buckets on a 32-core bench and
    the 'optimized' layout measured SLOWER than the shuffle join it
    exists to beat — the join had no exchange but the scan ran at half
    width. At 100 TB size buckets to the target file size instead
    (|table| / ~256MB); parallelism is then abundant either way."""
    from clickhouse_mysql_data_reader_spark.sinks.batch import write_bucketed

    n_buckets = max(16, spark.sparkContext.defaultParallelism)
    # n_buckets is part of the table identity: a table landed by an
    # earlier session with a different core count (or a partial run that
    # created only one side) must not be silently reused, or the two
    # sides' bucket specs can mismatch and the exchange this layout
    # exists to remove comes back.
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")).lower()
    lt, ot = f"lineitem_bkt{n_buckets}_{tag}", f"orders_bkt{n_buckets}_{tag}"
    if not spark.catalog.tableExists(lt):
        _drop_stale_warehouse_dir(spark, lt)
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            lt, ["l_orderkey"], num_buckets=n_buckets, sort_cols=["l_orderkey"],
        )
    if not spark.catalog.tableExists(ot):
        _drop_stale_warehouse_dir(spark, ot)
        write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate", "o_orderpriority"
            ),
            ot, ["o_orderkey"], num_buckets=n_buckets, sort_cols=["o_orderkey"],
        )
    return lt, ot


@register(
    "join_shuffle_fact_fact_bucketed",
    _FACT_FACT_ORACLE,
    doc="The same fact-fact join over tables LANDED bucketed by the join "
    "key: both sides' bucket files align 1:1, so the join runs with NO "
    "exchange below it — at 100 TB the dominant shuffle of the nightly "
    "fact-fact join is paid once at landing time instead of per query. "
    "Physical-plan variant of join_shuffle_fact_fact (same oracle).",
)
def join_shuffle_fact_fact_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    lt, ot = landed_bucketed_tables(spark, sf_dir)
    li = spark.table(lt)
    orders = spark.table(ot).filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    # hint("merge") pins the scale-representative plan: at test SFs the
    # pruned orders side fits the broadcast threshold, which would mask
    # the co-located bucket join this layout exists to demonstrate; at
    # 100 TB sort-merge is what Catalyst picks unhinted.
    return _fact_fact_agg(
        li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey)
    )


@register(
    "join_semi",
    """
    SELECT o_orderstatus, count(*) AS n_orders
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
    GROUP BY o_orderstatus
    """,
    doc="Left-semi join (EXISTS). Only the key column of the probe side "
    "moves; no row multiplication.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    big = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "join_anti",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
    doc="Left-anti join (NOT EXISTS) — customers with no orders.",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_theta",
    """
    SELECT p_brand,
           count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND l_quantity > p_size
    GROUP BY p_brand
    """,
    doc="Equi + theta residual join: hash on the equi key, inequality as "
    "post-probe filter; part side broadcast.",
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(
            F.broadcast(part),
            (li.l_partkey == part.p_partkey) & (li.l_quantity > part.p_size),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "join_outer_coalesce",
    """
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS total_orders
    FROM (
      SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_mktsegment
    )
    GROUP BY c_mktsegment
    """,
    doc="Left-outer join preserving unmatched build rows + two-level agg.",
)
def join_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("n_orders").alias("total_orders"),
    )


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


@register(
    "window_topn_per_group",
    """
    SELECT c_mktsegment, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice, rn
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    WHERE rn <= 3
    """,
    doc="Ranked top-N per group: row_number window with deterministic "
    "tie-break; shuffles once on the partition key.",
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("totalprice"),
            "rn",
        )
    )


@register(
    "window_lag_delta",
    """
    SELECT event_id, user_id,
           value - lag(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS delta
    FROM events
    WHERE user_id < 10
    """,
    doc="lag() analytic — per-user deltas in event order (deterministic "
    "tie-break on event_id). Raw double subtraction: a single IEEE op "
    "is bit-identical across engines, no quantization needed.",
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "window_moving_agg",
    """
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(18,4)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS moving_sum
    FROM events
    WHERE user_id < 10
    """,
    doc="Moving-frame aggregate (ROWS BETWEEN): bounded state per key. "
    "Summand quantized to DECIMAL first so the frame sum is exact — "
    "double accumulation order differs between engines (DuckDB uses a "
    "segment tree for sliding frames).",
)
def window_moving_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, W.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(_dec("value")).over(w).cast("double").alias("moving_sum"),
    )


@register(
    "window_rank_dense",
    """
    SELECT s_suppkey, s_nationkey,
           rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rnk,
           dense_rank() OVER (PARTITION BY s_nationkey
                              ORDER BY s_acctbal DESC, s_suppkey) AS drnk,
           cume_dist() OVER (PARTITION BY s_nationkey
                             ORDER BY s_acctbal DESC, s_suppkey) AS cd
    FROM supplier
    """,
    doc="rank/dense_rank/cume_dist ranking family.",
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return sup.select(
        "s_suppkey",
        "s_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        # raw double: cume_dist = rank/count, an exact int division both
        # engines round identically — bit-stable without quantization
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "window_pctile_ntile",
    """
    SELECT event_id, event_type,
           percent_rank() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS pct_rank,
           CAST(ntile(4) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS INT) AS quartile
    FROM events
    """,
    doc="percent_rank/ntile distribution-function family (completes "
    "the window coverage next to rank/dense_rank/cume_dist). The "
    "event_id tie-break makes both functions total-order deterministic; "
    "percent_rank = (rank-1)/(n-1) is an exact integer division both "
    "engines round identically. Scale: one shuffle on the partition "
    "key; per-key NTILE state is O(1).",
)
def window_pctile_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("value"), F.col("event_id"))
    return ev.select(
        "event_id",
        "event_type",
        F.percent_rank().over(w).alias("pct_rank"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------


@register(
    "topk_global",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    doc="Global top-k: Catalyst TakeOrderedAndProject — per-partition "
    "heaps then a k-row driver merge, never a full sort at scale.",
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("totalprice"))
    )


@register(
    "set_intersect",
    """
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1995-12-31 23:59:59'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
    """,
    doc="INTERSECT set op (customers active in both years).",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select(F.col("o_custkey").alias("custkey"))
    y96 = orders.filter(F.year("o_orderdate") == 1996).select(F.col("o_custkey").alias("custkey"))
    return y95.intersect(y96)


@register(
    "set_except",
    """
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1995-12-31 23:59:59'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
    """,
    doc="EXCEPT set op (active in 1995 but not 1996).",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select(F.col("o_custkey").alias("custkey"))
    y96 = orders.filter(F.year("o_orderdate") == 1996).select(F.col("o_custkey").alias("custkey"))
    return y95.subtract(y96)


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------


@register(
    "scalar_string_funcs",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           lower(p_type) AS type_lower,
           substring(p_name, 1, 8) AS name_prefix,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           replace(p_type, ' ', '_') AS type_snake,
           trim(p_name) AS name_trim
    FROM part
    WHERE p_size <= 10
    """,
    doc="String scalar family (upper/lower/substr/length/concat/replace/trim).",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.trim(F.col("p_name")).alias("name_trim"),
    )


@register(
    "scalar_date_funcs",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS o_year,
           month(o_orderdate) AS o_month,
           day(o_orderdate) AS o_day,
           quarter(o_orderdate) AS o_quarter,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
    doc="Date/time scalar family incl. the reference's toYYYYMM-style "
    "partition expression (date_trunc month).",
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_y2k"
        ),
    )


@register(
    "scalar_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS abs_disc,
           l_extendedprice / 64.0 AS price_64,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS price_k_ceil,
           round(sqrt(l_extendedprice), 6) AS price_sqrt,
           round(ln(l_extendedprice + 1), 6) AS price_ln,
           CAST(power(l_quantity, 2) AS BIGINT) AS qty_sq
    FROM lineitem
    WHERE l_orderkey % 500 = 0
    """,
    doc="Math scalar family; floating results rounded for hash stability.",
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 500 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc"),
        # /64 is exact in binary FP -> hash-stable without rounding
        (F.col("l_extendedprice") / 64.0).alias("price_64"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil(F.col("l_extendedprice") / 1000.0).alias("price_k_ceil"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.pow("l_quantity", F.lit(2)).cast("bigint").alias("qty_sq"),
    )


@register(
    "scalar_json_funcs",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    WHERE event_id < 1000
    """,
    doc="JSON extraction from a string column (the reference stores JSON "
    "as String; analytics parse it on read — SURVEY §1.2/§2.4).",
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


@register(
    "window_tumbling_hourly",
    """
    SELECT CAST(ts AS DATE) AS event_date,
           CAST(extract(hour FROM ts) AS INT) AS event_hour,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="Hourly tumbling-window aggregate over event time, in batch form.",
)
def window_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("ts").cast("date").alias("event_date"),
            F.hour("ts").cast("int").alias("event_hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )
