"""TPC-H-shaped queries through the DataFrame API (SURVEY §2.3/§2.4).

Companion to tpch_sql.py: these exercise the DataFrame surface on the
query shapes the SQL batch doesn't cover — double-dim role-playing
joins (Q7), aggregate-vs-max-of-aggregate (Q15), correlated scalar
aggregate rewritten as a cross-multiplied integer compare (Q17),
HAVING-driven semi join (Q18), and scalar-subquery + anti-join (Q22).

Schema adaptations (simplified TPC-H, TESTDATA.md): Q7 groups by
year(l_shipdate) (no l_receiptdate); Q17 blocks on p_brand+p_type (no
p_container); Q22 substitutes c_mktsegment for the phone-prefix filter.

Determinism: money is summed as integer cents/micros and divided once;
avg comparisons are cross-multiplied into exact integer compares
(qty * 5 * cnt < sum_qty instead of qty < 0.2 * avg) so no engine ever
rounds a quotient; the one true division (Q17's /7 yearly average) is
floor-quantized on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table

# nation SETS rather than the textbook single pair: the synthetic data
# at sf0.001 has no lineitem for any one specific cross-nation pair, so
# a literal FRANCE/GERMANY-style filter is vacuously empty at test scale
_NATIONS_A = ("NATION_1", "NATION_2", "NATION_3")
_NATIONS_B = ("NATION_4", "NATION_5", "NATION_6")


@register(
    "join_volume_shipping_q7",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6) AS BIGINT))
            AS BIGINT) / 1e6 AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE (n1.n_name IN {_NATIONS_A!r} AND n2.n_name IN {_NATIONS_B!r})
   OR (n1.n_name IN {_NATIONS_B!r} AND n2.n_name IN {_NATIONS_A!r})
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
""",
    tags=("join", "flagship"),
)
def join_volume_shipping_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): the nation dim joins TWICE in
    different roles (supplier side, customer side); the pair filter is a
    disjunction across both roles, so it can only apply after both
    joins. Both nation joins broadcast; year() groups by derived key."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (
        F.col("supp_nation").isin(*_NATIONS_A) & F.col("cust_nation").isin(*_NATIONS_B)
    ) | (F.col("supp_nation").isin(*_NATIONS_B) & F.col("cust_nation").isin(*_NATIONS_A))
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6).cast("long")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(rev) / F.lit(1e6)).alias("revenue"),
        )
    )


@register(
    "agg_top_supplier_q15",
    oracle="""
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT))
              AS BIGINT) AS rev_micros
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, rev.rev_micros / 1e6 AS total_revenue
FROM supplier s JOIN rev ON s.s_suppkey = rev.supplier_no
WHERE rev.rev_micros = (SELECT MAX(rev_micros) FROM rev)
""",
    tags=("agg", "flagship"),
)
def agg_top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): aggregate, then keep the rows achieving
    the aggregate's max — the scalar-subquery shape. The 1-row max is
    broadcast back against the per-supplier revenue (no second scan of
    lineitem, no window over the whole table). Exact integer-micros
    revenue makes the equality comparison safe."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev_micros = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6).cast("long")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev_micros).alias("rev_micros")
    )
    top = rev.agg(F.max("rev_micros").alias("max_micros"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(top, F.col("rev_micros") == F.col("max_micros"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_micros") / F.lit(1e6)).alias("total_revenue"),
        )
    )


@register(
    "agg_small_qty_revenue_q17",
    oracle="""
WITH pq AS (
  SELECT l.l_partkey AS pk,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         COUNT(*) AS cnt
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#3' AND p.p_type = 'MEDIUM'
  GROUP BY l.l_partkey
)
SELECT COUNT(*) AS n_items,
       floor(CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             * 1e4 / 7.0) / 1e6 AS avg_yearly
FROM lineitem l
JOIN pq ON pq.pk = l.l_partkey
WHERE CAST(l.l_quantity AS BIGINT) * 5 * pq.cnt < pq.sum_qty
""",
    tags=("agg", "flagship"),
)
def agg_small_qty_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the correlated
    "quantity < 0.2 * per-part average" subquery, decorrelated into a
    per-part aggregate joined back to lineitem. The average compare is
    cross-multiplied (qty * 5 * cnt < sum_qty) so it is EXACT integer
    arithmetic on both engines — no float quotient to disagree on. The
    /7 yearly average, the one real division, is floor-quantized."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "MEDIUM")
    )
    pq = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.count("*").alias("cnt"),
        )
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    small = li.join(F.broadcast(pq), li.l_partkey == pq.pk).filter(
        F.col("l_quantity").cast("long") * 5 * F.col("cnt") < F.col("sum_qty")
    )
    return small.agg(
        F.count("*").alias("n_items"),
        (F.floor(F.sum(cents) * F.lit(1e4) / F.lit(7.0)) / F.lit(1e6)).alias("avg_yearly"),
    )


_Q18_MIN_QTY = 300


@register(
    "join_large_volume_q18",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) > {_Q18_MIN_QTY}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_totalprice, big.total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN big ON big.l_orderkey = o.o_orderkey
""",
    tags=("join", "flagship"),
)
def join_large_volume_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): the HAVING-driven IN subquery
    becomes an aggregate joined back to orders — the qualifying-order
    set is tiny after the quantity gate, so it broadcasts and the big
    tables never shuffle for it. Quantities sum as exact integers;
    order date is emitted as a fixed-format string."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > _Q18_MIN_QTY)
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(big), big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


_Q22_SEGMENTS = ("AUTOMOBILE", "HOUSEHOLD", "MACHINERY")


@register(
    "join_global_sales_q22",
    oracle=f"""
WITH pos AS (
  SELECT CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS cents,
         COUNT(*) AS n
  FROM customer
  WHERE c_acctbal > 0.0 AND c_mktsegment IN {_Q22_SEGMENTS!r}
)
SELECT c.c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS totacctbal
FROM customer c, pos
WHERE c.c_mktsegment IN {_Q22_SEGMENTS!r}
  AND CAST(round(c.c_acctbal * 100) AS BIGINT) * pos.n > pos.cents
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= DATE '2001-01-01')
GROUP BY c.c_mktsegment
""",
    tags=("join", "flagship"),
)
def join_global_sales_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): customers above the
    average positive balance with no RECENT order (none since
    2001-01-01 — in this synthetic data every customer has ordered at
    least once, so the textbook "never ordered" anti-join is vacuously
    empty; "lapsed" keeps the anti-join semantics non-vacuous). The
    scalar avg subquery broadcasts as a 1-row aggregate; the anti
    condition is a LEFT ANTI join on o_custkey over date-filtered
    orders. The above-average test is cross-multiplied into integer
    cents (bal_cents * n > total_cents) — no float avg. c_mktsegment
    stands in for the reference query's phone prefix."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin(*_Q22_SEGMENTS)
    )
    bal_cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_cents).alias("cents"), F.count("*").alias("n")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("date"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(pos)
        .filter(bal_cents * F.col("n") > F.col("cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            (F.sum(bal_cents) / F.lit(100.0)).alias("totacctbal"),
        )
    )
