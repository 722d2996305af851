"""TPC-H battery completion: Q2, Q8, Q9, Q11, Q16, Q20, Q21 (SURVEY §2.3/§2.4).

With these seven, every TPC-H query shape (1-22) is represented in the
engine. The driver's simplified schema has no `partsupp` table and no
l_commitdate/l_receiptdate, so the partsupp-dependent queries keep their
OPERATOR SHAPE (correlated min, scalar-subquery HAVING, NOT IN anti
join, nested semi joins, double-correlated EXISTS/NOT EXISTS) with the
lineitem-derived supplier×part catalog standing in for partsupp, and
`l_shipdate > o_orderdate + 120 days` standing in for
receiptdate > commitdate. Adaptations are documented per query.

Determinism follows ARCHITECTURE.md conventions: money in integer
cents/micros, year() cast to 64-bit, floor-quantized quotients with
scaling applied before division on both engines, unique tiebreakers for
any top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table, register_views


def _sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(text)


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated MIN subquery shape)
# --------------------------------------------------------------------------

@register(
    "join_min_cost_supplier_q2",
    oracle="""
WITH catalog AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         CAST(MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cost_cents
  FROM lineitem GROUP BY 1, 2
), eu AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
)
SELECT eu.s_acctbal, eu.s_name, eu.n_name, p.p_partkey,
       c.cost_cents / 100.0 AS supply_cost
FROM part p
JOIN catalog c ON c.partkey = p.p_partkey
JOIN eu ON eu.s_suppkey = c.suppkey
WHERE p.p_size = 15
  AND c.cost_cents = (
    SELECT MIN(c2.cost_cents)
    FROM catalog c2 JOIN eu e2 ON e2.s_suppkey = c2.suppkey
    WHERE c2.partkey = p.p_partkey)
""",
    tags=("join", "tpch"),
)
def join_min_cost_supplier_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier). Adaptation: no partsupp table —
    the supplier×part catalog is derived from lineitem with
    cost = MIN(extendedprice) per (part, supplier), in integer cents.

    The correlated `ps_supplycost = (SELECT MIN ...)` decorrelates into
    a per-part MIN aggregate joined back on (partkey, cost) — the
    standard argmin-via-self-join rewrite; ties keep all achieving
    suppliers (deterministic set). The supplier/nation/region dimension
    chain broadcasts (≤ |suppliers| rows); the only big shuffle is the
    catalog groupBy on (partkey, suppkey).
    """
    li = load_table(spark, sf_dir, "lineitem")
    catalog = (
        li.groupBy(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cost_cents"))
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_cat = catalog.join(F.broadcast(eu), catalog.suppkey == eu.s_suppkey)
    best = eu_cat.groupBy("partkey").agg(F.min("cost_cents").alias("min_cents"))
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    return (
        eu_cat.join(
            best,
            (eu_cat.partkey == best.partkey) & (eu_cat.cost_cents == best.min_cents),
        )
        .drop(best.partkey)
        .join(F.broadcast(p), F.col("partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("cost_cents") / 100.0).alias("supply_cost"),
        )
    )


# --------------------------------------------------------------------------
# Q8 — national market share (single SQL text on both engines)
# --------------------------------------------------------------------------

_Q8_SQL = """
WITH sales AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
           AS cents,
         n2.n_name AS supp_nation
  FROM lineitem l
  JOIN part p     ON p.p_partkey = l.l_partkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = n1.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
)
SELECT o_year,
       floor(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN cents ELSE 0 END)
                  AS BIGINT) * 1e6
             / CAST(SUM(cents) AS BIGINT)) / 1e6 AS mkt_share
FROM sales
GROUP BY o_year
"""


@register("sql_api_q8", oracle=_Q8_SQL, tags=("sql", "join", "tpch"))
def sql_api_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): ONE SQL text on both engines.
    An 8-table join (the widest in the battery) where every dimension
    broadcasts and the two fact⋈fact joins (lineitem⋈orders⋈customer)
    are the only shuffles; the share quotient is floor-quantized with
    the numerator scaled before dividing, identically on both engines."""
    return _sql(spark, sf_dir, _Q8_SQL)


# --------------------------------------------------------------------------
# Q9 — product-type profit (DataFrame)
# --------------------------------------------------------------------------

@register(
    "join_product_profit_q9",
    oracle="""
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                - CAST(l.l_quantity AS BIGINT)
                  * CAST(round(p.p_retailprice * 70) AS BIGINT)) AS BIGINT)
         / 100.0 AS sum_profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, year(o.o_orderdate)
""",
    tags=("join", "tpch"),
)
def join_product_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit). Adaptation: no ps_supplycost —
    unit cost is 70% of p_retailprice (deterministic stand-in keeping
    the profit expression's revenue-minus-cost shape); the part filter
    is a LIKE on p_name as in the original.

    part/supplier/nation broadcast; the lineitem⋈orders equi join is
    the single big shuffle, and profit accumulates as exact integer
    cents (revenue cents minus quantity × unit-cost cents)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long") - F.col("l_quantity").cast("long") * F.round(
        F.col("p_retailprice") * 70
    ).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(profit_cents) / 100.0).alias("sum_profit"))
    )


# --------------------------------------------------------------------------
# Q11 — important stock (single SQL text, scalar-subquery HAVING shape)
# --------------------------------------------------------------------------

_Q11_SQL = """
WITH val AS (
  SELECT l.l_partkey AS p_partkey,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)
                  * CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  JOIN region r   ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'ASIA'
  GROUP BY l.l_partkey
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(value_cents) AS BIGINT) AS total_cents
  FROM val
)
SELECT p_partkey, value_cents
FROM val, tot
WHERE value_cents * n_parts > 2 * total_cents
"""


@register("sql_api_q11", oracle=_Q11_SQL, tags=("sql", "agg", "tpch"))
def sql_api_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock). Adaptation: no partsupp — per-part
    inventory value is SUM(quantity × price-cents) over one region's
    suppliers' lineitems, and the significance bar is value > 2× the
    regional per-part average (the original's fixed fraction of total
    never triggers on this uniform synthetic data). The scalar total
    (the original's HAVING subquery) is a 1-row aggregate cross-joined
    back — Catalyst plans it as a broadcast — and the test is
    all-integer (value × n_parts > 2 × total): no float threshold."""
    return _sql(spark, sf_dir, _Q11_SQL)


# --------------------------------------------------------------------------
# Q16 — supplier count by part attributes (single SQL text, NOT IN shape)
# --------------------------------------------------------------------------

_Q16_SQL = """
SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register("sql_api_q16", oracle=_Q16_SQL, tags=("sql", "agg", "tpch"))
def sql_api_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship). Adaptation: the
    supplier×part relation comes from lineitem, and negative account
    balance stands in for the original's complaint-comment exclusion.
    The NOT IN subquery plans as a null-aware anti join (the subquery
    side is non-null here, so it degenerates to a broadcast anti join);
    COUNT(DISTINCT) expands then two-phase aggregates under Catalyst."""
    return _sql(spark, sf_dir, _Q16_SQL)


# --------------------------------------------------------------------------
# Q20 — potential part promotion (nested semi-join chain, DataFrame)
# --------------------------------------------------------------------------

@register(
    "join_promo_suppliers_q20",
    oracle="""
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_regionkey = 3
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) > 45)
""",
    tags=("join", "tpch"),
)
def join_promo_suppliers_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion). Adaptation: no partsupp
    availqty — a supplier qualifies when it shipped > 45 units of some
    'small%' part in 1997 (half-of-availqty becomes a fixed threshold).

    The shape is the original's nested semi-join chain: part-name semi
    join prunes lineitem (broadcast of the matching partkeys), a
    (suppkey, partkey) aggregate applies the HAVING threshold, and the
    qualifying suppkeys semi-join the nation-filtered supplier dim —
    supplier rows are never duplicated by multi-part matches."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    qualified = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(parts), li.l_partkey == parts.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 45)
        .select("l_suppkey")
    )
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 3)
    return (
        load_table(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(qualified, F.col("s_suppkey") == qualified.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
    )


# --------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS, DataFrame)
# --------------------------------------------------------------------------

@register(
    "join_waiting_suppliers_q21",
    oracle="""
WITH li AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 120 DAY AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM (
  SELECT DISTINCT l1.l_suppkey, l1.l_orderkey
  FROM li l1
  WHERE l1.late
    AND EXISTS (SELECT 1 FROM li l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM li l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
) w
JOIN supplier s ON s.s_suppkey = w.l_suppkey
GROUP BY s.s_name
""",
    tags=("join", "tpch"),
)
def join_waiting_suppliers_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting). Adaptation: no
    l_commitdate/l_receiptdate — "late" is shipping more than 120 days
    after the order date.

    The double correlation (EXISTS another supplier on the order, NOT
    EXISTS another LATE supplier) is the hardest subquery shape in the
    battery. Rather than two correlated joins over the fact, this
    computes ONE per-order aggregate — distinct suppliers and distinct
    late suppliers — and keeps late line-suppliers on orders with
    n_suppliers > 1 and exactly one late supplier (necessarily the
    candidate itself): the pair of correlated existence tests collapses
    into a single groupBy + join, so lineitem is scanned once and
    shuffled once on the order key. The oracle states the same
    semantics with literal EXISTS / NOT EXISTS for DuckDB to plan its
    own way.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    li = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 120 DAY")).alias(
            "late"
        ),
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    waiting = (
        li.filter(F.col("late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )
