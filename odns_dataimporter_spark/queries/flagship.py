"""Flagship multi-join analytics + skew-mitigation patterns.

Q5-style: the full snowflake (region→nation→customer→orders→lineitem→
supplier) — the query shape Catalyst's join reordering and AQE exist
for. Salted aggregation: the standard two-phase fix for hot grouping
keys at 100 TB (a handful of keys receiving most rows turns one reducer
into the job's critical path; salting fans each hot key across N
partial groups, then merges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odns_dataimporter_spark.queries._helpers import money_sum_sql
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table

_Q5_REV = (
    "CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6) AS BIGINT))"
    " AS BIGINT) / 1e6"
)


@register(
    "join_snowflake_q5",
    oracle=f"""
SELECT n.n_name AS nation, COUNT(*) AS n_items, {_Q5_REV} AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n.n_name
""",
    tags=("join", "flagship"),
)
def join_snowflake_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier revenue: 6-table snowflake with a
    selective dim filter. Declared in natural order; Catalyst + AQE
    reorder joins, broadcast the small sides, and push the region/date
    filters into the scans — asserted in test_plans.py."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    joined = (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == n.n_nationkey))
    )
    rev_micros = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6).cast("long")
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").alias("n_items"),
        (F.sum(rev_micros) / F.lit(1e6)).alias("revenue"),
    )


_N_SALT = 16


@register(
    "agg_skew_salted",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {money_sum_sql('value')} AS total_value
FROM events
GROUP BY event_type
""",
    tags=("agg", "skew"),
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a pathologically hot key space
    (5 event types for every row in the table).

    Phase 1 groups by (key, salt) — Spark's map-side partial aggregation
    already fans the reduction, so the explicit salt is belt-and-braces
    for aggregates; the pattern matters most for skewed JOIN keys and
    for high-cardinality state like collect_list. Result is identical
    to the direct groupBy, which is exactly what the oracle checks.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    salted = ev.withColumn("_salt", (F.col("event_id") % _N_SALT))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("_n"), F.sum(cents).alias("_cents")
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n_events"),
        (F.sum("_cents") / F.lit(100.0)).alias("total_value"),
    )


_Q6_SQL = """
SELECT
  CAST(SUM(CAST(round(l_extendedprice * l_discount * 1e6) AS BIGINT)) AS BIGINT) / 1e6
    AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


@register("sql_api_q6", oracle=_Q6_SQL, tags=("sql", "flagship"))
def sql_api_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure filter+aggregate
    query — every predicate pushes to the parquet scan, zero joins, one
    partial+final aggregation. Same SQL text runs on both engines."""
    from odns_dataimporter_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q6_SQL)


_Q14_SQL = """
SELECT
  floor(
    100.0 * SUM(CAST(round(CASE WHEN p_type = 'PROMO'
                    THEN l_extendedprice * (1 - l_discount) ELSE 0 END * 1e6) AS BIGINT))
    / SUM(CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT)) * 1e6
  ) / 1e6 AS promo_revenue_pct,
  COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


@register("sql_api_q14", oracle=_Q14_SQL, tags=("sql", "flagship"))
def sql_api_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional aggregation over a
    fact⋈dim join; the percentage is a ratio of exact integer-micros
    sums, floor-quantized so both engines land on the same grid cell."""
    from odns_dataimporter_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q14_SQL)


@register(
    "join_returned_items_q10",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1e6) AS BIGINT))
            AS BIGINT) / 1e6 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    tags=("join", "flagship"),
)
def join_returned_items_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item reporting: which customers returned
    the most revenue. Fact⋈fact⋈dim with selective filter, exact
    integer-micros revenue, deterministic top-20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6).cast("long")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg((F.sum(rev) / F.lit(1e6)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "join_skew_salted",
    oracle="""
WITH d AS (
  SELECT event_type, MIN(event_id) AS first_id
  FROM events GROUP BY event_type
)
SELECT e.event_type, d.first_id, COUNT(*) AS n_events,
       CAST(SUM(e.event_id - d.first_id) AS BIGINT) AS id_offset_sum
FROM events e JOIN d ON d.event_type = e.event_type
GROUP BY e.event_type, d.first_id
""",
    tags=("join", "skew"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted SKEW JOIN: every row of `events` carries one of only 5
    event_type values, so a plain shuffle join on event_type lands each
    key on ONE reducer — at 100 TB the hottest key becomes the job.

    The fix demonstrated here: the fact side salts its key
    (event_id % N), the dim side replicates ×N via explode, and the
    join runs on (key, salt) — fanning each hot key across N reducers.
    The merge hint forces the shuffle join that makes salting matter
    (a broadcast-able dim at test scale needs no salt; real skewed
    joins are fact⋈fact). Result is identical to the unsalted join,
    which is exactly what the oracle checks; the plan test pins the
    (key, salt) partitioning.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    dim = ev.groupBy("event_type").agg(F.min("event_id").alias("first_id"))
    n_salt = F.lit(_N_SALT)
    fact = ev.withColumn("_salt", (F.col("event_id") % n_salt).cast("int"))
    dim_rep = dim.select(
        "event_type",
        "first_id",
        F.explode(F.sequence(F.lit(0), n_salt - 1)).alias("_salt"),
    )
    return (
        fact.hint("merge")
        .join(dim_rep, ["event_type", "_salt"])
        .groupBy("event_type", "first_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("event_id") - F.col("first_id")).alias("id_offset_sum"),
        )
    )
