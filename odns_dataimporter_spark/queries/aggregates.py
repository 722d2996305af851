"""Aggregation operators (SURVEY.md §2.4).

The reference has no aggregation operators (its only aggregate-adjacent
logic is a batch counter, reference dataimporter.py:141,158,175); these
are the EXT surface mandated by the north star. All are expressed as
declarative groupBy/agg so Catalyst plans partial (map-side) + final
HashAggregate automatically — at 100 TB the partial aggregation is what
keeps the shuffle small (group cardinality, not row count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odns_dataimporter_spark.queries._helpers import money_sum, money_sum_sql
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
  {money_sum_sql('l_extendedprice')} AS sum_base_price,
  {money_sum_sql('l_extendedprice * (1 - l_discount)', 1000000)} AS sum_disc_price,
  {money_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 1000000)} AS sum_charge,
  round(AVG(l_quantity), 6) AS avg_qty,
  round(AVG(l_extendedprice), 6) AS avg_price,
  round(AVG(l_discount), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("agg_hash_group", oracle=_Q1_ORACLE, tags=("agg", "flagship"))
def agg_hash_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: grouped sum/avg/count over lineitem.

    Flagship query. Money sums use the exact integer-cents path (see
    _helpers) so Spark and DuckDB agree bit-for-bit regardless of
    aggregation order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(disc_price, 1_000_000).alias("sum_disc_price"),
            money_sum(charge, 1_000_000).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle="""
SELECT
  l_returnflag,
  COUNT(DISTINCT l_partkey) AS n_parts,
  COUNT(DISTINCT l_suppkey) AS n_supps,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT ...) per group (Catalyst expands to two-phase agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register("agg_approx_distinct", oracle=None, tags=("agg", "rows-only"))
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate cardinality — the 100 TB path for distinct counts.

    No oracle: DuckDB's approx_count_distinct uses a different sketch, so
    values differ by construction (driver records a rows-only check; the
    exact-distinct twin `agg_distinct` is fully oracle-verified). The HLL
    merge is order-insensitive, so results are deterministic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT
  COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(l_linestatus, 'ALL') AS linestatus,
  COUNT(*) AS n_rows,
  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("agg",),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with subtotal + grand-total rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), money_sum("l_quantity").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


@register(
    "agg_collect",
    oracle="""
SELECT
  o_orderpriority,
  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
    tags=("agg",),
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set collection per group, rendered as a sorted CSV string so the
    value hash is order-independent."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias("statuses"),
        F.count("*").alias("n_orders"),
    )


@register(
    "agg_percentile",
    oracle="""
SELECT
  o_orderpriority,
  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
  round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
  round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
  round(quantile_cont(o_totalprice, 0.95), 4) AS p95
FROM orders
GROUP BY o_orderpriority
""",
    tags=("agg",),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (F.percentile ↔ quantile_cont)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_ORACLE = "SELECT user_id % 10 AS user_bucket, " + ", ".join(
    f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS {t}" for t in _EVENT_TYPES
) + " FROM events GROUP BY user_id % 10"


@register("agg_pivot", oracle=_PIVOT_ORACLE, tags=("agg",))
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into columns (explicit value list keeps the output
    schema static — required both for the oracle and for plan stability
    at scale: an unlisted pivot needs an extra pass to discover values)."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_bucket", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


@register(
    "agg_min_max",
    oracle="""
SELECT
  l_linestatus,
  MIN(l_extendedprice) AS min_price,
  MAX(l_extendedprice) AS max_price,
  MIN(CAST(l_shipdate AS DATE)) AS first_ship,
  MAX(CAST(l_shipdate AS DATE)) AS last_ship
FROM lineitem
GROUP BY l_linestatus
""",
    tags=("agg",),
)
def agg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX aggregates (exact for floats — no ordering sensitivity)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship"),
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship"),
    )


@register(
    "agg_stats",
    oracle="""
SELECT
  l_returnflag,
  round(stddev_samp(l_extendedprice), 4) AS sd_price,
  round(var_samp(l_quantity), 4) AS var_qty,
  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation/covariance) —
    rounded: both engines use numerically-stable online formulas whose
    results agree far below the rounding precision."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
    )


@register(
    "agg_unpivot",
    oracle="""
WITH m AS (
  SELECT l_linestatus,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
  FROM lineitem GROUP BY l_linestatus
)
SELECT l_linestatus, metric, value
FROM m UNPIVOT (value FOR metric IN (n_rows, sum_qty, sum_cents))
""",
    tags=("agg",),
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-group metrics to long (group, metric,
    value) form — `DataFrame.unpivot`, the inverse of `agg_pivot`.
    Values are 64-bit integers (count / integer quantity / cents) so the
    unpivoted column has one exact type. Unpivot is a per-row Expand
    (×3), no shuffle beyond the feeding aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_cents"),
    )
    return m.unpivot(
        ["l_linestatus"], ["n_rows", "sum_qty", "sum_cents"], "metric", "value"
    )


@register("agg_count_min_sketch", oracle=None, tags=("agg", "sketch", "rows-only"))
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch per day over event_type — the point-frequency
    sketch next to HLL's cardinality sketch (`agg_approx_distinct`): a
    fixed-size (ε=1%, δ=5%, seeded) mergeable summary that answers
    "how often did X occur" within εN while shuffling only sketch bytes,
    never raw rows. At 100 TB per-partition sketches merge associatively
    map-side, so the exchange carries kilobytes per group. Rows-only:
    the binary layout is Spark's own; tests decode it via the JVM
    CountMinSketch and assert every estimate bounds the exact count
    from above within εN (CMS never underestimates)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.expr("hex(count_min_sketch(event_type, 0.01d, 0.95d, 42))").alias(
                "sketch_hex"
            ),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "agg_histogram",
    oracle="""
WITH b AS (
  SELECT CAST(floor(CAST(round(o_totalprice * 100) AS BIGINT) / 1e6) AS BIGINT)
           AS bin_id
  FROM orders),
c AS (SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_orders FROM b GROUP BY 1),
m AS (SELECT MAX(bin_id) AS mx FROM b),
s AS (SELECT unnest(generate_series(CAST(0 AS BIGINT), mx)) AS bin_id FROM m)
SELECT s.bin_id, s.bin_id * 1e4 AS bin_lo,
       CAST(COALESCE(c.n_orders, 0) AS BIGINT) AS n_orders
FROM s LEFT JOIN c USING (bin_id)
""",
    tags=("agg",),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of order totals ($10,000 bins) on a dense
    bin spine — empty bins appear with a zero count, so the output is
    directly plottable (the `width_bucket` / `histogram()` analog).
    Binning goes through exact integer cents (round once, floor the
    cent-quotient) so boundary values land in the same bin on both
    engines. Scale shape: the per-bin count is one map-side-combined
    shuffle of bin ids only; the spine comes from a scalar max and is
    broadcast — histogram over 100 TB moves kilobytes."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    binned = orders.select(F.floor(cents / F.lit(1e6)).cast("long").alias("bin_id"))
    counts = binned.groupBy("bin_id").agg(
        F.count("*").cast("long").alias("n_orders")
    )
    spine = binned.agg(F.max("bin_id").alias("mx")).select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("mx"))).alias("bin_id")
    )
    return spine.join(counts, "bin_id", "left").select(
        "bin_id",
        (F.col("bin_id") * 10000.0).alias("bin_lo"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
    )


@register(
    "agg_mode",
    oracle="""
SELECT o_orderstatus, o_orderpriority AS modal_priority, n_orders
FROM (
  SELECT o_orderstatus, o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         row_number() OVER (
           PARTITION BY o_orderstatus
           ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
  FROM orders GROUP BY o_orderstatus, o_orderpriority) t
WHERE rn = 1
""",
    tags=("agg",),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value, ties to the lexicographically
    first) — the categorical summary statistic SQL lacks natively:
    count the (group, value) matrix map-side, then a row_number over
    the tiny aggregate picks each group's winner. The shuffle carries
    |groups × values| cells, never raw rows."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders")
    )
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("n_orders").desc(), "o_orderpriority"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            "n_orders",
        )
    )


@register(
    "agg_decimal_exact",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue_exact,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    tags=("agg", "decimal"),
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL revenue aggregation: money arithmetic in fixed-point
    instead of floats. Both engines cast the double inputs to
    DECIMAL(18,2) (correctly-rounded conversion of identical doubles),
    multiply exactly in decimal (scale 2+2=4), sum exactly (decimal
    accumulation never loses ulps, so the result is independent of
    partial-aggregation order — the property that makes this safe under
    Spark's two-phase aggregate at any scale), and only then convert
    once to DOUBLE. Complements money_sum (integer-cents) with the
    native decimal-typed path."""
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        one - F.col("l_discount").cast("decimal(18,2)")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(rev).cast("double").alias("revenue_exact"),
        F.count("*").cast("long").alias("n"),
    )


@register("agg_hll_sketch", oracle=None, tags=("agg", "sketch", "rows-only"))
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog sketches (Apache DataSketches, built into
    Spark 4): per-group binary sketches estimate distinct customers per
    order status, and hll_union_agg merges the group sketches into a
    grand total WITHOUT rescanning the data — the pattern that matters
    at 100 TB, where sketches roll up across partitions/days for free.
    Rows-only check (estimates are sketch-parameter specific, no SQL
    oracle); the test asserts estimates within rsd of exact counts."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_nd"),
    )
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("estimate"),
        F.sum(F.lit(None).cast("long")).alias("exact_nd"),
    ).select(F.lit("__all_statuses__").alias("o_orderstatus"), "estimate", "exact_nd")
    return (
        per.select(
            "o_orderstatus",
            F.hll_sketch_estimate("sk").cast("long").alias("estimate"),
            "exact_nd",
        )
        .unionByName(merged)
    )


@register(
    "agg_listagg",
    oracle="""
SELECT r.r_name,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
    tags=("agg",),
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG WITHIN GROUP, Spark 4) — the
    SQL-standard way to collapse a group into one delimited string.
    Deterministic because the within-group ORDER BY pins element order
    on both engines. Broadcast dim join, map-side partial aggregation."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").cast("long").alias("n_nations"),
            F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias(
                "nations_csv"
            ),
        )
    )


@register(
    "agg_weighted_avg",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT))
            AS BIGINT) AS price_qty_cents,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       floor(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT))
             / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0 * 10000.0) / 10000.0
         AS wavg_price_q4
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price — the common weighted-mean
    aggregate, computed order-independently: integer-cents × integer
    quantity sums (exact at any aggregation tree shape), one float
    division at the end, floor-quantized. The naive
    sum(price*qty)/sum(qty) over doubles is partial-aggregation-order
    dependent and can't hash-match across engines at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    pq = F.round(F.col("l_extendedprice") * 100).cast("long") * F.col(
        "l_quantity"
    ).cast("long")
    qty = F.col("l_quantity").cast("long")
    return li.groupBy("l_returnflag").agg(
        F.sum(pq).cast("long").alias("price_qty_cents"),
        F.sum(qty).cast("long").alias("total_qty"),
        (
            F.floor(
                F.sum(pq) / F.sum(qty).cast("double") / 100.0 * 10000.0
            )
            / 10000.0
        ).alias("wavg_price_q4"),
    )


@register(
    "agg_geometric_mean",
    oracle="""
WITH q AS (
  SELECT l_returnflag,
         CAST(round(ln(l_extendedprice) * 1000000000) AS BIGINT) AS lq
  FROM lineitem WHERE l_extendedprice > 0
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       floor(exp(CAST(SUM(lq) AS DOUBLE) / COUNT(*) / 1000000000.0) * 100.0)
         / 100.0 AS geo_mean_q2
FROM q GROUP BY l_returnflag
""",
    tags=("agg", "stats"),
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean price per return flag via exp(mean(ln x)) — the
    multiplicative average (right for ratios/growth factors, robust to
    heavy right tails). A plain float SUM of logs is
    aggregation-order-dependent; here each log is quantized to integer
    nano-units first so the sum is exact int64 under any partial-agg
    tree, then one exp and one floor — hash-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    lq = F.round(F.log("l_extendedprice") * 1_000_000_000).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        (
            F.floor(
                F.exp(F.sum(lq).cast("double") / F.count("*") / 1_000_000_000.0)
                * 100.0
            )
            / 100.0
        ).alias("geo_mean_q2"),
    )


@register(
    "agg_histogram_equidepth",
    oracle="""
WITH q AS (
  SELECT quantile_disc(o_totalprice, 0.25) AS q1,
         quantile_disc(o_totalprice, 0.50) AS q2,
         quantile_disc(o_totalprice, 0.75) AS q3
  FROM orders
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM (
  SELECT o_totalprice,
         CASE WHEN o_totalprice <= q1 THEN 0
              WHEN o_totalprice <= q2 THEN 1
              WHEN o_totalprice <= q3 THEN 2
              ELSE 3 END AS bucket
  FROM orders, q
)
GROUP BY bucket
""",
    tags=("agg", "stats"),
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucketed) histogram of order totals — the
    histogram shape query optimizers keep as column statistics (equal
    row mass per bucket resists skew that equal-width bins hide;
    agg_histogram is the equal-width twin). DISCRETE quantiles are
    actual data values, so boundaries are identical doubles on both
    engines and the CASE bucketing cannot diverge. Plan: one aggregate
    for the three boundaries, broadcast as a scalar row into the
    bucketing scan, one final groupBy — two passes, both
    map-side-combined, no sort of the full table."""
    orders = load_table(spark, sf_dir, "orders")
    q = orders.agg(
        *[
            F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY o_totalprice)").alias(n)
            for p, n in ((0.25, "q1"), (0.50, "q2"), (0.75, "q3"))
        ]
    )
    bucketed = orders.crossJoin(F.broadcast(q)).select(
        "o_totalprice",
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
        .alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register("agg_approx_percentile", oracle=None, tags=("agg", "sketch", "rows-only"))
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via Spark's Greenwald-Khanna quantile
    summary (accuracy=1000 => rank error <= n/1000) — the quantile
    member of the sketch family beside CMS (frequencies) and HLL
    (cardinalities). At 100 TB exact percentiles need a full sort or a
    two-pass count-then-select; the GK summary is one pass, mergeable
    across partitions, and its error bound is a RANK bound, so the
    test verifies it against exact per-group order statistics (the
    measurable accuracy contract). Values are integer cents so the
    exact rank check is itself exact. Rows-only: the summary's merge
    order is engine-internal, so there is no cross-engine value
    oracle; the exact twin `agg_percentile` carries the oracle.

    Output shape: three SCALAR columns (p50/p95/p99), not one array
    column — flat scalars survive generic result canonicalization
    (pandas sort/hash harnesses choke on list-typed cells), matching
    the flat-output convention of the CMS/HLL sketch siblings."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    agg = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.percentile_approx(cents, [0.5, 0.95, 0.99], 1000).alias("approx_cents"),
    )
    return agg.select(
        "event_type",
        "n",
        F.element_at("approx_cents", 1).alias("p50_cents"),
        F.element_at("approx_cents", 2).alias("p95_cents"),
        F.element_at("approx_cents", 3).alias("p99_cents"),
    )


@register(
    "agg_bitwise",
    oracle="""
SELECT o_orderstatus,
       CAST(bit_and(o_orderkey) AS BIGINT) AS key_and,
       CAST(bit_or(o_orderkey) AS BIGINT) AS key_or,
       CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderstatus
""",
    tags=("agg",),
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and / bit_or / bit_xor) over the
    order keys per status — the flag-mask rollup primitive (capability
    intersections, parity checksums, set-membership masks). All three
    are associative/commutative integer folds, so they map-side combine
    like SUM and are exact on both engines."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bit_and("o_orderkey").cast("long").alias("key_and"),
        F.bit_or("o_orderkey").cast("long").alias("key_or"),
        F.bit_xor("o_orderkey").cast("long").alias("key_xor"),
        F.count("*").cast("long").alias("n"),
    )


@register(
    "agg_distinct_bitmap",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
""",
    tags=("agg", "physical"),
)
def agg_distinct_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark 3.5's bitmap aggregate family
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_count) — the RE-AGGREGATABLE exact-distinct pattern: each
    (group, bucket) folds its keys into a fixed 4 KB bitmap, and
    distinct-count is the SUM of per-bucket popcounts. Unlike
    COUNT(DISTINCT) — whose Expand-based plan must re-touch raw rows
    for every regrouping — the bitmaps are mergeable state: persist
    them per (group, day) once and any later rollup (week, month,
    all-time) is bitmap_or_agg + popcount over TINY state, never a
    re-scan. The same role HLL sketches play (agg_hll_sketch) but
    EXACT; cost is bounded because each bucket covers 32768 key values.
    Oracle: plain COUNT(DISTINCT) — the result is identical, only the
    plan shape differs (that equivalence is the point)."""
    o = load_table(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("o_orderpriority", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"), F.count("*").alias("n"))
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_distinct_cust"),
        F.sum("n").cast("long").alias("n_orders"),
    )
