"""Window functions, sorts, top-k (SURVEY.md §2.5 — EXT).

Every ordering carries a unique tiebreaker (orderkey / event_id) so
row_number and top-k are deterministic — without it, equal sort keys
make the result run-dependent and the oracle hash flaps.

Scale note: window functions shuffle once on partitionBy keys; sorting
within partitions is local. A global orderBy is a range-partitioned
exchange — only used for top-k, where Catalyst collapses
sort+limit into TakeOrderedAndProject (no full sort materialized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from odns_dataimporter_spark.queries._helpers import money_sum, money_sum_sql
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


@register(
    "window_rank",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
""",
    tags=("window",),
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 per group via row_number (latest-scan-per-protocol pattern
    from the reference's snapshot semantics, generalized)."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "window_analytic",
    oracle="""
SELECT event_id,
       lag(event_id) OVER w AS prev_event_id,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    tags=("window",),
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: inter-event gap per user in exact integer µs."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return ev.select(
        "event_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


@register(
    "window_frame_agg",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
         AS running_total
FROM orders
""",
    tags=("window",),
)
def window_frame_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total with an explicit ROWS frame (exact integer cents so
    the running float never drifts between engines)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w) / F.lit(100.0)).alias("running_total"),
    )


@register(
    "window_ntile_cume",
    oracle="""
SELECT c_custkey,
       ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
       round(cume_dist() OVER (ORDER BY c_acctbal, c_custkey), 6) AS cdist
FROM customer
""",
    tags=("window",),
)
def window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / cume_dist distribution analytics over a total order."""
    customer = load_table(spark, sf_dir, "customer")
    w = W.orderBy("c_acctbal", "c_custkey")
    return customer.select(
        "c_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "limit_topk",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
    tags=("sort",),
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: sort+limit collapses to TakeOrderedAndProject —
    each partition keeps k rows, driver merges; no global sort at scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "sort_global",
    oracle="""
SELECT n_name, n_nationkey,
       row_number() OVER (ORDER BY n_name DESC NULLS LAST, n_nationkey) AS pos
FROM nation
""",
    tags=("sort",),
)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total order made hash-visible by materializing the rank position
    (an order-insensitive hash can't see row order itself)."""
    nation = load_table(spark, sf_dir, "nation")
    w = W.orderBy(F.col("n_name").desc_nulls_last(), F.col("n_nationkey"))
    return nation.select("n_name", "n_nationkey", F.row_number().over(w).cast("long").alias("pos"))


@register(
    "window_range_frame",
    oracle="""
SELECT o_orderkey, o_totalprice,
       CAST(COUNT(*) OVER (ORDER BY o_totalprice
                           RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_within_10k
FROM orders
""",
    tags=("window",),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-based frame (value distance, not row count): how many orders
    price within 10k below each order — complement of the ROWS frame in
    window_frame_agg."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.orderBy("o_totalprice").rangeBetween(-10_000, W.currentRow)
    return orders.select(
        "o_orderkey",
        "o_totalprice",
        F.count("*").over(w).alias("n_within_10k"),
    )


@register(
    "window_moving_avg",
    oracle="""
SELECT o_orderkey,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS win_cents,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS win_n
FROM orders
""",
    tags=("window",),
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded moving frame (2 PRECEDING..CURRENT): emits the exact
    integer window sum + count (the moving average is their ratio,
    derivable without float divergence)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, W.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_orderkey",
        F.sum(cents).over(w).alias("win_cents"),
        F.count("*").over(w).alias("win_n"),
    )


@register(
    "sessionize_lag_cumsum",
    oracle="""
WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
           FROM events),
f AS (SELECT user_id, event_id, us,
        CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM o),
s AS (SELECT user_id, us,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM f)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(us) AS BIGINT) AS start_us,
       CAST(MAX(us) AS BIGINT) AS end_us,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, session_idx
""",
    tags=("window", "analytics"),
)
def sessionize_lag_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic lag/cumsum sessionization (30-min inactivity gap): flag a
    new session when the gap to the previous event exceeds the timeout,
    running-sum the flags into per-user session indexes, then aggregate
    per session. Both window passes AND the final aggregate share the
    user_id partitioning — ONE shuffle end to end (the session_window
    operator computes the same thing; this is the portable formulation
    every warehouse uses). Timestamps are integer µs throughout."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.lag(F.unix_micros("ts")).over(w).alias("prev_us"),
    )
    f = o.withColumn(
        "new_s",
        F.when(
            F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    ws = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    s = f.withColumn("session_idx", F.sum("new_s").over(ws))
    return s.groupBy("user_id", F.col("session_idx").cast("long").alias("session_idx")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("us").cast("long").alias("start_us"),
        F.max("us").cast("long").alias("end_us"),
        (F.max("us") - F.min("us")).cast("long").alias("duration_us"),
    )


@register(
    "window_ratio_to_report",
    oracle=f"""
WITH rev AS (
  SELECT n.n_name,
         {money_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 1000000)} AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name)
SELECT n_name, revenue,
       floor(revenue * 1e6 / SUM(revenue) OVER ()) / 1e6 AS share_q6,
       CAST(rank() OVER (ORDER BY revenue DESC, n_name) AS BIGINT) AS rev_rank
FROM rev
""",
    tags=("window",),
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of global revenue via an
    unpartitioned window sum over the aggregate — the classic BI
    percent-of-total, plus a global revenue rank. The whole-table
    window runs on the tiny post-aggregate (|nations| rows collapsed to
    a single partition), never on raw lineitem; revenue itself is the
    exact integer-micros sum, so the share division is one IEEE op on
    identical doubles, floor-quantized."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 1_000_000
            ).alias("revenue")
        )
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return rev.select(
        "n_name",
        "revenue",
        (F.floor(F.col("revenue") * 1e6 / F.sum("revenue").over(w_all)) / 1e6).alias(
            "share_q6"
        ),
        F.rank()
        .over(W.orderBy(F.col("revenue").desc(), "n_name"))
        .cast("long")
        .alias("rev_rank"),
    )


@register(
    "window_gaps_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), anch AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT)
           AS anchor
  FROM days
), islands AS (
  SELECT user_id, anchor, COUNT(*) AS len FROM anch GROUP BY user_id, anchor
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak
FROM islands GROUP BY user_id
""",
    tags=("window",),
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active days per
    user (streak analytics). The classic O(n) window formulation —
    date minus row_number is constant within a run, so one window pass
    plus two aggregates finds every island without self-joins; all
    arithmetic is integer dates, so both engines agree exactly. One
    user_id shuffle shared by the window and both aggregates."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    anch = days.withColumn("anchor", F.date_sub("d", F.row_number().over(w)))
    islands = anch.groupBy("user_id", "anchor").agg(F.count("*").alias("len"))
    return islands.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.count("*").cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
    )


@register(
    "window_cumulative_distinct",
    oracle="""
WITH flagged AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS is_first
  FROM events
)
SELECT event_id, user_id,
       CAST(SUM(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
         AS n_types_so_far
FROM flagged
""",
    tags=("window",),
)
def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT event_type) per user over time — the
    window form SQL forbids (DISTINCT is not a window aggregate), via
    the first-occurrence-flag rewrite: mark each (user, type)'s first
    event with row_number, then a plain cumulative SUM of flags. Both
    windows share the user_id partitioning (the second ordering rides
    the same exchange), so the rewrite costs ONE shuffle — this is the
    scale-safe form of a per-row distinct scan, which would be O(n²)
    per user."""
    ev = load_table(spark, sf_dir, "events")
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_cum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = ev.withColumn(
        "is_first",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("is_first").over(w_cum).cast("long").alias("n_types_so_far"),
    )


_MED_WIN = 31  # odd => the rolling median is always an exact element


@register(
    "window_rolling_median",
    oracle=f"""
WITH v AS (
  SELECT event_id, event_type, ts,
         CAST(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER w AS rn,
         quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) OVER
           (PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN {_MED_WIN - 1} PRECEDING AND CURRENT ROW) AS med
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
)
SELECT event_id, event_type, med AS rolling_median_cents
FROM v WHERE rn >= {_MED_WIN}
""",
    tags=("window", "timeseries"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median of the last 31 event values per type — the
    robust alternative to a rolling mean under outliers. The window
    width is odd and warm-up rows (< 31 observed) are excluded on both
    engines, so every emitted median is an exact element of the integer
    -cents multiset (no interpolation, no float drift). Both the
    row_number guard and the median share ONE window partitioning, so
    the op costs a single event_type shuffle. At 100 TB the per-type
    ordered evaluation is the bottleneck shape; the production variant
    partitions time into chunks and reuses this op per chunk."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    wspec = W.partitionBy("event_type").orderBy("ts", "event_id")
    wmed = wspec.rowsBetween(-(_MED_WIN - 1), W.currentRow)
    v = ev.select(
        "event_id",
        "event_type",
        cents.alias("cents"),
        F.row_number().over(wspec).alias("rn"),
        F.expr(
            f"percentile(CAST(round(value * 100) AS BIGINT), 0.5)"
        ).over(wmed).alias("med"),
    )
    return v.filter(F.col("rn") >= _MED_WIN).select(
        "event_id", "event_type", F.col("med").alias("rolling_median_cents")
    )


@register(
    "window_distribution",
    oracle="""
SELECT o_orderkey,
       o_orderpriority,
       floor(percent_rank() OVER w * 1000000.0) / 1000000.0 AS pct_rank_q6,
       floor(cume_dist() OVER w * 1000000.0) / 1000000.0 AS cume_q6,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)
""",
    tags=("window",),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank, cume_dist,
    ntile(4) — over order value within each priority class: the
    percentile-position primitives behind spend-tier segmentation
    (completes §2.5's window family next to rank/lag/frame
    aggregates). The ORDER BY carries o_orderkey as a unique
    tiebreaker so rank positions (and therefore every output) are
    total-order deterministic on both engines. One shuffle on the
    partition key, all three functions share a single Window node;
    percent_rank's (rank−1)/(n−1) and cume_dist's rows≤x/n are single
    IEEE divides of exact integers — floor-quantized once."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        (F.floor(F.percent_rank().over(w) * 1_000_000.0) / 1_000_000.0).alias(
            "pct_rank_q6"
        ),
        (F.floor(F.cume_dist().over(w) * 1_000_000.0) / 1_000_000.0).alias("cume_q6"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "window_pareto_skyline",
    oracle="""
WITH pts AS (
  SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS cost,
         CAST(p_size AS BIGINT) AS quality
  FROM part
),
best AS (  -- one candidate per cost level: the max quality
  SELECT cost, MAX(quality) AS quality FROM pts GROUP BY cost
),
stair AS (
  SELECT cost, quality,
         MAX(quality) OVER (ORDER BY cost
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_before
  FROM best
)
SELECT cost, quality
FROM stair WHERE best_before IS NULL OR quality > best_before
ORDER BY cost
""",
    tags=("window", "analytics"),
)
def window_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator over part (minimize price,
    maximize size) — the classic dominance query (Börzsönyi et al.'s
    SKYLINE OF) that no single groupBy expresses: a point survives iff
    no other point is ≤ on cost AND ≥ on quality with one strict. The
    2-D case collapses to the STAIRCASE scan: keep max quality per
    distinct cost (one map-side-combined aggregate — this bounds the
    window input by |distinct costs|, a value-domain constant, NOT
    corpus size), then keep points whose quality strictly exceeds the
    running max over cheaper costs. The remaining total-order window
    runs over that bounded aggregate (window-audit-clean: Aggregate
    sits below it); at 100 TB with an unbounded cost domain the same
    staircase runs as range-partitioned prefix maxima (the
    etl_shard_pack two-pass shape). Exact integer cents/size — full
    value-hash oracle, no floats at all."""
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cost"),
        F.col("p_size").cast("long").alias("quality"),
    )
    best = pts.groupBy("cost").agg(F.max("quality").alias("quality"))
    wprev = W.orderBy("cost").rowsBetween(W.unboundedPreceding, -1)
    stair = best.select(
        "cost",
        "quality",
        F.max("quality").over(wprev).alias("best_before"),
    )
    return stair.filter(
        F.col("best_before").isNull() | (F.col("quality") > F.col("best_before"))
    ).select("cost", "quality")
