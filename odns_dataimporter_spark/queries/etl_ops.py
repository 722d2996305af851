"""ETL-surface operators beyond the reference: upsert (MERGE
emulation), CDC-style snapshot diffing, and multi-format source/sink
round-trips.

The reference's only mutation primitive is delete-then-reload per
protocol; real pipelines also need keyed upserts and snapshot diffs
(what changed between consecutive scans). Vanilla Spark-on-parquet has
no MERGE INTO, so upsert is the canonical outer-join + coalesce
rewrite, and diff is a full-outer join classification — both
shuffle-on-key once and scale like any equi-join.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odns_dataimporter_spark.queries._helpers import tokens
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


def upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE-emulation: rows from ``updates`` win on key collision,
    unmatched base rows survive, new update rows are inserted. One
    shuffle on the key; at warehouse scale the same logic rides Delta/
    Iceberg MERGE — this is the engine-neutral formulation."""
    cols = base.columns
    u = updates.select(*[F.col(c).alias(f"_u_{c}") for c in cols])
    joined = base.join(u, base[key] == u[f"_u_{key}"], "full_outer")
    return joined.select(
        *[
            F.coalesce(F.col(f"_u_{c}"), F.col(c)).alias(c)
            for c in cols
        ]
    )


@register(
    "merge_upsert",
    oracle="""
WITH updates AS (
  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
         floor(o_totalprice * 1.1 * 100) / 100.0 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT -1, 0, 'NEW', 123.45, TIMESTAMP '2000-01-01 00:00:00', '1-URGENT'
),
merged AS (
  SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
         COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
         COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice
  FROM orders b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total
FROM merged
GROUP BY o_orderstatus
""",
    tags=("etl",),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert: a deterministic change-set (every 10th order
    repriced + status X, plus one brand-new row) merged into the base
    table; verified via post-merge per-status totals."""
    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("X").alias("o_orderstatus"),
        (F.floor(F.col("o_totalprice") * 1.1 * 100) / 100.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    new_row = spark.createDataFrame(
        [(-1, 0, "NEW", 123.45, "2000-01-01 00:00:00", "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    merged = upsert(orders, updates.unionByName(new_row), "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        (F.sum(cents) / F.lit(100.0)).alias("total"),
    )


@register(
    "cdc_snapshot_diff",
    oracle="""
WITH prev AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
              WHERE o_orderkey % 7 != 0),
     curr AS (SELECT o_orderkey, o_orderstatus,
                     CASE WHEN o_orderkey % 5 = 0
                          THEN round(o_totalprice + 1, 2) ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 3 != 0)
SELECT change, COUNT(*) AS n
FROM (
  SELECT CASE WHEN p.o_orderkey IS NULL THEN 'added'
              WHEN c.o_orderkey IS NULL THEN 'removed'
              WHEN p.o_totalprice != c.o_totalprice
                OR p.o_orderstatus != c.o_orderstatus THEN 'changed'
              ELSE 'unchanged' END AS change
  FROM prev p FULL OUTER JOIN curr c ON p.o_orderkey = c.o_orderkey
)
GROUP BY change
""",
    tags=("etl",),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the consecutive-scans question the reference's
    replace-sink erases): full-outer join two deterministic snapshot
    variants and classify added/removed/changed/unchanged."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    prev = orders.filter(F.col("o_orderkey") % 7 != 0)
    curr = orders.filter(F.col("o_orderkey") % 3 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.round(F.col("o_totalprice") + 1, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    p = prev.select(*[F.col(c).alias(f"p_{c}") for c in prev.columns])
    c = curr.select(*[F.col(cc).alias(f"c_{cc}") for cc in curr.columns])
    joined = p.join(c, p.p_o_orderkey == c.c_o_orderkey, "full_outer")
    change = (
        F.when(F.col("p_o_orderkey").isNull(), "added")
        .when(F.col("c_o_orderkey").isNull(), "removed")
        .when(
            (F.col("p_o_totalprice") != F.col("c_o_totalprice"))
            | (F.col("p_o_orderstatus") != F.col("c_o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return joined.select(change.alias("change")).groupBy("change").agg(
        F.count("*").alias("n")
    )


@register(
    "roundtrip_formats",
    oracle="""
SELECT 'parquet' AS fmt, COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM orders
UNION ALL
SELECT 'json', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'csv', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'orc', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'xml', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders
""",
    tags=("etl", "scan"),
)
def roundtrip_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink format breadth: write orders to parquet/JSON/CSV/ORC/
    XML and read each back — every row survives every format (count +
    key-checksum proof). The CSV leg re-exercises the reference's
    format family; ORC/JSON are the warehouse/interchange legs; XML is
    Spark 4's newly built-in spark-xml (round 6)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    base = tempfile.mkdtemp(prefix="fmt_")
    outs = []
    for fmt in ("parquet", "json", "csv", "orc", "xml"):
        path = os.path.join(base, fmt)
        w = orders.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", True)
        if fmt == "xml":
            w = w.option("rowTag", "row")
        w.format(fmt).save(path)
        # explicit schema on every read-back: an EMPTY write leaves no
        # data files to infer from (legal degenerate input), and the
        # pinned schema also keeps the comparison type-exact
        r = spark.read.schema("o_orderkey long")
        if fmt == "csv":
            r = r.options(header=True, inferSchema=False)
        if fmt == "xml":
            r = r.option("rowTag", "row")
        back = r.format(fmt).load(path)
        outs.append(
            back.agg(
                F.lit(fmt).alias("fmt"),
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
            ).select("fmt", "n_rows", "key_sum")
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out


@register(
    "schema_evolution_merge",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(COUNT(o_totalprice) AS BIGINT) AS n_with_price,
       CAST(COUNT(priority_rank) AS BIGINT) AS n_with_rank
FROM (
  SELECT o_orderstatus, o_totalprice, NULL AS priority_rank
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL BY NAME
  SELECT o_orderstatus, NULL AS o_totalprice,
         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS priority_rank
  FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderstatus
""",
    tags=("etl", "scan"),
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the storage layer: two parquet batches written
    with DIFFERENT schemas (v1 has o_totalprice, v2 drops it and adds
    priority_rank) read back as one table via mergeSchema — old rows
    NULL-fill new columns and vice versa. This is how a long-lived 100 TB
    dataset absorbs schema change without rewrites."""
    orders = load_table(spark, sf_dir, "orders")
    base = os.path.join(tempfile.mkdtemp(prefix="evo_"), "t")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.substring("o_orderpriority", 1, 1).cast("long").alias("priority_rank"),
    )
    v1.write.mode("append").parquet(base)
    v2.write.mode("append").parquet(base)
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.count("o_totalprice").alias("n_with_price"),
        F.count("priority_rank").alias("n_with_rank"),
    )


def _profile_sql(col: str, repr_sql: str) -> str:
    return f"""
SELECT '{col}' AS col_name,
       CAST(COUNT(*) FILTER ({col} IS NULL) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
       {repr_sql.format(x=f'min({col})')} AS min_repr,
       {repr_sql.format(x=f'max({col})')} AS max_repr
FROM orders"""


@register(
    "profile_table",
    oracle=" UNION ALL ".join(
        [
            _profile_sql("o_orderkey", "CAST({x} AS VARCHAR)"),
            _profile_sql("o_custkey", "CAST({x} AS VARCHAR)"),
            _profile_sql("o_orderstatus", "{x}"),
            _profile_sql("o_orderpriority", "{x}"),
            _profile_sql(
                "o_totalprice", "CAST(CAST(round({x}*100) AS BIGINT) AS VARCHAR)"
            ),
            _profile_sql("o_orderdate", "strftime({x}, '%Y-%m-%d %H:%M:%S')"),
        ]
    ),
    tags=("etl", "profiling"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profiling (the deequ/great-expectations core
    loop): per-column null count, exact distinct count, and typed
    min/max rendered to strings under deterministic rules (ints raw,
    money as integer cents, timestamps formatted). ONE scan computes all
    six columns' stats; the exact distincts expand the scan 6-fold in
    the shuffle, which is the documented trade — at 100 TB swap
    count_distinct for approx_count_distinct (the plan is otherwise
    unchanged) and accept ~2% error, as every production profiler does."""
    o = load_table(spark, sf_dir, "orders")

    def stats(col, rep):
        return F.struct(
            F.lit(col).alias("col_name"),
            F.count(F.when(F.col(col).isNull(), 1)).cast("long").alias("n_nulls"),
            F.count_distinct(F.col(col)).cast("long").alias("n_distinct"),
            rep(F.min(col)).alias("min_repr"),
            rep(F.max(col)).alias("max_repr"),
        )

    as_str = lambda c: c.cast("string")  # noqa: E731
    cents = lambda c: F.round(c * 100).cast("long").cast("string")  # noqa: E731
    day = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    row = o.agg(
        F.array(
            stats("o_orderkey", as_str),
            stats("o_custkey", as_str),
            stats("o_orderstatus", as_str),
            stats("o_orderpriority", as_str),
            stats("o_totalprice", cents),
            stats("o_orderdate", day),
        ).alias("profile")
    )
    return row.select(F.inline("profile"))


@register(
    "events_funnel",
    oracle="""
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
       WHERE e.event_type = 'view' GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
       WHERE e.event_type = 'purchase' GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id, epoch_us(s1.t1) AS t1_us, epoch_us(s2.t2) AS t2_us,
       epoch_us(s3.t3) AS t3_us,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 WHEN s1.t1 IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS funnel_stage
FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
       LEFT JOIN s3 USING (user_id)
""",
    tags=("analytics", "events"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel signup → view → purchase: per user,
    the first view strictly after the first signup, then the first
    purchase strictly after that view. ONE shuffle total: events
    group to a per-user sorted struct array and the funnel is a pure
    array fold over it (the oracle's equivalent 3-pass correlated-min
    formulation would scan and join events three times — the collect
    approach assumes bounded per-user activity, which event data has).
    Timestamps are integer µs; stage reached is 0-3."""
    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("a")
        )
    )

    def first_after(typ, after):
        # try_element_at: under ANSI mode element_at throws on an empty
        # filter result (a user with no qualifying event); NULL is the
        # correct funnel semantics for that case
        hit = F.try_element_at(
            F.filter(
                F.col("a"),
                lambda x: (x["event_type"] == F.lit(typ))
                & (F.lit(True) if after is None else x["ts"] > after),
            ),
            F.lit(1),
        )
        return hit["ts"]

    t1 = first_after("signup", None)
    a2 = a.withColumn("t1", t1)
    a2 = a2.withColumn("t2", first_after("view", F.col("t1")))
    a2 = a2.withColumn("t3", first_after("purchase", F.col("t2")))
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return a2.select(
        "user_id",
        F.unix_micros("t1").alias("t1_us"),
        F.unix_micros("t2").alias("t2_us"),
        F.unix_micros("t3").alias("t3_us"),
        stage.cast("long").alias("funnel_stage"),
    )


@register(
    "events_retention",
    oracle="""
WITH c AS (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
           FROM events GROUP BY user_id),
a AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS act_day
      FROM events)
SELECT c.cohort_day, CAST(a.act_day - c.cohort_day AS BIGINT) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM a JOIN c USING (user_id)
GROUP BY 1, 2
""",
    tags=("analytics", "events"),
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted on each subsequent active day (the day-N retention table
    every growth dashboard is built on). The cohort assignment, the
    distinct (user, day) activity set, and the join all shuffle on
    user_id — AQE coalesces them onto one partitioning — and the final
    matrix aggregate is tiny (|days|²)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    c = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    a = ev.select("user_id", day.alias("act_day")).distinct()
    return (
        a.join(c, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("act_day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@register(
    "dq_constraint_check",
    oracle="""
SELECT 'orders_pk_unique' AS constraint_name,
       CAST((SELECT COUNT(*) FROM (
          SELECT o_orderkey FROM orders GROUP BY o_orderkey
          HAVING COUNT(*) > 1)) AS BIGINT) AS n_violations,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_checked
UNION ALL
SELECT 'lineitem_fk_orders',
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
UNION ALL
SELECT 'customer_acctbal_not_null',
       CAST((SELECT COUNT(*) FROM customer WHERE c_acctbal IS NULL) AS BIGINT),
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT)
UNION ALL
SELECT 'orders_status_domain',
       CAST((SELECT COUNT(*) FROM orders
             WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'lineitem_qty_positive',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
""",
    tags=("etl",),
)
def dq_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality suite: one row per
    constraint (primary-key uniqueness, referential integrity via anti
    join, not-null, value domain, range) with violation and checked
    counts — the validation gate an ingest pipeline runs before
    publishing a snapshot, and the natural guard in front of the
    reference's delete-then-reload sink (a bad file would otherwise
    replace a good snapshot, reference dataimporter.py:187-200). Scale
    shape (round-6 single-pass rewrite — the previous version scanned
    orders 5x and lineitem 4x, one per constraint): every table is
    scanned ONCE. Orders fold to a per-key row (count + bad-status
    count riding the same shuffle) that serves pk-uniqueness, the row
    total, the domain check, AND the FK key set — checkpointed once
    for its diverging consumers. Lineitem's three checks (row count,
    FK orphans via a left join against that key set, qty range) ride
    one scan + one join; customer's two ride one scan. The five report
    rows then inline() out of the single assembled stats row — the
    1-row crossJoins are broadcast-trivial."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    per_key = (
        orders.groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n"),
            F.count(
                F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
            ).alias("b"),
        )
        .localCheckpoint(eager=False)  # two consumers: stats + FK keys
    )
    o_stats = per_key.agg(
        # coalesce: SUM over an EMPTY orders table is NULL where the
        # oracle's COUNT(*) is 0 (empty-table sweep)
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("o_total"),
        F.count(F.when(F.col("n") > 1, 1)).cast("long").alias("o_pk_dups"),
        F.coalesce(F.sum("b"), F.lit(0)).cast("long").alias("o_bad_status"),
    )
    li_joined = li.select("l_orderkey", "l_quantity").join(
        per_key.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left",
    )
    li_stats = li_joined.agg(
        F.count("*").cast("long").alias("l_total"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1))
        .cast("long")
        .alias("l_orphans"),
        F.count(F.when(F.col("l_quantity") <= 0, 1)).cast("long").alias("l_bad_qty"),
    )
    c_stats = cust.agg(
        F.count("*").cast("long").alias("c_total"),
        F.count(F.when(F.col("c_acctbal").isNull(), 1)).cast("long").alias("c_nulls"),
    )

    def entry(name: str, v, c):
        return F.struct(
            F.lit(name).alias("constraint_name"),
            v.alias("n_violations"),
            c.alias("n_checked"),
        )

    return (
        o_stats.crossJoin(li_stats)
        .crossJoin(c_stats)
        .select(
            F.inline(
                F.array(
                    entry("orders_pk_unique", F.col("o_pk_dups"), F.col("o_total")),
                    entry("lineitem_fk_orders", F.col("l_orphans"), F.col("l_total")),
                    entry(
                        "customer_acctbal_not_null", F.col("c_nulls"), F.col("c_total")
                    ),
                    entry("orders_status_domain", F.col("o_bad_status"), F.col("o_total")),
                    entry("lineitem_qty_positive", F.col("l_bad_qty"), F.col("l_total")),
                )
            )
        )
    )


@register(
    "profile_join_keys",
    oracle="""
WITH per_key AS (
  SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey
)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(n) AS BIGINT) AS max_key_rows,
       floor(MAX(n) * 1000000.0 / SUM(n)) / 1000000.0 AS top1_share_q6,
       CAST(quantile_disc(n, 0.99) AS BIGINT) AS p99_key_rows,
       floor(SUM(n * n) * 1000000.0 / (SUM(n) * SUM(n))) / 1000000.0
         AS collision_index_q6
FROM per_key
""",
    tags=("etl", "profiling"),
)
def profile_join_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostics for a shuffle key — the report to run
    BEFORE joining two facts at 100 TB: total rows, distinct keys,
    hottest-key row count and share, p99 per-key cardinality, and the
    collision index Σn²/N² (the probability two random rows share a
    key — also the expected blow-up factor of a self-join). Drives the
    choice between plain shuffle join, AQE skew splitting, salting
    (join_skew_salted), or a broadcast. Two map-side-combined
    aggregations; exact integer arithmetic throughout, discrete (not
    interpolated) p99 so both engines pick the same element."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count("*").alias("n"))
    return per_key.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_key_rows"),
        (F.floor(F.max("n") * 1_000_000.0 / F.sum("n")) / 1_000_000.0).alias(
            "top1_share_q6"
        ),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY n)")
        .cast("long")
        .alias("p99_key_rows"),
        (
            F.floor(
                F.sum(F.col("n") * F.col("n")) * 1_000_000.0 / (F.sum("n") * F.sum("n"))
            )
            / 1_000_000.0
        ).alias("collision_index_q6"),
    )


@register(
    "events_dau_wau_mau",
    oracle="""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), spine AS (
  SELECT DISTINCT d FROM du
), wau_x AS (
  SELECT unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE
           AS target_d, user_id
  FROM du
), mau_x AS (
  SELECT unnest(generate_series(d, d + INTERVAL 29 DAY, INTERVAL 1 DAY))::DATE
           AS target_d, user_id
  FROM du
)
SELECT strftime(s.d, '%Y-%m-%d') AS day,
       CAST((SELECT COUNT(DISTINCT user_id) FROM du WHERE du.d = s.d) AS BIGINT) AS dau,
       CAST((SELECT COUNT(DISTINCT user_id) FROM wau_x w WHERE w.target_d = s.d) AS BIGINT) AS wau,
       CAST((SELECT COUNT(DISTINCT user_id) FROM mau_x m WHERE m.target_d = s.d) AS BIGINT) AS mau
FROM spine s
""",
    tags=("etl", "events"),
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU — daily, trailing-7-day and trailing-30-day
    exact distinct active users per day, the canonical engagement
    metrics.

    Scale shape: the classic rolling-COUNT-DISTINCT trap is a
    window-frame distinct (unsupported) or a day×day range self-join;
    instead each (day, user) activity row EXPLODES to the ≤7/≤30
    target days it contributes to, turning both rolling metrics into
    plain equi-keyed count-distinct aggregations — shuffle ∝ activity
    × window, partial-aggregated, no range join, no frame state. The
    day spine inner-joins so only observed days are reported (trailing
    windows past the horizon never materialize).
    """
    ev = load_table(spark, sf_dir, "events")
    # four diverging consumers (spine, dau, wau, mau): checkpoint so
    # the events scan + (day,user) distinct shuffle run once (was 4
    # full re-derivations, round-6 scan audit)
    du = (
        ev.select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    spine = du.select("d").distinct()

    def rolled(width: int, name: str) -> DataFrame:
        x = du.select(
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), width - 1))
            ).alias("target_d"),
            "user_id",
        )
        return x.groupBy("target_d").agg(
            F.countDistinct("user_id").cast("long").alias(name)
        )

    dau = du.groupBy("d").agg(F.countDistinct("user_id").cast("long").alias("dau"))
    wau = rolled(7, "wau").withColumnRenamed("target_d", "d")
    mau = rolled(30, "mau").withColumnRenamed("target_d", "d")
    return (
        spine.join(dau, "d")
        .join(wau, "d")
        .join(mau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"), "dau", "wau", "mau"
        )
    )


@register(
    "events_path_topk",
    oracle="""
WITH seqs AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id
), grams AS (
  SELECT unnest(list_transform(range(1, len(path) - 1),
                i -> path[i] || '>' || path[i+1] || '>' || path[i+2])) AS trigram
  FROM seqs WHERE len(path) >= 3
)
SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY trigram
ORDER BY n_occurrences DESC, trigram
LIMIT 5
""",
    tags=("etl", "events"),
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the 5 most common 3-step event-type
    sequences across all user journeys (the "what do users actually do"
    query behind funnel design).

    Scale shape: one user_id shuffle collects each user's ordered path
    (sort_array over (ts, event_id, type) structs — total-order
    deterministic); trigrams then explode via the same
    arrays_zip-of-shifted-slices construction as the MinHash shingles
    (plain codegen, no higher-order lambdas), and the count lands on
    the tiny trigram domain with map-side combine + TakeOrderedAndProject.
    Per-user state is one path array — bounded by the per-user event
    count, never the corpus."""
    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ).alias("path")
        )
        .filter(F.size("path") >= 3)
        .select("path", F.size("path").alias("_n"))
    )
    grams = seqs.select(
        F.explode(
            F.arrays_zip(
                F.slice("path", 1, F.col("_n") - 2),
                F.slice("path", 2, F.col("_n") - 2),
                F.slice("path", 3, F.col("_n") - 2),
            )
        ).alias("z")
    ).select(F.concat_ws(">", "z.0", "z.1", "z.2").alias("trigram"))
    return (
        grams.groupBy("trigram")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "trigram")
        .limit(5)
    )


_FUNNEL_STEP_US = 7 * 24 * 3600 * 1_000_000  # 7-day max step gap


@register(
    "events_funnel_windowed",
    oracle=f"""
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
              AND epoch_us(e.ts) - epoch_us(s1.t1) <= {_FUNNEL_STEP_US}
       WHERE e.event_type = 'view' GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
              AND epoch_us(e.ts) - epoch_us(s2.t2) <= {_FUNNEL_STEP_US}
       WHERE e.event_type = 'purchase' GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id, epoch_us(s1.t1) AS t1_us, epoch_us(s2.t2) AS t2_us,
       epoch_us(s3.t3) AS t3_us,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 WHEN s1.t1 IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS funnel_stage
FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
       LEFT JOIN s3 USING (user_id)
""",
    tags=("analytics", "events"),
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window-constrained funnel: signup → view → purchase
    where each step must land within 7 days of the previous one —
    the realistic funnel semantics (an unconstrained funnel credits a
    purchase a year after the view). Same ONE-shuffle per-user sorted-
    array fold as `events_funnel`; the window bound is an extra
    predicate inside the array filter, so the constrained variant costs
    nothing extra. Timestamps are integer µs end to end."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("a")
    )

    def first_within(typ, after):
        cond = lambda x: (  # noqa: E731
            (x["event_type"] == F.lit(typ))
            & (
                F.lit(True)
                if after is None
                else (x["ts"] > after)
                & (
                    F.unix_micros(x["ts"]) - F.unix_micros(after)
                    <= F.lit(_FUNNEL_STEP_US)
                )
            )
        )
        return F.try_element_at(F.filter(F.col("a"), cond), F.lit(1))["ts"]

    a2 = a.withColumn("t1", first_within("signup", None))
    a2 = a2.withColumn("t2", first_within("view", F.col("t1")))
    a2 = a2.withColumn("t3", first_within("purchase", F.col("t2")))
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return a2.select(
        "user_id",
        F.unix_micros("t1").alias("t1_us"),
        F.unix_micros("t2").alias("t2_us"),
        F.unix_micros("t3").alias("t3_us"),
        stage.cast("long").alias("funnel_stage"),
    )


# ---------------------------------------------------------------------------
# Deequ-style declarative data-quality constraint suite: N constraints
# evaluated from ONE aggregate pass (Amazon Deequ's core design — at
# 100 TB you get one shot at the scan, so every metric must come from
# the same sufficient-statistics row).

@register(
    "dq_expectations",
    oracle="""
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(o_custkey) AS BIGINT) AS n_cust,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_key,
         CAST(COUNT(*) FILTER (WHERE o_totalprice >= 0) AS BIGINT) AS n_price,
         CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('O', 'F', 'P'))
              AS BIGINT) AS n_status,
         CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('O', 'F'))
              AS BIGINT) AS n_closed,
         CAST(COUNT(o_orderdate) AS BIGINT) AS n_date
  FROM orders)
SELECT c.constraint_name,
       floor(c.num * 1000000.0 / s.n) / 1000000.0 AS observed_q6,
       c.num = s.n AS passed
FROM s CROSS JOIN LATERAL (VALUES
  ('completeness_custkey', s.n_cust),
  ('uniqueness_orderkey', s.n_key),
  ('range_totalprice_nonneg', s.n_price),
  ('domain_orderstatus', s.n_status),
  ('domain_orderstatus_no_pending', s.n_closed),
  ('completeness_orderdate', s.n_date)) AS c(constraint_name, num)
""",
    tags=("etl", "dq", "profiling"),
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite over `orders` — completeness,
    key uniqueness, numeric range, value-domain membership — all six
    metrics from ONE aggregate row (one constraint — no 'P' status —
    is deliberately violated by the data, exercising the fail path) (the Deequ design: constraints
    compile to sufficient statistics, the table is scanned once), then
    unfolded to a row per constraint with the observed ratio and a
    pass flag. The only caveat is COUNT(DISTINCT): Catalyst plans it
    as an Expand over the single aggregate, still one FileScan; at
    100 TB the standard swap is approx_count_distinct with a
    tolerance-aware pass predicate."""
    o = load_table(spark, sf_dir, "orders")
    s = o.agg(
        F.count("*").cast("long").alias("n"),
        F.count("o_custkey").cast("long").alias("n_cust"),
        F.count_distinct("o_orderkey").cast("long").alias("n_key"),
        F.count_if(F.col("o_totalprice") >= 0).cast("long").alias("n_price"),
        F.count_if(F.col("o_orderstatus").isin("O", "F", "P"))
        .cast("long")
        .alias("n_status"),
        F.count_if(F.col("o_orderstatus").isin("O", "F"))
        .cast("long")
        .alias("n_closed"),
        F.count("o_orderdate").cast("long").alias("n_date"),
    )
    rows = F.array(
        *[
            F.struct(F.lit(name).alias("constraint_name"), F.col(col).alias("num"))
            for name, col in [
                ("completeness_custkey", "n_cust"),
                ("uniqueness_orderkey", "n_key"),
                ("range_totalprice_nonneg", "n_price"),
                ("domain_orderstatus", "n_status"),
                ("domain_orderstatus_no_pending", "n_closed"),
                ("completeness_orderdate", "n_date"),
            ]
        ]
    )
    e = s.select("n", F.explode(rows).alias("c"))
    # try_divide: an empty table is a legal input to a DQ suite — the
    # global aggregate still emits its row (n=0) and DuckDB reports
    # NULL ratios, not a crash (empty-input sweep, round 5)
    return e.select(
        F.col("c.constraint_name").alias("constraint_name"),
        (
            F.floor(F.try_divide(F.col("c.num") * 1_000_000.0, F.col("n")))
            / 1_000_000.0
        ).alias("observed_q6"),
        (F.col("c.num") == F.col("n")).alias("passed"),
    )


@register(
    "events_template_compression",
    oracle="""
WITH tpl AS (
  SELECT event_type || ':' || array_to_string(json_keys(props), ',') AS template
  FROM events),
c AS (SELECT template, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM tpl GROUP BY template),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_templates FROM c)
SELECT c.template, c.n_events,
       floor(c.n_events * 1000000.0 / tot.total) / 1000000.0 AS share_q6,
       tot.n_templates
FROM c CROSS JOIN tot
""",
    tags=("etl", "events", "profiling"),
)
def events_template_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload-log template compression (cf. "Query Log Compression
    for Workload Analytics", VLDB 2018): every event collapses to its
    TEMPLATE — event type plus the sorted key-set of its JSON payload,
    i.e. the shape with the literals stripped — and the log is
    summarized as template → frequency. The |templates| ≪ |events|
    ratio is the compression; workload analysis (drift, capacity,
    index advice) then runs on the template table. One
    map-side-combined groupBy on the template string plus a broadcast
    1-row totals aggregate; at 100 TB the template table stays tiny
    because real workloads have bounded shape diversity."""
    ev = load_table(spark, sf_dir, "events")
    tpl = ev.select(
        F.concat(
            F.col("event_type"),
            F.lit(":"),
            F.array_join(F.json_object_keys("props"), ","),
        ).alias("template")
    )
    c = tpl.groupBy("template").agg(F.count("*").cast("long").alias("n_events"))
    tot = c.agg(
        F.sum("n_events").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_templates"),
    )
    return c.crossJoin(tot).select(
        "template",
        "n_events",
        (F.floor(F.col("n_events") * 1_000_000.0 / F.col("total")) / 1_000_000.0).alias(
            "share_q6"
        ),
        "n_templates",
    )


# ---------------------------------------------------------------------------
# Training-shard packing: a distributed prefix sum (the classic
# two-level scan) assigning documents, in stable doc_id order, to
# fixed-token-budget output shards — the step between a curated corpus
# and the sharded token files a trainer actually reads.

_SHARD_TOKENS = 4096  # per-shard token budget (tiny to exercise many shards)
_SHARD_BLOCK = 100  # docs per prefix-sum block


@register(
    "etl_shard_pack",
    oracle=f"""
WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents),
c AS (SELECT doc_id, ntok,
             COALESCE(SUM(ntok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
      FROM t)
SELECT CAST(tok_before // {_SHARD_TOKENS} AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM c GROUP BY 1
""",
    tags=("etl", "llm", "sampling"),
)
def etl_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment by exact prefix sum over doc_id
    order: a document starts in shard floor(tokens_before / budget),
    reported as one row per shard (docs, tokens, doc range).

    The oracle states it as one global window; a single global
    ORDER BY window is a one-task plan, so the Spark side runs the
    distributed two-level scan instead: (1) per-block token sums
    (block = doc_id div 100, one map-side-combined
    aggregate), (2) running block offsets over the |blocks|-row table
    (tiny — broadcast back), (3) intra-block running sums under a
    window PARTITIONED by block. Identical integer results, but every
    stage is parallel and the only global structure is the |blocks|
    table — the same shape prefix sums take on any shared-nothing
    engine. At 100 TB the block table is ~rows/100 and the
    shard summary shuffle is |shards|-sized."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(tokens()).cast("long").alias("ntok"),
        F.expr(f"doc_id div {_SHARD_BLOCK}").alias("blk"),  # exact int division
    )
    bsum = t.groupBy("blk").agg(F.sum("ntok").alias("btok"))
    wb = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    boff = bsum.select("blk", F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("boff"))
    wi = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.join(F.broadcast(boff), "blk").select(
        "doc_id",
        "ntok",
        (
            F.col("boff") + F.coalesce(F.sum("ntok").over(wi), F.lit(0))
        ).alias("tok_before"),
    )
    return c.groupBy(
        F.floor(F.col("tok_before") / _SHARD_TOKENS).cast("long").alias("shard")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# Inclusion-dependency candidates: (pair label, child table.column,
# parent table.column). A FIXED registry — profiling enumerates
# bounded candidate pairs (pruned by type/name heuristics upstream),
# never the quadratic column cross product.
_FK_CANDIDATES = (
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    # negative control: key ranges overlap but inclusion < 1
    ("orders.o_orderkey->customer.c_custkey", "orders", "o_orderkey",
     "customer", "c_custkey"),
)


def _fk_pair_sql(label, ct, cc, pt, pc):
    return f"""
SELECT '{label}' AS fk_pair,
       CAST(COUNT(*) AS BIGINT) AS n_child_keys,
       CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       floor(CAST(SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) * 1000000.0) / 1000000.0
         AS inclusion_q6,
       SUM(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) = COUNT(*) AS is_fk
FROM (SELECT DISTINCT {cc} AS k FROM {ct}) c
LEFT JOIN (SELECT DISTINCT {pc} AS k FROM {pt}) p USING (k)"""


@register(
    "profile_fk_inference",
    oracle="\nUNION ALL\n".join(
        _fk_pair_sql(*cand) for cand in _FK_CANDIDATES
    ),
    tags=("etl", "profiling"),
)
def profile_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key / inclusion-dependency discovery (the SPIDER/SINDY
    profiling primitive): for each candidate (child, parent) column
    pair, the inclusion coefficient |child ∩ parent| / |child| over
    DISTINCT key values, flagging exact containment as an FK — the
    metadata a lakehouse catalog needs before it can plan riskless
    joins, CDC merges, or referential-integrity checks. The candidate
    list is a FIXED registry (type/name-pruned upstream), so cost is
    linear per pair: distinct child keys (one map-side-combined
    dedup shuffle), left join against distinct parent keys
    (co-partitioned on the key — no broadcast assumption, parents can
    be huge), one 1-row reduce; pairs run independently and union.
    Includes a deliberate negative control (orderkey vs custkey:
    overlapping integer ranges, inclusion << 1) so the threshold
    behavior is tested, not vacuous. Counters are exact int64; the
    coefficient is one double division, floor-q6; is_fk is an integer
    equality, immune to float rounding."""
    out = None
    for label, ct, cc, pt, pc in _FK_CANDIDATES:
        c = (
            load_table(spark, sf_dir, ct)
            .select(F.col(cc).alias("k"))
            .distinct()
        )
        p = (
            load_table(spark, sf_dir, pt)
            .select(F.col(pc).alias("k"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        matched = F.sum(
            F.when(F.col("hit").isNotNull(), 1).otherwise(0)
        ).cast("long")
        one = (
            c.join(p, "k", "left")
            .agg(
                F.count("*").cast("long").alias("n_child_keys"),
                matched.alias("n_matched"),
            )
            .select(
                F.lit(label).alias("fk_pair"),
                "n_child_keys",
                "n_matched",
                (
                    F.floor(
                        F.try_divide(
                            F.col("n_matched").cast("double"),
                            F.col("n_child_keys"),
                        )
                        * 1_000_000.0
                    )
                    / 1_000_000.0
                ).alias("inclusion_q6"),
                (F.col("n_matched") == F.col("n_child_keys")).alias("is_fk"),
            )
        )
        out = one if out is None else out.unionAll(one)
    return out


_FD_CANDIDATES = (
    # (label, table, determinant, dependent) — mixed so the g3 metric
    # is exercised at both extremes: a key-determined FD that HOLDS
    # and plausible-but-false dependencies with real violation mass.
    ("orders.o_orderkey->o_orderpriority", "orders", "o_orderkey",
     "o_orderpriority"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey",
     "o_orderpriority"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey",
     "c_mktsegment"),
    ("lineitem.l_orderkey->l_suppkey", "lineitem", "l_orderkey",
     "l_suppkey"),
)


def _fd_sql(label, tbl, det, dep):
    return f"""
SELECT '{label}' AS fd,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       floor(CAST(SUM(cnt) - SUM(max_cnt) AS DOUBLE) / SUM(cnt)
             * 1000000.0) / 1000000.0 AS g3_q6,
       SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (
  SELECT {det} AS a,
         CAST(SUM(n) AS BIGINT) AS cnt,
         CAST(MAX(n) AS BIGINT) AS max_cnt,
         CAST(COUNT(*) AS BIGINT) AS n_dep
  FROM (SELECT {det}, {dep}, CAST(COUNT(*) AS BIGINT) AS n
        FROM {tbl} GROUP BY 1, 2) db
  GROUP BY 1
) ga"""


@register(
    "profile_fd_violations",
    oracle="\nUNION ALL\n".join(_fd_sql(*c) for c in _FD_CANDIDATES),
    tags=("etl", "profiling"),
)
def profile_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency discovery (the TANE/FDEP
    profiling primitive, companion to `profile_fk_inference`): for
    each candidate A → B, the g3 error measure (Kivinen & Mannila) —
    the minimum fraction of rows to delete so the FD holds exactly,
    computed as (N − Σ_a max_b count(a,b)) / N — plus the count of
    violating determinant groups. This is the metadata that drives
    normalization advice, key detection, and CDC-merge safety checks.
    Shape per candidate: one (A, B) count aggregate then an A-level
    reduction — both map-side-combined shuffles whose width is the
    distinct-pair count, never raw rows; candidates are independent
    and union. Counters exact int64; g3 is one late floor-q6
    division. At 100 TB this is exactly how production profilers run
    (two-level distinct-count rollup per candidate)."""
    out = None
    for label, tbl, det, dep in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        db = t.groupBy(
            F.col(det).alias("a"), F.col(dep).alias("b")
        ).agg(F.count("*").cast("long").alias("n"))
        ga = db.groupBy("a").agg(
            F.sum("n").cast("long").alias("cnt"),
            F.max("n").cast("long").alias("max_cnt"),
            F.count("*").cast("long").alias("n_dep"),
        )
        one = ga.agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_groups"),
            F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_groups"),
            (
                F.floor(
                    (F.sum("cnt") - F.sum("max_cnt")).cast("double")
                    / F.sum("cnt")
                    * 1_000_000.0
                )
                / 1_000_000.0
            ).alias("g3_q6"),
        ).select(
            F.lit(label).alias("fd"),
            "n_rows",
            "n_groups",
            "n_violating_groups",
            "g3_q6",
            (F.col("n_violating_groups") == 0).alias("holds"),
        )
        out = one if out is None else out.unionByName(one)
    return out


_SKEW_TARGET = 200  # target rows per (key, salt) reducer cell
_SKEW_TOPK = 5


@register(
    "profile_shuffle_skew",
    oracle=f"""
WITH k AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(MAX(c) AS BIGINT) AS max_c,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM k
),
t AS (
  SELECT user_id, c,
         CAST(row_number() OVER (ORDER BY c DESC, user_id) AS BIGINT) AS rk
  FROM k QUALIFY rk <= {_SKEW_TOPK}
)
SELECT t.rk AS heavy_rank, t.user_id AS key_id, t.c AS key_rows,
       s.n_keys, s.n_rows,
       floor(CAST(s.max_c AS DOUBLE) * s.n_keys / s.n_rows * 1000000.0)
         / 1000000.0 AS max_over_mean_q6,
       floor(CAST(s.scc AS DOUBLE) * s.n_keys
             / (CAST(s.n_rows AS DOUBLE) * s.n_rows) * 1000000.0)
         / 1000000.0 AS l2_skew_q6,
       CAST(ceil(CAST(s.max_c AS DOUBLE) / {_SKEW_TARGET}) AS BIGINT)
         AS recommended_salts
FROM t, s
""",
    tags=("etl", "profiling", "scale"),
)
def profile_shuffle_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profiler — the measurement that decides whether
    a join/aggregation key needs salting BEFORE the job hits the
    straggler: per candidate key (user_id over events), the heavy-
    hitter top-5, max/mean ratio, the L2 skew factor
    n·Σc²/(Σc)² (1.0 = perfectly uniform — the expected reducer
    slowdown under hash partitioning), and the salt fan-out
    ceil(max_key/200) that `join_skew_salted` would need.
    This is the profiling half of the skew story the engine already
    mitigates (join_skew_salted, agg_skew_salted, AQE notes in
    ARCHITECTURE.md). Scale shape: ONE map-side-combined key count,
    1-row moment aggregate, a top-k rank window over the key table
    (TakeOrdered-class, no global sort of raw rows). Determinism:
    all moments exact int64; ties in the heavy-hitter rank broken by
    key id; two final float divisions."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("c"))
    k = k.localCheckpoint(eager=False)
    s = k.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
        F.max("c").cast("long").alias("max_c"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    from pyspark.sql.window import Window

    t = (
        k.select(
            "user_id",
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "user_id"))
            .cast("long")
            .alias("rk"),
        )
        .filter(F.col("rk") <= _SKEW_TOPK)
    )
    return t.crossJoin(s).select(
        F.col("rk").alias("heavy_rank"),
        F.col("user_id").alias("key_id"),
        F.col("c").alias("key_rows"),
        "n_keys",
        "n_rows",
        (
            F.floor(
                F.col("max_c").cast("double")
                * F.col("n_keys")
                / F.col("n_rows")
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("max_over_mean_q6"),
        (
            F.floor(
                F.col("scc").cast("double")
                * F.col("n_keys")
                / (F.col("n_rows").cast("double") * F.col("n_rows"))
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("l2_skew_q6"),
        F.ceil(F.col("max_c").cast("double") / _SKEW_TARGET)
        .cast("long")
        .alias("recommended_salts"),
    )
