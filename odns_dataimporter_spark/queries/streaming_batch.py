"""Windowed event-time operators (SURVEY §2.8) — batch-mode twins.

Each of these is the *batch* execution of a streaming operator over the
same ``events`` table, which makes it DuckDB-oracle-checkable; the
actual ``readStream`` variants live in
:mod:`odns_dataimporter_spark.streaming.jobs` and are asserted
equivalent to these in tests/test_streaming.py. That equivalence is the
point: Structured Streaming's incremental execution of an unchanged
logical plan is exactly how the engine scales these to infinite input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odns_dataimporter_spark.queries._helpers import money_sum, money_sum_sql, ts_str, ts_str_sql
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


@register(
    "stream_tumbling",
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       event_type,
       COUNT(*) AS n_events,
       {money_sum_sql('value')} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming",),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows (batch twin of the streaming
    groupBy(window(...)) — window.start ≡ date_trunc for day windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("total_value"))
        .select(
            F.col("window.start").cast("date").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "stream_sliding",
    oracle="""
SELECT {ws} AS window_start, COUNT(*) AS n_events
FROM (
  SELECT e.ts, time_bucket(INTERVAL 6 HOURS, e.ts) - k.k * INTERVAL 6 HOURS AS wstart
  FROM events e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
)
GROUP BY 1
""".format(ws=ts_str_sql("wstart")),
    tags=("streaming",),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 day wide, 6 h slide): every event lands in 4
    overlapping windows. The oracle reconstructs Spark's epoch-aligned
    window set via time_bucket − k·slide (2000-01-01 bucket origin is
    6h-aligned to the 1970 epoch, so the grids coincide)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day", "6 hours"))
        .agg(F.count("*").alias("n_events"))
        .select(ts_str(F.col("window.start")).alias("window_start"), "n_events")
    )


@register(
    "stream_session",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       {ts_str_sql('MIN(ts)')} AS session_start,
       {ts_str_sql("MAX(ts) + INTERVAL 30 MINUTES")} AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, sid
""",
    tags=("streaming",),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user. Spark's session_window merges
    an event iff it falls strictly inside [start, last_ts + gap); the
    oracle reproduces that with the classic lag/cumsum sessionization.
    session_end = last_ts + gap, matching Spark's definition."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            ts_str(F.col("session_window.start")).alias("session_start"),
            ts_str(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
    )


@register(
    "stream_dedup",
    oracle="""
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
FROM events
GROUP BY event_type
""",
    tags=("streaming",),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-by-key (batch twin of withWatermark+dropDuplicates — the
    streaming variant keeps keys in state until the watermark expires)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )


@register(
    "stream_watermark_late",
    oracle=f"""
WITH mx AS (SELECT MAX(ts) AS m FROM events)
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n_events
FROM events, mx
WHERE ts <= m - INTERVAL 1 HOUR
GROUP BY 1
""",
    tags=("streaming",),
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, batch-checkable: only events at least 1 h
    behind the max event time are 'closed' (what a 1 h watermark would
    have emitted by end-of-input). The streaming twin uses
    withWatermark('ts', '1 hour') before the same windowed count."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m"))
    return (
        ev.crossJoin(mx)
        .filter(F.col("ts") <= F.col("m") - F.expr("INTERVAL 1 HOUR"))
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").cast("date").alias("day"), "n_events")
    )


@register(
    "rollup_time_hierarchy",
    oracle=f"""
SELECT CASE WHEN h IS NOT NULL THEN 'hour' WHEN d IS NOT NULL THEN 'day'
            ELSE 'month' END AS resolution,
       {ts_str_sql('COALESCE(h, d, m)')} AS bucket_start,
       event_type, COUNT(*) AS n_events,
       {money_sum_sql('value', 1_000_000)} AS total_value
FROM (SELECT event_type, value,
             date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
             date_trunc('month', ts) AS m
      FROM events)
GROUP BY GROUPING SETS ((h, event_type), (d, event_type), (m, event_type))
""",
    tags=("streaming", "agg"),
)
def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the hypertable-continuous-aggregate
    analog): hour/day/month buckets per event_type materialized in ONE
    scan via GROUPING SETS (`DataFrame.groupingSets`, Spark 4) instead
    of three separate aggregations. Catalyst plans one Expand (×3 rows)
    + one shuffle — at 100 TB that is one pass over the fact table
    instead of three, and the Expand rows partial-aggregate map-side
    before the exchange, so the shuffle carries pre-rolled buckets, not
    raw events."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("m"),
    )
    rolled = ev.groupingSets(
        [["h", "event_type"], ["d", "event_type"], ["m", "event_type"]],
        "h", "d", "m", "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        money_sum("value", 1_000_000).alias("total_value"),
    )
    return rolled.select(
        F.when(F.col("h").isNotNull(), "hour")
        .when(F.col("d").isNotNull(), "day")
        .otherwise("month")
        .alias("resolution"),
        ts_str(F.coalesce("h", "d", "m")).alias("bucket_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "stream_join_interval",
    oracle=f"""
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       {ts_str_sql('v.ts')} AS view_ts, {ts_str_sql('p.ts')} AS purchase_ts
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
""",
    tags=("streaming", "join"),
)
def stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase attribution within 4 hours: the batch twin of the
    stream-stream interval join (jobs.stream_stream_join). Equi key on
    user_id with the time range as a join residual — a hash join at any
    scale, never a nested loop."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    j = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 4 HOURS")),
    )
    return j.select(
        "view_id",
        "purchase_id",
        "user_id",
        ts_str("v_ts").alias("view_ts"),
        ts_str("p_ts").alias("purchase_ts"),
    )


@register(
    "stream_stateful_custom",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
""",
    tags=("streaming", "stateful"),
)
def stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the arbitrary-stateful streaming operator
    (streaming/jobs.stream_stateful_custom, applyInPandasWithState;
    plus the Spark 4 transformWithStateInPandas variant): running
    per-user event count, whose FINAL state equals a plain per-key
    count. The twin runs the same grouped Arrow-batched Pandas worker
    shape (groupBy(user_id).applyInPandas) the stateful operator uses
    per micro-batch, so the oracle row certifies the exact pipeline —
    schema, grouping, Arrow batch handling — that the streaming tests
    (tests/test_streaming.py) assert equivalent on the stream path."""
    import pandas as pd

    def _final_count(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "n_events": [len(pdf)]}
        )

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("user_id")
        .groupBy("user_id")
        .applyInPandas(_final_count, "user_id long, n_events long")
    )


@register(
    "stream_join_interval_outer",
    oracle=f"""
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       {ts_str_sql('v.ts')} AS view_ts, {ts_str_sql('p.ts')} AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
""",
    tags=("streaming", "join"),
)
def stream_join_interval_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER view→purchase attribution within 4 hours — the batch
    twin of the outer stream-stream join (jobs.stream_stream_join_outer):
    every view appears, with NULL purchase columns when no purchase
    followed in the window. In the streaming form the NULL rows are the
    hard part — they can only be emitted once the watermark proves no
    match can still arrive; the batch twin pins exactly which rows
    those must be."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    j = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 4 HOURS")),
        "left",
    )
    return j.select(
        "view_id",
        "purchase_id",
        "user_id",
        ts_str("v_ts").alias("view_ts"),
        ts_str("p_ts").alias("purchase_ts"),
    )


@register(
    "stream_alert_hysteresis",
    oracle="""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, hour,
         CASE WHEN y > 3 THEN 1 WHEN y < 2 THEN 0 ELSE NULL END
           AS crossing
  FROM h
),
st AS (
  SELECT event_type, hour,
         COALESCE(CAST(last_value(crossing IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT), 0) AS alert
  FROM c
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(alert) AS BIGINT) AS hours_in_alert,
       CAST(SUM(CASE WHEN alert = 1 AND COALESCE(lag_alert, 0) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts
FROM (SELECT *, lag(alert) OVER (PARTITION BY event_type ORDER BY hour)
               AS lag_alert FROM st)
GROUP BY event_type
""",
    tags=("streaming", "analytics"),
)
def stream_alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of jobs.stream_hysteresis_alerts: Schmitt-trigger
    alert accounting with FIXED absolute thresholds (open when an
    hourly count > 3, close when < 2 — the streaming monitor can't
    know the full-series mean, unlike `ts_alert_hysteresis`'s
    relative thresholds) expressed with the LOCF last-non-NULL window
    idiom. The batch↔stream equivalence test
    (tests/test_streaming.py) pins that the applyInPandasWithState
    sequential state machine and this declarative form agree row for
    row. Shape: one (type, hour) map-side-combined shuffle + per-type
    ordered windows over the tiny hourly table."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").cast("long").alias("y"))
    crossing = (
        F.when(F.col("y") > 3, 1)
        .when(F.col("y") < 2, 0)
        .otherwise(F.lit(None))
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    st = h.select(
        "event_type",
        "hour",
        F.coalesce(
            F.last(crossing, ignorenulls=True).over(wcum).cast("long"),
            F.lit(0),
        ).alias("alert"),
    )
    lagged = st.select(
        "event_type",
        "alert",
        F.lag("alert")
        .over(W.partitionBy("event_type").orderBy("hour"))
        .alias("lag_alert"),
    )
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("alert").cast("long").alias("hours_in_alert"),
        F.sum(
            F.when(
                (F.col("alert") == 1)
                & (F.coalesce(F.col("lag_alert"), F.lit(0)) == 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_alerts"),
    )


# --- Heavy hitters (exact batch twin of the SpaceSaving stream) ---------------

_HH_TOPK = 8


@register(
    "stream_heavy_hitters",
    oracle=f"""
WITH c AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS n_total FROM c
  GROUP BY event_type
)
SELECT c.event_type,
       CAST(row_number() OVER (PARTITION BY c.event_type
         ORDER BY c.n_events DESC, c.user_id) AS BIGINT) AS rank,
       c.user_id, c.n_events,
       floor(CAST(c.n_events AS DOUBLE) / t.n_total * 1000000.0)
         / 1000000.0 AS share_q6
FROM c JOIN t USING (event_type)
QUALIFY row_number() OVER (PARTITION BY c.event_type
  ORDER BY c.n_events DESC, c.user_id) <= {_HH_TOPK}
""",
    tags=("streaming", "analytics"),
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type heavy hitters (top-8 users by event
    count, lowest-id tiebreak, with traffic share) — the BATCH ground
    truth for the streaming SpaceSaving sketch
    (streaming/jobs.py::stream_heavy_hitters_spacesaving): the
    streaming side keeps only a bounded counter table per key and
    guarantees every user with count > N/capacity appears with an
    estimate ≥ its true count; the equivalence test checks exactly
    those guarantees against this query. Shape: one map-side-combined
    (type, user) count, a broadcast per-type total, and a rank-k
    window per type (WindowGroupLimit prunes to k per partition before
    the sort). At 100 TB the batch twin is the nightly audit; the
    sketch is the live monitor."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("n_events")
    )
    t = c.groupBy("event_type").agg(
        F.sum("n_events").cast("long").alias("n_total")
    )
    from pyspark.sql.window import Window as W2

    w = W2.partitionBy("event_type").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        c.join(F.broadcast(t), "event_type")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _HH_TOPK)
        .select(
            "event_type",
            "rank",
            "user_id",
            "n_events",
            (
                F.floor(
                    F.col("n_events").cast("double")
                    / F.col("n_total")
                    * 1_000_000.0
                )
                / 1_000_000.0
            ).alias("share_q6"),
        )
    )
