"""Time-series operators over the `events` table: dense time-spine
gap-filling with last-observation-carried-forward interpolation (the
TimescaleDB `time_bucket_gapfill` + `locf` analog), SCD Type 2
effective-range construction (gaps-and-islands), and per-group OLS
trend fitting from integer sufficient statistics.

The reference (`/root/reference/dataimporter.py`) has no temporal
analytics at all — its only time handling is the strict timestamp cast
(`fieldtypers.py:13-17`) and the filename-derived `scan_date`
(`zipFileUtils.py:25-35`). These are EXT operators mandated by the
north star's "complete pipeline" surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from odns_dataimporter_spark.queries._helpers import (
    event_transitions,
    money_sum,
    money_sum_sql,
    ts_str,
    ts_str_sql,
)
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


@register(
    "ts_gapfill_locf",
    oracle=f"""
WITH agg AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {money_sum_sql("value")} AS val_sum
  FROM events GROUP BY 1, 2),
b AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
             date_trunc('hour', MAX(ts)) AS hi FROM events),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b),
grid AS (SELECT t.event_type, s.hour
         FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN spine s)
SELECT g.event_type, {ts_str_sql("g.hour")} AS hour,
       CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
       last_value(a.val_sum IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val_locf
FROM grid g
LEFT JOIN agg a ON g.event_type = a.event_type AND g.hour = a.hour
""",
    tags=("timeseries",),
)
def ts_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time spine with gap-filling: every (event_type,
    hour) cell over the table's full span exists in the output, absent
    cells get a zero count, and the per-hour value sum is interpolated
    by carrying the last observed value forward (TimescaleDB's
    `time_bucket_gapfill` + `locf`). Scale shape: the hourly aggregate
    is the only big shuffle; the spine is hours × types (tiny even for
    a decade — ~90k cells/type), built from one scalar min/max agg and
    cross-joined broadcast-side, and the LOCF window rides the same
    event_type partitioning. Leading cells before a type's first
    observation stay NULL on both engines."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        money_sum("value").alias("val_sum"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    grid = ev.select("event_type").distinct().crossJoin(spine)
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return grid.join(agg, ["event_type", "hour"], "left").select(
        "event_type",
        ts_str("hour").alias("hour"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.last("val_sum", ignorenulls=True).over(w).alias("val_locf"),
    )


@register(
    "scd2_build",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, MAX(event_type) AS state
  FROM events GROUP BY 1, 2),
c AS (
  SELECT *, CASE WHEN lag(state) OVER w IS NULL
                   OR lag(state) OVER w <> state THEN 1 ELSE 0 END AS is_new
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
i AS (
  SELECT *, CAST(SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
  FROM c)
SELECT user_id, version, state,
       MIN(day) AS valid_from, MAX(day) AS valid_to,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM i GROUP BY user_id, version, state
""",
    tags=("timeseries", "etl"),
)
def scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build: collapse each user's
    daily state (deterministically the lexicographic max event_type per
    day) into versioned effective ranges [valid_from, valid_to] via the
    gaps-and-islands construction — lag to flag state changes, running
    sum to number versions, then one group-by per island. This is the
    warehouse-dimension twin of `cdc_snapshot_diff`. Everything after
    the daily rollup rides a single user_id shuffle: both windows and
    the final aggregate reuse the same partitioning, so Catalyst plans
    exactly one exchange after the first."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.max("event_type").alias("state"))
    w = W.partitionBy("user_id").orderBy("day")
    lagged = F.lag("state").over(w)
    chg = daily.withColumn(
        "is_new",
        F.when(lagged.isNull() | (lagged != F.col("state")), 1).otherwise(0),
    )
    isl = chg.withColumn(
        "version",
        F.sum("is_new")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long"),
    )
    return isl.groupBy("user_id", "version", "state").agg(
        F.min("day").alias("valid_from"),
        F.max("day").alias("valid_to"),
        F.count("*").cast("long").alias("n_days"),
    )


@register(
    "stats_linear_trend",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
s AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(date_diff('day', DATE '2024-01-01', day)) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(date_diff('day', DATE '2024-01-01', day) * y) AS BIGINT) AS sxy,
         CAST(SUM(date_diff('day', DATE '2024-01-01', day)
                  * date_diff('day', DATE '2024-01-01', day)) AS BIGINT) AS sxx
  FROM daily GROUP BY user_id)
SELECT user_id, n,
       floor(CAST(n*sxy - sx*sy AS DOUBLE) * 1e6
             / CAST(n*sxx - sx*sx AS DOUBLE)) / 1e6 AS slope_q6,
       floor(CAST(sy*sxx - sx*sxy AS DOUBLE) * 1e6
             / CAST(n*sxx - sx*sx AS DOUBLE)) / 1e6 AS icept_q6
FROM s WHERE n*sxx - sx*sx <> 0
""",
    tags=("timeseries", "stats"),
)
def stats_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordinary-least-squares activity trend: slope and
    intercept of daily event counts regressed on the day index, from
    integer sufficient statistics (n, Σx, Σy, Σxy, Σx²) so the sums are
    exact int64 and order-independent; the single float division per
    user is floor-quantized to 1e-6 on both engines. Users active on
    only one day (zero variance in x) are excluded. Scale shape: the
    two aggregates share the user_id key prefix — Catalyst plans one
    shuffle on (user_id, day) and a map-side partial for the second;
    regression over billions of rows reduces to five numbers per key,
    the textbook sketch-style aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("y"))
    x = F.datediff("day", F.lit("2024-01-01").cast("date")).cast("long")
    s = daily.select("user_id", x.alias("x"), "y").groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope_num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    icept_num = (
        F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    ).cast("double")
    return s.filter(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0
    ).select(
        "user_id",
        "n",
        (F.floor(slope_num * 1e6 / den) / 1e6).alias("slope_q6"),
        (F.floor(icept_num * 1e6 / den) / 1e6).alias("icept_q6"),
    )


_SCD_SQL = """
  daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day, MAX(event_type) AS state
    FROM events GROUP BY 1, 2),
  chg AS (
    SELECT *, CASE WHEN lag(state) OVER w IS NULL
                     OR lag(state) OVER w <> state THEN 1 ELSE 0 END AS is_new
    FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
  isl AS (
    SELECT *, CAST(SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
    FROM chg),
  scd AS (
    SELECT user_id, version, state,
           MIN(day) AS valid_from, MAX(day) AS valid_to
    FROM isl GROUP BY user_id, version, state)
"""


@register(
    "scd2_lookup",
    oracle=f"""
WITH {_SCD_SQL}
SELECT s.state, s.version, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM (SELECT event_id, user_id, CAST(ts AS DATE) AS day FROM events) e
JOIN scd s ON e.user_id = s.user_id
          AND e.day BETWEEN s.valid_from AND s.valid_to
GROUP BY s.state, s.version
""",
    tags=("timeseries", "etl"),
)
def scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — the consumer side of
    `scd2_build`: join every fact row to the dimension version that was
    effective on the fact's date (equi-key on user_id + range residual
    on the validity interval), then roll up events/users per (state,
    version). This is the temporal-join shape every warehouse needs for
    as-was reporting. Scale shape: the join carries the user_id
    equi-key, so Catalyst plans a hash/sort-merge join on user_id
    (broadcast at small scale) with the BETWEEN as a post-join residual
    — never a nested loop; dimension versions per user are few, so the
    residual fan-out is bounded."""
    ev = load_table(spark, sf_dir, "events")
    dim = scd2_build(spark, sf_dir).select(
        "user_id", "version", "state", "valid_from", "valid_to"
    )
    facts = ev.select(
        "event_id", "user_id", F.col("ts").cast("date").alias("day")
    )
    return (
        facts.join(
            dim,
            (facts.user_id == dim.user_id)
            & F.col("day").between(F.col("valid_from"), F.col("valid_to")),
        )
        .groupBy("state", "version")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct(facts.user_id).cast("long").alias("n_users"),
        )
    )


@register(
    "events_markov",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS dst,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS src
  FROM events),
c AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM seq WHERE src IS NOT NULL GROUP BY src, dst)
SELECT src, dst, n_trans,
       floor(CAST(n_trans AS DOUBLE) * 1e6
             / CAST(SUM(n_trans) OVER (PARTITION BY src) AS DOUBLE)) / 1e6
         AS p_q6
FROM c
""",
    tags=("timeseries", "stats"),
)
def events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event journeys:
    consecutive event pairs per user (ordered by ts with event_id as
    the unique tiebreaker), counted per (src, dst) and row-normalized
    into transition probabilities (floor-quantized, scale-before-divide).
    The journey-analysis primitive behind next-action prediction and
    funnel discovery. Scale shape: one user_id shuffle for the lag, a
    map-side-combined count to a transition matrix of |types|² cells,
    and the normalizing sum is a window over that tiny matrix."""
    ev = load_table(spark, sf_dir, "events")
    c = event_transitions(ev).groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n_trans")
    )
    tot = F.sum("n_trans").over(W.partitionBy("src"))
    return c.select(
        "src",
        "dst",
        "n_trans",
        (
            F.floor(F.col("n_trans").cast("double") * 1e6 / tot.cast("double"))
            / 1e6
        ).alias("p_q6"),
    )


@register(
    "stats_mad_outliers",
    oracle="""
WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
st AS (
  SELECT e.event_type, m.med, median(abs(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY 1, 2),
o AS (
  SELECT e.event_type, s.med, s.mad,
         CAST(SUM(CASE WHEN abs(e.value - s.med) > 3 * s.mad
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events e JOIN st s USING (event_type) GROUP BY 1, 2, 3)
SELECT event_type, floor(med * 1e6) / 1e6 AS med_q6,
       floor(mad * 1e6) / 1e6 AS mad_q6, n_outliers, n
FROM o
""",
    tags=("timeseries", "stats"),
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type via the median absolute
    deviation: med = exact median, mad = median(|x − med|), outliers =
    values beyond 3·MAD — the standard robust alternative to z-scores
    when the value distribution has heavy tails. Exact medians keep the
    oracle bit-checkable (both engines linearly interpolate even-count
    medians over identical doubles); the 100 TB swap is
    approx_percentile sketches, one pass instead of three. Scale shape:
    three scans but every aggregate keys on the tiny event_type domain,
    and the per-type med/mad tables broadcast back — no large shuffle
    anywhere."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    st = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    o = (
        ev.join(F.broadcast(st), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count("*").cast("long").alias("n"),
        )
    )
    return o.select(
        "event_type",
        (F.floor(F.col("med") * 1e6) / 1e6).alias("med_q6"),
        (F.floor(F.col("mad") * 1e6) / 1e6).alias("mad_q6"),
        "n_outliers",
        "n",
    )


@register(
    "stats_winsorize",
    oracle=f"""
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type),
w AS (
  SELECT e.event_type, q.p05, q.p95,
         least(greatest(e.value, q.p05), q.p95) AS clipped,
         e.value
  FROM events e JOIN q USING (event_type))
SELECT event_type,
       floor(p05 * 1e6) / 1e6 AS p05_q6,
       floor(p95 * 1e6) / 1e6 AS p95_q6,
       CAST(COUNT(*) AS BIGINT) AS n,
       {money_sum_sql("value", 1000000)} AS sum_raw,
       {money_sum_sql("clipped", 1000000)} AS sum_winsorized
FROM w GROUP BY event_type, p05, p95
""",
    tags=("timeseries", "stats"),
)
def stats_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization per event_type: clip values to the exact
    [p05, p95] band and report raw vs clipped totals — the standard
    tail-taming transform before mean-based metrics (the clipping twin
    of `stats_mad_outliers`' detection). Percentiles are exact
    interpolated quantiles (identical IEEE interpolation on identical
    doubles, cf. `agg_percentile`); clipping is least/greatest on
    bit-identical bounds; totals go through the exact integer-micros
    sum. Scale shape: one tiny per-type percentile aggregate broadcast
    back onto the scan, then one map-side-combined rollup — two scans,
    no large shuffle; at 100 TB swap exact quantiles for
    approx_percentile sketches, same downstream shape."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    w = ev.join(F.broadcast(q), "event_type").select(
        "event_type",
        "p05",
        "p95",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
            "clipped"
        ),
    )
    return w.groupBy("event_type", "p05", "p95").agg(
        F.count("*").cast("long").alias("n"),
        money_sum("value", 1_000_000).alias("sum_raw"),
        money_sum("clipped", 1_000_000).alias("sum_winsorized"),
    ).select(
        "event_type",
        (F.floor(F.col("p05") * 1e6) / 1e6).alias("p05_q6"),
        (F.floor(F.col("p95") * 1e6) / 1e6).alias("p95_q6"),
        "n",
        "sum_raw",
        "sum_winsorized",
    )


@register(
    "ts_interarrival_pcts",
    oracle="""
WITH d AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events),
g AS (SELECT event_type, gap_us FROM d WHERE gap_us IS NOT NULL)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       floor(quantile_cont(gap_us, 0.50) * 1e2) / 1e2 AS p50_us_q2,
       floor(quantile_cont(gap_us, 0.95) * 1e2) / 1e2 AS p95_us_q2,
       CAST(MAX(gap_us) AS BIGINT) AS max_us
FROM g GROUP BY event_type
""",
    tags=("timeseries", "stats"),
)
def ts_interarrival_pcts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival latency percentiles: per-user event gaps (exact
    integer microseconds via unix_micros, lag ordered by (ts, event_id))
    rolled up into p50/p95/max per event_type — the observability
    staple for burstiness and session cadence. The percentile
    interpolation runs over exact int64 gaps so both engines
    interpolate the same values (quantized defensively at 1e-2 µs).
    Scale shape: one user_id shuffle for the lag, then a
    map-side-combined rollup onto the tiny event_type domain; at
    100 TB the exact percentile swaps for approx_percentile, same
    plan."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    g = ev.select("event_type", gap.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    return g.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        (F.floor(F.percentile("gap_us", F.lit(0.50)) * 1e2) / 1e2).alias(
            "p50_us_q2"
        ),
        (F.floor(F.percentile("gap_us", F.lit(0.95)) * 1e2) / 1e2).alias(
            "p95_us_q2"
        ),
        F.max("gap_us").cast("long").alias("max_us"),
    )


@register(
    "ts_resample_ohlc",
    oracle="""
WITH e AS (
  SELECT date_trunc('hour', ts) AS b, event_type, value,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' ||
         lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord_key
  FROM events
)
SELECT strftime(b, '%Y-%m-%d %H:%M') AS bucket, event_type,
       arg_min(value, ord_key) AS open_v,
       max(value) AS high_v,
       min(value) AS low_v,
       arg_max(value, ord_key) AS close_v,
       CAST(COUNT(*) AS BIGINT) AS n
FROM e GROUP BY b, event_type
""",
    tags=("timeseries",),
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC resample of the event value stream per event_type —
    the canonical downsampling operator for metrics/financial rollups.

    open/close are min_by/max_by over a fixed-width sortable string key
    (microsecond timestamp | zero-padded event_id), so first/last are
    total-order deterministic without a window pass: ONE map-side-
    combinable aggregation, no shuffle beyond the (bucket, type)
    groupBy — at 100 TB this is a single partial+final HashAggregate,
    and the string key trick keeps it a pure aggregate (a window
    formulation would force a full sort per partition key).
    """
    ev = load_table(spark, sf_dir, "events")
    key = F.concat_ws(
        "|",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.select(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm").alias(
                "bucket"
            ),
            "event_type",
            "value",
            key.alias("ord_key"),
        )
        .groupBy("bucket", "event_type")
        .agg(
            F.min_by("value", "ord_key").alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", "ord_key").alias("close_v"),
            F.count("*").cast("long").alias("n"),
        )
    )


@register(
    "ts_rolling_zscore",
    oracle="""
WITH v AS (
  SELECT event_type, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), stats AS (
  SELECT event_type, ts, event_id, cents,
         SUM(cents) OVER w AS s,
         SUM(cents * cents) OVER w AS ss,
         COUNT(*) OVER w AS n
  FROM v
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT event_type,
         (cents - CAST(s AS DOUBLE) / n)
           / sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS zval
  FROM stats WHERE n >= 30 AND (ss - CAST(s AS DOUBLE) * s / n) > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(COUNT(CASE WHEN abs(zval) > 3 THEN 1 END) AS BIGINT) AS n_anomalies,
       floor(MAX(abs(zval)) * 10000.0) / 10000.0 AS max_absz_q4
FROM z GROUP BY event_type
""",
    tags=("timeseries", "stats"),
)
def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against the
    mean/std of the preceding 100 same-type events (trailing window,
    excludes self — no leakage), flagged at |z| > 3.

    Determinism at float level: the rolling moments are windowed SUMs
    of EXACT integer cents (and their squares) — associative, so
    Spark's frame evaluation and DuckDB's segment-tree accumulation
    cannot diverge — and mean/variance/z are then derived with the
    same explicit arithmetic in both engines (never the built-in
    stddev, whose internal summation order is engine-specific). One
    event_type shuffle; the window and the final rollup share it."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-100, -1)
    )
    stats = v.select(
        "event_type",
        "cents",
        F.sum("cents").over(w).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("ss"),
        F.count("*").over(w).alias("n"),
    ).filter(
        # n >= 30 AND positive variance numerator: a flat window
        # (all cents identical) has var == 0 and would raise
        # DIVIDE_BY_ZERO under Spark 4's default ANSI mode; such
        # events are unscoreable, so both engines exclude them with
        # the same exact-arithmetic predicate.
        (F.col("n") >= 30)
        & (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n") > 0)
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    z = stats.select(
        "event_type", ((F.col("cents") - mean) / F.sqrt(var)).alias("zval")
    )
    return z.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_scored"),
        F.count(F.when(F.abs("zval") > 3, 1)).cast("long").alias("n_anomalies"),
        (F.floor(F.max(F.abs("zval")) * 10000.0) / 10000.0).alias("max_absz_q4"),
    )


@register(
    "stats_psi_drift",
    oracle="""
WITH b AS (
  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
),
c AS (
  SELECT event_type,
         CAST(COUNT(CASE WHEN epoch_us(ts) <= mid THEN 1 END) AS BIGINT) AS n_early,
         CAST(COUNT(CASE WHEN epoch_us(ts) > mid THEN 1 END) AS BIGINT) AS n_late
  FROM events, b GROUP BY event_type
),
tot AS (
  SELECT CAST(SUM(n_early) AS BIGINT) AS te, CAST(SUM(n_late) AS BIGINT) AS tl,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM c
)
SELECT event_type, n_early, n_late,
       floor((
         (CAST(n_early + 1 AS DOUBLE) / CAST(te + k AS DOUBLE)
          - CAST(n_late + 1 AS DOUBLE) / CAST(tl + k AS DOUBLE))
         * ln((CAST(n_early + 1 AS DOUBLE) / CAST(te + k AS DOUBLE))
              / (CAST(n_late + 1 AS DOUBLE) / CAST(tl + k AS DOUBLE)))
       ) * 1e9) / 1e9 AS psi_term_q9
FROM c, tot
""",
    tags=("timeseries", "stats"),
)
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index terms per event_type between the early
    and late halves of the time range — THE standard drift monitor for
    a continuously-fed training pipeline (PSI > 0.2 on any category =
    the upstream distribution moved; investigate before training).
    Laplace-smoothed (add-1 per category) so categories absent from one
    half stay finite.

    Deterministic: the split point is exact integer-microsecond
    midpoint arithmetic; counts are integers; the PSI term is the same
    left-to-right sequence of IEEE double ops on both engines, floored
    at 1e-9. One events-scale shuffle (the per-type counts); the
    midpoint and totals are broadcast 1-row aggregates folded into the
    plan (no driver pre-action)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr("(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) DIV 2").alias("mid")
    )
    c = (
        ev.crossJoin(b)
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.unix_micros("ts") <= F.col("mid"), 1))
            .cast("long")
            .alias("n_early"),
            F.count(F.when(F.unix_micros("ts") > F.col("mid"), 1))
            .cast("long")
            .alias("n_late"),
        )
        # two diverging consumers (totals scalar + final select):
        # checkpoint so the events scan + per-type reduction run once
        # (round-6 scan audit; the midpoint scalar's pruned ts-only
        # scan remains, and is the benign broadcast-scalar pattern)
        .localCheckpoint(eager=False)
    )
    tot = c.agg(
        F.sum("n_early").cast("long").alias("te"),
        F.sum("n_late").cast("long").alias("tl"),
        F.count("*").cast("long").alias("k"),
    )
    p = (F.col("n_early") + 1).cast("double") / (F.col("te") + F.col("k")).cast("double")
    q = (F.col("n_late") + 1).cast("double") / (F.col("tl") + F.col("k")).cast("double")
    return (
        c.crossJoin(tot)
        .select(
            "event_type",
            "n_early",
            "n_late",
            (F.floor(((p - q) * F.log(p / q)) * 1e9) / 1e9).alias("psi_term_q9"),
        )
    )


@register(
    "ts_cusum_changepoint",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
                CAST(COUNT(*) AS BIGINT) AS n_days FROM d),
c AS (
  SELECT day, rev_cents,
         CAST(SUM(rev_cents * n_days - total_cents)
              OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS cusum_scaled
  FROM d, t
)
SELECT day, rev_cents, cusum_scaled,
       abs(cusum_scaled) = MAX(abs(cusum_scaled)) OVER () AS is_changepoint
FROM c
""",
    tags=("timeseries", "analytics"),
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily purchase-revenue
    series: the running sum of deviations from the series mean peaks at
    the most likely level-shift day (Page's cumulative-sum statistic).
    All math stays in exact integers — the deviation is scaled by
    n_days (rev·n − total instead of rev − total/n) so the cumulative
    sum never touches a float and hashes bit-identically. Shape: one
    events-scale shuffle reduces to |days| rows; the 1-row totals
    broadcast back; the ordered cumulative window runs over the tiny
    aggregated series (|days| rows — at 100 TB this is still only
    ~3.6 k rows/decade, so the single-partition window is free; the
    expensive pass is the day aggregate, which is map-side combined)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(cents).cast("long").alias("rev_cents"))
    )
    t = d.agg(
        F.sum("rev_cents").cast("long").alias("total_cents"),
        F.count("*").cast("long").alias("n_days"),
    )
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = (
        d.crossJoin(t)
        .withColumn(
            "cusum_scaled",
            F.sum(
                F.col("rev_cents") * F.col("n_days") - F.col("total_cents")
            )
            .over(wcum)
            .cast("long"),
        )
        .select("day", "rev_cents", "cusum_scaled")
    )
    wall = W.partitionBy()
    return c.withColumn(
        "is_changepoint",
        F.abs("cusum_scaled") == F.max(F.abs("cusum_scaled")).over(wall),
    )


@register(
    "ts_seasonal_hourly_profile",
    oracle="""
WITH h AS (
  SELECT CAST(hour(ts) AS BIGINT) AS hod, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total FROM h
         GROUP BY event_type)
SELECT h.hod, h.event_type, h.n,
       (24.0 * h.n) / t.total AS seasonal_idx
FROM h JOIN t USING (event_type)
""",
    tags=("timeseries", "analytics"),
)
def ts_seasonal_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: the share of a
    type's events landing in each clock hour, normalised so a flat
    series scores 1.0 in every slot (seasonal index = 24·n_hod/total).
    One events-scale map-side-combined aggregate reduces to ≤ 24·|types|
    rows; the per-type totals are a second tiny rollup joined back
    (broadcast — |types| rows). The index is a single division of
    exact integers, bit-identical on both engines."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.hour("ts").cast("long").alias("hod"), "event_type"
    ).agg(F.count("*").cast("long").alias("n"))
    t = h.groupBy("event_type").agg(F.sum("n").cast("long").alias("total"))
    return h.join(F.broadcast(t), "event_type").select(
        "hod",
        "event_type",
        "n",
        ((F.lit(24.0) * F.col("n")) / F.col("total")).alias("seasonal_idx"),
    )


_LTTB_BUCKETS = 24


@register(
    "ts_downsample_lttb",
    oracle=f"""
WITH p AS (
  SELECT event_id, CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS xs,
         CAST(round(value * 100) AS BIGINT) AS yc
  FROM events WHERE event_type = 'purchase'
), b0 AS (SELECT CAST(min(xs) AS BIGINT) AS x0, CAST(max(xs) AS BIGINT) AS x1
          FROM p),
pb AS (
  SELECT p.*, CAST(least(CAST(floor((p.xs - b0.x0) * {_LTTB_BUCKETS}.0
                          / (b0.x1 - b0.x0 + 1)) AS BIGINT),
                   {_LTTB_BUCKETS - 1}) AS BIGINT) AS bucket
  FROM p, b0
), m AS (
  SELECT bucket, CAST(SUM(xs) AS BIGINT) AS sx, CAST(SUM(yc) AS BIGINT) AS sy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pb GROUP BY bucket
), scored AS (
  SELECT pb.event_id, pb.xs, pb.yc, pb.bucket,
         abs((CAST(mp.sx AS DOUBLE) / mp.n - pb.xs)
             * (CAST(mn.sy AS DOUBLE) / mn.n - pb.yc)
             - (CAST(mn.sx AS DOUBLE) / mn.n - pb.xs)
               * (CAST(mp.sy AS DOUBLE) / mp.n - pb.yc)) AS area2
  FROM pb
  JOIN m mp ON mp.bucket = pb.bucket - 1
  JOIN m mn ON mn.bucket = pb.bucket + 1
), sel AS (
  SELECT bucket, event_id, xs, yc FROM (
    SELECT *, row_number() OVER (PARTITION BY bucket
                                 ORDER BY area2 DESC, event_id) AS rn
    FROM scored) WHERE rn = 1
), ends AS (
  SELECT CAST(-1 AS BIGINT) AS bucket, event_id, xs, yc FROM (
    SELECT event_id, xs, yc FROM p ORDER BY xs, event_id LIMIT 1)
  UNION ALL
  SELECT {_LTTB_BUCKETS}, event_id, xs, yc FROM (
    SELECT event_id, xs, yc FROM p ORDER BY xs DESC, event_id DESC LIMIT 1)
)
SELECT bucket, event_id, xs, yc FROM sel
UNION ALL
SELECT bucket, event_id, xs, yc FROM ends
""",
    tags=("timeseries", "analytics"),
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of the purchase
    value series to ~26 points — the standard lossy reduction for
    plotting millions of points — in its PARALLEL form: buckets are
    equal-TIME spans and each interior bucket keeps the point forming
    the largest triangle against its neighbor buckets' mean points
    (classic LTTB anchors on the previously-selected point, a serial
    chain; the bucket-mean anchor is the standard parallelization and
    what makes this one window pass instead of a sequential fold).
    Exactness: coordinates are integer seconds/cents, bucket means are
    exact int sums divided once, and the cross-product area is the
    identical float expression on both engines. Shape: one bucket
    aggregate (B rows, broadcast back to the points), one per-bucket
    argmax window; the global endpoints are two TakeOrdered 1-row
    limits. Nothing scales with more than one pass over the series."""
    ev = load_table(spark, sf_dir, "events")
    # the slim point series feeds the bounds aggregate, the bucketed
    # scoring chain, and both endpoint TakeOrdereds — checkpoint so the
    # events scan runs once (8 redundant scans before; scan audit)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.unix_seconds(F.col("ts")).alias("xs"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    ).localCheckpoint(eager=False)
    b0 = p.agg(
        F.min("xs").cast("long").alias("x0"), F.max("xs").cast("long").alias("x1")
    )
    B = _LTTB_BUCKETS
    pb = p.crossJoin(b0).select(
        "event_id",
        "xs",
        "yc",
        F.least(
            F.floor(
                (F.col("xs") - F.col("x0")) * float(B) / (F.col("x1") - F.col("x0") + 1)
            ).cast("long"),
            F.lit(B - 1).cast("long"),
        ).alias("bucket"),
    )
    m = pb.groupBy("bucket").agg(
        F.sum("xs").cast("long").alias("sx"),
        F.sum("yc").cast("long").alias("sy"),
        F.count("*").cast("long").alias("n"),
    )
    mp = F.broadcast(m.select(
        (F.col("bucket") + 1).alias("bucket"),
        F.col("sx").alias("psx"), F.col("sy").alias("psy"), F.col("n").alias("pn"),
    ))
    mn = F.broadcast(m.select(
        (F.col("bucket") - 1).alias("bucket"),
        F.col("sx").alias("nsx"), F.col("sy").alias("nsy"), F.col("n").alias("nn"),
    ))
    scored = pb.join(mp, "bucket").join(mn, "bucket").select(
        "event_id",
        "xs",
        "yc",
        "bucket",
        F.abs(
            (F.col("psx").cast("double") / F.col("pn") - F.col("xs"))
            * (F.col("nsy").cast("double") / F.col("nn") - F.col("yc"))
            - (F.col("nsx").cast("double") / F.col("nn") - F.col("xs"))
            * (F.col("psy").cast("double") / F.col("pn") - F.col("yc"))
        ).alias("area2"),
    )
    w = W.partitionBy("bucket").orderBy(F.col("area2").desc(), "event_id")
    sel = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("bucket", "event_id", "xs", "yc")
    )
    first = (
        p.orderBy("xs", "event_id")
        .limit(1)
        .select(F.lit(-1).cast("long").alias("bucket"), "event_id", "xs", "yc")
    )
    last = (
        p.orderBy(F.col("xs").desc(), F.col("event_id").desc())
        .limit(1)
        .select(F.lit(B).cast("long").alias("bucket"), "event_id", "xs", "yc")
    )
    return sel.unionByName(first).unionByName(last)


_SCD_CUTOFF = "2024-01-20"


@register(
    "scd2_merge_apply",
    # the oracle is the FULL SCD2 rebuild — passing means the
    # incremental base+delta merge is indistinguishable from recompute
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, MAX(event_type) AS state
  FROM events GROUP BY 1, 2),
c AS (
  SELECT *, CASE WHEN lag(state) OVER w IS NULL
                   OR lag(state) OVER w <> state THEN 1 ELSE 0 END AS is_new
  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
i AS (
  SELECT *, CAST(SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
  FROM c)
SELECT user_id, version, state,
       MIN(day) AS valid_from, MAX(day) AS valid_to,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM i GROUP BY user_id, version, state
""",
    tags=("timeseries", "etl", "incremental"),
)
def scd2_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: the dimension built from history
    BEFORE the cutoff day merges with the delta built from days ON/AFTER
    it — closing or extending the open version at the boundary — and
    must be byte-identical to a full rebuild (the oracle IS the full
    rebuild; `rollup_incremental`'s merge≡recompute discipline applied
    to versioned dimensions). The merge is segment-level gaps-and-
    islands: segments stack, consecutive same-state segments per user
    collapse (one user_id-keyed window + aggregate over the SEGMENT
    table, thousands of times smaller than events). At 100 TB this is
    the nightly pattern: yesterday's dimension + today's partition, and
    only the boundary segments ever merge."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.max("event_type").alias("state"))

    def segments(d: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy("day")
        lagged = F.lag("state").over(w)
        chg = d.withColumn(
            "is_new",
            F.when(lagged.isNull() | (lagged != F.col("state")), 1).otherwise(0),
        )
        isl = chg.withColumn(
            "seg",
            F.sum("is_new")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("long"),
        )
        return isl.groupBy("user_id", "seg", "state").agg(
            F.min("day").alias("valid_from"),
            F.max("day").alias("valid_to"),
            F.count("*").cast("long").alias("n_days"),
        )

    cutoff = F.lit(_SCD_CUTOFF).cast("date")
    base = segments(daily.filter(F.col("day") < cutoff))
    delta = segments(daily.filter(F.col("day") >= cutoff))
    seg = base.select("user_id", "state", "valid_from", "valid_to", "n_days").unionByName(
        delta.select("user_id", "state", "valid_from", "valid_to", "n_days")
    )
    w2 = W.partitionBy("user_id").orderBy("valid_from")
    lag_state = F.lag("state").over(w2)
    merged = seg.withColumn(
        "is_new",
        F.when(lag_state.isNull() | (lag_state != F.col("state")), 1).otherwise(0),
    ).withColumn(
        "version",
        F.sum("is_new")
        .over(w2.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long"),
    )
    return merged.groupBy("user_id", "version", "state").agg(
        F.min("valid_from").alias("valid_from"),
        F.max("valid_to").alias("valid_to"),
        F.sum("n_days").cast("long").alias("n_days"),
    )


@register(
    "stats_theil_sen",
    oracle="""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), x AS (
  SELECT event_type,
         CAST(day - (SELECT min(day) FROM d) AS BIGINT) AS xi, y
  FROM d
), pairs AS (
  SELECT a.event_type,
         CAST(b.y - a.y AS DOUBLE) / (b.xi - a.xi) AS slope
  FROM x a JOIN x b ON a.event_type = b.event_type AND a.xi < b.xi
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       quantile_disc(slope, 0.5) AS slope_med
FROM pairs GROUP BY event_type
""",
    tags=("stats", "timeseries"),
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: the median of all pairwise slopes of the
    daily count series per event type — the estimator that shrugs off
    the outliers that wreck OLS (`stats_linear_trend`'s companion).
    Slopes are exact-integer differences divided once; the median is
    percentile_disc, so it is an ELEMENT of the slope multiset —
    deterministic on both engines. The O(|days|²) pair join runs on the
    aggregated series (≤365 rows/type/year → ≤66 k pairs), never on raw
    events; for decade-long series the standard move is repeated-median
    on a day sample, same plan shape."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.count("*").cast("long").alias("y"))
        # diverging consumers (min-day scalar + both pair sides):
        # checkpoint so the events scan + day reduction run once
        # (round-6 scan audit)
        .localCheckpoint(eager=False)
    )
    m = d.agg(F.min("day").alias("d0"))
    x = d.crossJoin(m).select(
        "event_type", F.datediff("day", "d0").cast("long").alias("xi"), "y"
    )
    a = x.select("event_type", F.col("xi").alias("xa"), F.col("y").alias("ya"))
    b = x.select("event_type", F.col("xi").alias("xb"), F.col("y").alias("yb"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            ((F.col("yb") - F.col("ya")).cast("double") / (F.col("xb") - F.col("xa"))).alias(
                "slope"
            ),
        )
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)").alias("slope_med"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend exponential smoothing: the level+trend recursion
# l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}), b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}
# is inherently SEQUENTIAL — no window frame expresses it — so it uses
# this repo's sequential-fold pattern: the per-group day series
# collapses to one sorted array and F.aggregate folds it left-to-right,
# the exact order DuckDB's list_reduce uses, making the doubles
# bit-identical. α=1/2 and β=1/4 are exact binary fractions.

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.25


@register(
    "ts_holt_linear",
    oracle=f"""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, list(y ORDER BY day) AS ys FROM d GROUP BY 1
), f AS (
  SELECT event_type, len(ys) AS n,
         list_reduce(
           list_prepend(
             [ys[1], CASE WHEN len(ys) > 1 THEN ys[2] - ys[1] ELSE 0 END],
             list_transform(ys[3:], y -> [y, CAST(0 AS DOUBLE)])),
           (acc, x) -> [
             {_HOLT_ALPHA} * x[1] + {1 - _HOLT_ALPHA} * (acc[1] + acc[2]),
             {_HOLT_BETA} * ({_HOLT_ALPHA} * x[1]
                             + {1 - _HOLT_ALPHA} * (acc[1] + acc[2]) - acc[1])
               + {1 - _HOLT_BETA} * acc[2]]
         ) AS lb
  FROM s
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       floor(lb[1] * 1000000.0) / 1000000.0 AS level_q6,
       floor(lb[2] * 1000000.0) / 1000000.0 AS trend_q6,
       floor((lb[1] + 7 * lb[2]) * 1000000.0) / 1000000.0 AS forecast7_q6
FROM f
""",
    tags=("timeseries", "stats"),
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing per event_type over the daily count
    series, plus the 7-day-ahead forecast l + 7b — the classic capacity
    forecast a pipeline-operations dashboard runs on ingest volume.

    Init l=y_0, b=y_1−y_0 (0 for a singleton series); the recursion
    folds the remaining days IN ORDER. Scale shape: one events-scale
    shuffle to (type, day) counts, then each series collapses to ONE
    array row (30 entries here; a 10-year daily series is still only
    3.7k doubles/group) and the fold is per-row codegen — the same
    discipline as tokenizer_bpe_encode / ml_logreg_step. Wait-free at
    100 TB: per-type state never leaves one row.

    NOTE on the fold encoding: the oracle wraps tail elements as
    [y, 0] lists so DuckDB's 2-arg list_reduce (first element = init
    accumulator) carries the [level, trend] pair; Spark's F.aggregate
    takes an explicit init instead. The smoothing expression appears
    twice in each step on both engines (no let-binding in either
    lambda dialect) — recomputed, therefore bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("double").alias("y"))
    s = d.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("p")
    ).select(
        "event_type",
        F.transform("p", lambda x: x["y"]).alias("ys"),
    )
    ys = F.col("ys")
    n = F.size(ys)
    init = F.array(
        F.element_at(ys, 1),
        F.when(n > 1, F.element_at(ys, 2) - F.element_at(ys, 1)).otherwise(
            F.lit(0.0)
        ),
    )
    a, b1 = F.lit(_HOLT_ALPHA), F.lit(1 - _HOLT_ALPHA)
    g, g1 = F.lit(_HOLT_BETA), F.lit(1 - _HOLT_BETA)

    def step(acc, y):
        lp = a * y + b1 * (acc[0] + acc[1])
        return F.array(lp, g * (lp - acc[0]) + g1 * acc[1])

    lb = F.aggregate(F.slice(ys, 3, F.greatest(n - 2, F.lit(0))), init, step)
    return s.select(
        "event_type",
        n.cast("long").alias("n_days"),
        (F.floor(lb[0] * 1e6) / 1e6).alias("level_q6"),
        (F.floor(lb[1] * 1e6) / 1e6).alias("trend_q6"),
        (F.floor((lb[0] + 7 * lb[1]) * 1e6) / 1e6).alias("forecast7_q6"),
    )


_HW_ALPHA = 0.5  # level gain   (exact binary fractions: no decimal-vs-
_HW_BETA = 0.25  # trend gain    double literal divergence between engines)
_HW_GAMMA = 0.25  # seasonal gain
_HW_M = 7  # weekly season over the daily series


def _hw_sql_lnew():
    """l' expression (SQL dialect), duplicated wherever needed —
    recomputed identically, therefore bit-identical across engines."""
    idx = f"((CAST(x[2] AS BIGINT) - 1) % {_HW_M})"
    return (
        f"{_HW_ALPHA} * (x[1] - acc[3 + {idx}]) "
        f"+ {1 - _HW_ALPHA} * (acc[1] + acc[2])"
    )


def _hw_sql_slot(k: int) -> str:
    idx = f"((CAST(x[2] AS BIGINT) - 1) % {_HW_M})"
    return (
        f"CASE WHEN {idx} = {k - 1} THEN "
        f"{_HW_GAMMA} * (x[1] - ({_hw_sql_lnew()})) "
        f"+ {1 - _HW_GAMMA} * acc[{k + 2}] "
        f"ELSE acc[{k + 2}] END"
    )


_HW_SQL_STEP = (
    "[" + _hw_sql_lnew() + ", "
    f"{_HW_BETA} * (({_hw_sql_lnew()}) - acc[1]) + {1 - _HW_BETA} * acc[2], "
    + ", ".join(_hw_sql_slot(k) for k in range(1, _HW_M + 1))
    + "]"
)

_HW_SQL_L0 = (
    "((ys[1] + ys[2] + ys[3] + ys[4] + ys[5] + ys[6] + ys[7]) / 7.0)"
)
_HW_SQL_B0 = (
    "(((ys[8] + ys[9] + ys[10] + ys[11] + ys[12] + ys[13] + ys[14]) / 7.0 "
    f"- {_HW_SQL_L0}) / 7.0)"
)
_HW_SQL_INIT = (
    "[" + _HW_SQL_L0 + ", " + _HW_SQL_B0 + ", "
    + ", ".join(f"ys[{k}] - {_HW_SQL_L0}" for k in range(1, _HW_M + 1))
    + "]"
)


@register(
    "ts_holt_winters",
    oracle=f"""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
), o AS (
  SELECT event_type, day, y,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS DOUBLE) AS t
  FROM d
), s AS (
  SELECT event_type, list(y ORDER BY day) AS ys,
         list([y, t] ORDER BY day) AS pairs
  FROM o GROUP BY 1
), f AS (
  SELECT event_type, len(ys) AS n,
         list_reduce(
           list_prepend({_HW_SQL_INIT}, pairs[15:]),
           (acc, x) -> {_HW_SQL_STEP}
         ) AS st
  FROM s WHERE len(ys) >= 15
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       floor(st[1] * 1000000.0) / 1000000.0 AS level_q6,
       floor(st[2] * 1000000.0) / 1000000.0 AS trend_q6,
       floor((st[3] + st[4] + st[5] + st[6] + st[7] + st[8] + st[9])
             * 1000000.0) / 1000000.0 AS season_sum_q6,
       floor((7.0 * st[1] + 28.0 * st[2]
              + st[3] + st[4] + st[5] + st[6] + st[7] + st[8] + st[9])
             * 1000000.0) / 1000000.0 AS forecast_week_q6
FROM f
""",
    tags=("timeseries", "stats"),
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple-exponential) smoothing with a
    weekly season over the per-type daily count series — the seasonal
    upgrade of `ts_holt_linear` and the standard ops-capacity forecast
    for weekly-periodic ingest volume. Init from the first two seasons
    (l₀ = mean of week 1, b₀ = (mean of week 2 − mean of week 1)/7,
    sₖ = yₖ − l₀); the fold walks days 15..n carrying state
    [l, b, s₁..s₇], updating the one season slot (t−1) mod 7 per step.
    Forecast is the next full week Σₕ(l + h·b + s) = 7l + 28b + Σs.
    Scale shape: one events-scale map-side-combined shuffle to
    (type, day) counts, then each series collapses to ONE array row and
    the fold is per-row codegen over ≤ a-few-thousand doubles/decade —
    state never leaves the row (same discipline as ts_holt_linear /
    ml_logreg_step). Determinism: smoothing constants are exact binary
    fractions (0.5/0.25/0.25); the l' expression is recomputed (not
    let-bound) in every place both engines use it, so the IEEE trees
    are identical; series shorter than two seasons + 1 are excluded on
    both sides."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("double").alias("y"))
    s = (
        d.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("day", "y"))).alias("p"))
        .select(
            "event_type",
            F.transform("p", lambda x: x["y"]).alias("ys"),
        )
        .select(
            "event_type",
            "ys",
            F.transform(
                "ys", lambda x, i: F.array(x, (i + 1).cast("double"))
            ).alias("pairs"),
        )
        .filter(F.size("ys") >= 2 * _HW_M + 1)
    )
    ys = F.col("ys")
    n = F.size(ys)

    def yk(k):
        return F.element_at(ys, k)

    l0 = (yk(1) + yk(2) + yk(3) + yk(4) + yk(5) + yk(6) + yk(7)) / 7.0
    b0 = (
        (yk(8) + yk(9) + yk(10) + yk(11) + yk(12) + yk(13) + yk(14)) / 7.0
        - l0
    ) / 7.0
    init = F.array(l0, b0, *[yk(k) - l0 for k in range(1, _HW_M + 1)])

    al, al1 = F.lit(_HW_ALPHA), F.lit(1 - _HW_ALPHA)
    be, be1 = F.lit(_HW_BETA), F.lit(1 - _HW_BETA)
    ga, ga1 = F.lit(_HW_GAMMA), F.lit(1 - _HW_GAMMA)

    def step(acc, x):
        idx = (F.element_at(x, 2).cast("long") - 1) % _HW_M

        def lnew():
            return al * (
                F.element_at(x, 1) - F.element_at(acc, (F.lit(3) + idx).cast("int"))
            ) + al1 * (F.element_at(acc, 1) + F.element_at(acc, 2))

        slots = [
            F.when(
                idx == (k - 1),
                ga * (F.element_at(x, 1) - lnew()) + ga1 * F.element_at(acc, k + 2),
            ).otherwise(F.element_at(acc, k + 2))
            for k in range(1, _HW_M + 1)
        ]
        return F.array(
            lnew(),
            be * (lnew() - F.element_at(acc, 1)) + be1 * F.element_at(acc, 2),
            *slots,
        )

    st = F.aggregate(
        F.slice(F.col("pairs"), 2 * _HW_M + 1, F.greatest(n - 2 * _HW_M, F.lit(0))),
        init,
        step,
    )
    sk = [F.element_at(st, k) for k in range(3, 3 + _HW_M)]
    season_sum = sk[0] + sk[1] + sk[2] + sk[3] + sk[4] + sk[5] + sk[6]
    return s.select(
        "event_type",
        n.cast("long").alias("n_days"),
        (F.floor(F.element_at(st, 1) * 1_000_000.0) / 1_000_000.0).alias(
            "level_q6"
        ),
        (F.floor(F.element_at(st, 2) * 1_000_000.0) / 1_000_000.0).alias(
            "trend_q6"
        ),
        (F.floor(season_sum * 1_000_000.0) / 1_000_000.0).alias(
            "season_sum_q6"
        ),
        (
            F.floor(
                (
                    7.0 * F.element_at(st, 1)
                    + 28.0 * F.element_at(st, 2)
                    + season_sum
                )
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("forecast_week_q6"),
    )


@register(
    "ts_stl_decompose",
    oracle="""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS yc
  FROM events GROUP BY 1, 2
),
tr AS (
  SELECT event_type, day, yc,
         CAST(SUM(yc) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS BIGINT)
           AS trend,
         CAST(isodow(day) AS BIGINT) AS dow
  FROM d
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
dt AS (
  SELECT *, CAST(floor((yc - trend) * 1000000.0) AS BIGINT) AS det_micro
  FROM tr
),
sm AS (
  SELECT event_type, dow, CAST(SUM(det_micro) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM dt GROUP BY 1, 2
),
ctr AS (
  SELECT event_type,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY dow)),
           (a, b) -> a + b) / len(list(dow)) AS center
  FROM sm GROUP BY event_type
),
se AS (
  SELECT sm.event_type, sm.dow,
         CAST(sm.s AS DOUBLE) / sm.n / 1000000.0 - ctr.center AS seasonal
  FROM sm JOIN ctr USING (event_type)
)
SELECT dt.event_type, dt.day, dt.yc AS y,
       floor(dt.trend * 1000000.0) / 1000000.0 AS trend_q6,
       floor(se.seasonal * 1000000.0) / 1000000.0 AS seasonal_q6,
       floor((dt.yc - dt.trend - se.seasonal) * 1000000.0) / 1000000.0
         AS resid_q6
FROM dt JOIN se ON se.event_type = dt.event_type AND se.dow = dt.dow
""",
    tags=("timeseries", "stats"),
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style additive decomposition of the per-type daily series —
    trend (centered 7-day moving average), day-of-week seasonal
    component (mean detrended value per weekday, centered so the seven
    components sum to ~0), residual — the anomaly-detection /
    forecasting preprocessor that pairs with `ts_holt_winters`.
    Determinism chain: the moving-average trend is Σ(int counts)/n
    (exact); the detrended series is floor-quantized to integer MICROS
    before the per-weekday mean so no order-sensitive double sum ever
    crosses an aggregate; the 7-term centering sum runs as a
    SEQUENTIAL dow-ordered fold (list_reduce / F.aggregate — the
    ts_holt_linear discipline) rather than a groupBy sum of doubles.
    Shape: one events-scale shuffle to (type, day); everything after
    is |days|-sized windows and |7·types| joins (broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("yc"))
    wmv = (
        W.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    tr = d.select(
        "event_type",
        "day",
        "yc",
        (
            F.sum("yc").over(wmv).cast("double")
            / F.count(F.lit(1)).over(wmv).cast("long")
        ).alias("trend"),
        F.dayofweek(F.date_add("day", -1)).cast("long").alias("dow"),
    )
    dt = tr.withColumn(
        "det_micro",
        F.floor((F.col("yc") - F.col("trend")) * 1_000_000.0).cast("long"),
    ).localCheckpoint(eager=False)
    sm = dt.groupBy("event_type", "dow").agg(
        F.sum("det_micro").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    ctr = (
        sm.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dow", "s", "n"))
            ).alias("p")
        )
        .select(
            "event_type",
            (
                F.aggregate(
                    F.transform(
                        "p",
                        lambda x: x["s"].cast("double") / x["n"] / 1_000_000.0,
                    ),
                    F.lit(0.0),
                    lambda a, b: a + b,
                )
                / F.size("p")
            ).alias("center"),
        )
    )
    se = sm.join(ctr, "event_type").select(
        "event_type",
        "dow",
        (
            F.col("s").cast("double") / F.col("n") / 1_000_000.0
            - F.col("center")
        ).alias("seasonal"),
    )
    return dt.join(F.broadcast(se), ["event_type", "dow"]).select(
        "event_type",
        "day",
        F.col("yc").alias("y"),
        (F.floor(F.col("trend") * 1_000_000.0) / 1_000_000.0).alias(
            "trend_q6"
        ),
        (F.floor(F.col("seasonal") * 1_000_000.0) / 1_000_000.0).alias(
            "seasonal_q6"
        ),
        (
            F.floor(
                (F.col("yc") - F.col("trend") - F.col("seasonal"))
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("resid_q6"),
    )


# Kalman noise constants (milli-value^2 units) — binary-exact doubles.
_KAL_Q = 10000.0  # process variance per step
_KAL_R = 1000000.0  # observation variance
_KAL_P0 = 1000000000.0  # diffuse prior variance


@register(
    "ts_kalman_1d",
    oracle=f"""
WITH RECURSIVE d AS (
  SELECT CAST(day AS VARCHAR) AS day,
         CAST(sv AS DOUBLE) / n AS z,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
  FROM (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(SUM(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS sv,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1)
),
f AS (
  SELECT rn, day, z,
         CAST(0 AS DOUBLE)
           + (({_KAL_P0} + {_KAL_Q}) / (({_KAL_P0} + {_KAL_Q}) + {_KAL_R}))
             * (z - CAST(0 AS DOUBLE)) AS x,
         (1.0 - ({_KAL_P0} + {_KAL_Q}) / (({_KAL_P0} + {_KAL_Q}) + {_KAL_R}))
             * ({_KAL_P0} + {_KAL_Q}) AS p,
         ({_KAL_P0} + {_KAL_Q}) / (({_KAL_P0} + {_KAL_Q}) + {_KAL_R}) AS k
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.rn, d.day, d.z,
         f.x + ((f.p + {_KAL_Q}) / ((f.p + {_KAL_Q}) + {_KAL_R}))
             * (d.z - f.x),
         (1.0 - (f.p + {_KAL_Q}) / ((f.p + {_KAL_Q}) + {_KAL_R}))
             * (f.p + {_KAL_Q}),
         (f.p + {_KAL_Q}) / ((f.p + {_KAL_Q}) + {_KAL_R})
  FROM f JOIN d ON d.rn = f.rn + 1
)
SELECT day,
       CAST(floor(z * 1000.0) AS BIGINT) / 1000000.0 AS z_q6,
       CAST(floor(x * 1000.0) AS BIGINT) / 1000000.0 AS x_filt_q6,
       CAST(floor(k * 1000000.0) AS BIGINT) / 1000000.0 AS gain_q6,
       CAST(floor(p) AS BIGINT) AS p_milli2
FROM f
""",
    tags=("analytics", "timeseries", "iterative"),
)
def ts_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (local-level / random-walk-plus-noise model)
    over the daily mean event value: per day, predict (P += Q), gain
    K = P/(P+R), update x += K·(z−x), P *= (1−K) — the optimal online
    smoother for a drifting level under Gaussian noise, and the
    state-space counterpart of `ts_ewma_dyadic` (whose fixed smoothing
    weight the Kalman gain generalizes adaptively: the gain starts
    near 1 under the diffuse prior and settles to the steady-state
    ratio). Emits the full filtered trajectory (estimate, gain,
    posterior variance per day). Scale shape: ONE map-side-combined
    shuffle to the daily table (tiny at any corpus size), which then
    collapses to a single array row; the fold runs inside one
    whole-stage-codegen row with state never leaving it — identical
    at 100 TB. Determinism: observations are exact int64 milli-sums
    divided once; Q/R/P0 are binary-exact literals; update expressions
    are repeated verbatim (never read through a just-reassigned
    accumulator field — the DuckDB list_reduce same-step-update quirk)
    so both engines walk identical IEEE trees; trajectory outputs are
    floor-quantized at append time."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1000.0).cast("long"))
        .cast("long")
        .alias("sv"),
        F.count("*").cast("long").alias("n"),
    )
    pts = d.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("day").cast("string").alias("day"),
                    (F.col("sv").cast("double") / F.col("n")).alias("z"),
                )
            )
        ).alias("pts")
    )
    out_t = (
        "array<struct<day:string,zq:bigint,xq:bigint,kq:bigint,pq:bigint>>"
    )
    init = F.struct(
        F.lit(0.0).alias("x"),
        F.lit(_KAL_P0).alias("p"),
        F.array().cast(out_t).alias("out"),
    )

    def step(acc, pt):
        pp = acc["p"] + _KAL_Q
        k = pp / (pp + _KAL_R)
        x_new = acc["x"] + k * (pt["z"] - acc["x"])
        p_new = (1.0 - k) * pp
        return F.struct(
            x_new.alias("x"),
            p_new.alias("p"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        pt["day"].alias("day"),
                        F.floor(pt["z"] * 1000.0).cast("long").alias("zq"),
                        F.floor(x_new * 1000.0).cast("long").alias("xq"),
                        F.floor(k * 1_000_000.0).cast("long").alias("kq"),
                        F.floor(p_new).cast("long").alias("pq"),
                    )
                ),
            ).alias("out"),
        )

    fin = pts.select(F.aggregate("pts", init, step).alias("st"))
    o = fin.select(F.explode(F.col("st.out")).alias("o"))
    return o.select(
        F.col("o.day").alias("day"),
        (F.col("o.zq") / 1_000_000.0).alias("z_q6"),
        (F.col("o.xq") / 1_000_000.0).alias("x_filt_q6"),
        (F.col("o.kq") / 1_000_000.0).alias("gain_q6"),
        F.col("o.pq").alias("p_milli2"),
    )


_SAX_W = 8  # PAA segments per series
# Gaussian breakpoints for a 4-letter alphabet (Lin et al. 2003)
_SAX_BP = (-0.6745, 0.0, 0.6745)


@register(
    "ts_sax_symbols",
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, day, y,
         CAST(SUM(y) OVER w AS BIGINT) AS s1,
         CAST(SUM(y * y) OVER w AS BIGINT) AS s2,
         CAST(COUNT(*) OVER w AS BIGINT) AS nd,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS rn
  FROM d
  WINDOW w AS (PARTITION BY event_type)
),
z AS (
  SELECT event_type, nd,
         CAST(floor(((y - CAST(s1 AS DOUBLE) / nd)
              / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd)
                     / nd)) * 1000000.0) AS BIGINT) AS zq,
         CAST(floor((rn - 1) * {_SAX_W} * 1.0 / nd) AS BIGINT) AS seg
  FROM m
  WHERE nd * s2 > s1 * s1
),
paa AS (
  SELECT event_type, seg,
         CAST(COUNT(*) AS BIGINT) AS n_in_seg,
         CAST(SUM(zq) AS DOUBLE) / COUNT(*) / 1000000.0 AS paa
  FROM z GROUP BY 1, 2
),
sym AS (
  SELECT event_type, seg, n_in_seg, paa,
         CASE WHEN paa < CAST({_SAX_BP[0]} AS DOUBLE) THEN 'a'
              WHEN paa < CAST({_SAX_BP[1]} AS DOUBLE) THEN 'b'
              WHEN paa < CAST({_SAX_BP[2]} AS DOUBLE) THEN 'c'
              ELSE 'd' END AS symbol
  FROM paa
),
words AS (
  SELECT event_type, string_agg(symbol, '' ORDER BY seg) AS sax_word
  FROM sym GROUP BY event_type
)
SELECT s.event_type, s.seg, s.n_in_seg,
       floor(s.paa * 1000000.0) / 1000000.0 AS paa_q6,
       s.symbol, w.sax_word
FROM sym s JOIN words w USING (event_type)
""",
    tags=("analytics", "timeseries"),
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic approximation (Lin/Keogh et al. 2003) of each
    event-type's daily-count series: z-normalize, Piecewise Aggregate
    Approximation into 8 equal segments, then map each segment
    mean onto a 4-letter alphabet through the standard Gaussian
    breakpoints (±0.6745, 0) — turning every series into a short
    symbolic word usable for motif mining, indexing, and cheap
    similarity (the preprocessing step behind HOT-SAX / iSAX at scale,
    where 100 TB of raw series become kilobytes of words). Scale
    shape: one map-side-combined (type, day) shuffle, one window pass
    per type for exact int64 moments (series tables are tiny), one
    (type, segment) regroup; nothing corpus-sized moves twice.
    Determinism: z-scores come from exact integer moments and are
    floor-quantized to int64 micros BEFORE the cross-day segment sum
    (order-independent), one sqrt per type with an identical IEEE
    tree, breakpoints cast to DOUBLE explicitly (DuckDB parses bare
    decimal literals as DECIMAL)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("y"))
    wfull = W.partitionBy("event_type")
    worder = W.partitionBy("event_type").orderBy("day")
    m = d.select(
        "event_type",
        "y",
        F.sum("y").over(wfull).cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).over(wfull).cast("long").alias("s2"),
        F.count("*").over(wfull).cast("long").alias("nd"),
        F.row_number().over(worder).cast("long").alias("rn"),
    )
    mean = F.col("s1").cast("double") / F.col("nd")
    std = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("nd")
        )
        / F.col("nd")
    )
    z = m.filter(
        F.col("nd") * F.col("s2") > F.col("s1") * F.col("s1")
    ).select(
        "event_type",
        F.floor((F.col("y") - mean) / std * 1_000_000.0)
        .cast("long")
        .alias("zq"),
        F.floor((F.col("rn") - 1) * _SAX_W * 1.0 / F.col("nd"))
        .cast("long")
        .alias("seg"),
    )
    paa = z.groupBy("event_type", "seg").agg(
        F.count("*").cast("long").alias("n_in_seg"),
        (F.sum("zq").cast("double") / F.count("*") / 1_000_000.0).alias(
            "paa"
        ),
    )
    sym = paa.select(
        "event_type",
        "seg",
        "n_in_seg",
        "paa",
        F.when(F.col("paa") < _SAX_BP[0], "a")
        .when(F.col("paa") < _SAX_BP[1], "b")
        .when(F.col("paa") < _SAX_BP[2], "c")
        .otherwise("d")
        .alias("symbol"),
    )
    words = sym.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "symbol"))),
                lambda x: x["symbol"],
            ),
            "",
        ).alias("sax_word")
    )
    return sym.join(F.broadcast(words), "event_type").select(
        "event_type",
        "seg",
        "n_in_seg",
        (F.floor(F.col("paa") * 1_000_000.0) / 1_000_000.0).alias("paa_q6"),
        "symbol",
        "sax_word",
    )


@register(
    "ts_changepoint_binseg",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
pp AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(SUM(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cy,
         CAST(SUM(y) OVER () AS BIGINT) AS s,
         CAST(COUNT(*) OVER () AS BIGINT) AS dd
  FROM d
),
r1 AS (
  SELECT min([-(CAST(cy AS DOUBLE) * cy / t
                + CAST(s - cy AS DOUBLE) * (s - cy) / (dd - t)),
              CAST(t AS DOUBLE), CAST(cy AS DOUBLE)]) AS b
  FROM pp WHERE t < dd
),
root AS (
  SELECT CAST(b[2] AS BIGINT) AS k1, CAST(b[3] AS BIGINT) AS cyk1,
         -b[1] AS g
  FROM r1 WHERE b IS NOT NULL
),
sides AS (
  SELECT CASE WHEN pp.t < root.k1 THEN 2 ELSE 3 END AS lvl,
         pp.t, root.k1, root.cyk1, pp.s, pp.dd,
         CASE WHEN pp.t < root.k1 THEN CAST(pp.cy AS DOUBLE)
              ELSE CAST(pp.cy - root.cyk1 AS DOUBLE) END AS sl,
         CASE WHEN pp.t < root.k1 THEN CAST(pp.t AS DOUBLE)
              ELSE CAST(pp.t - root.k1 AS DOUBLE) END AS nl,
         CASE WHEN pp.t < root.k1 THEN CAST(root.cyk1 - pp.cy AS DOUBLE)
              ELSE CAST(pp.s - pp.cy AS DOUBLE) END AS sr,
         CASE WHEN pp.t < root.k1 THEN CAST(root.k1 - pp.t AS DOUBLE)
              ELSE CAST(pp.dd - pp.t AS DOUBLE) END AS nr
  FROM pp, root
  WHERE pp.t < root.k1 OR (pp.t > root.k1 AND pp.t < pp.dd)
),
sub AS (
  SELECT lvl,
         min([-(sl * sl / nl + sr * sr / nr),
              CAST(t AS DOUBLE), sl, nl, sr, nr]) AS b
  FROM sides GROUP BY lvl
)
SELECT CAST(1 AS BIGINT) AS split_level,
       root.k1 AS cp_index,
       root2.dd AS n_seg,
       floor(root.g * 1000.0) / 1000.0 AS gain_q3,
       floor(CAST(root.cyk1 AS DOUBLE) / root.k1 * 1000000.0) / 1000000.0
         AS mean_left_q6,
       floor(CAST(root2.s - root.cyk1 AS DOUBLE) / (root2.dd - root.k1)
             * 1000000.0) / 1000000.0 AS mean_right_q6
FROM root, (SELECT CAST(MAX(s) AS BIGINT) AS s,
                   CAST(MAX(dd) AS BIGINT) AS dd FROM pp) root2
UNION ALL
SELECT CAST(lvl AS BIGINT), CAST(b[2] AS BIGINT),
       CAST(b[4] + b[6] AS BIGINT),
       floor(-b[1] * 1000.0) / 1000.0,
       floor(b[3] / b[4] * 1000000.0) / 1000000.0,
       floor(b[5] / b[6] * 1000000.0) / 1000000.0
FROM sub WHERE b IS NOT NULL
""",
    tags=("analytics", "timeseries", "iterative"),
)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation change-point detection (depth 2) on the
    daily event-count series: find the split maximizing the SSE-
    reduction gain sl²/nl + sr²/nr (the level-shift likelihood-ratio
    criterion), then recurse once into each side — the classic
    multiple-change-point upgrade of `ts_cusum_changepoint` (which
    finds exactly one shift) and the standard first pass before PELT-
    style exact methods. Emits up to three splits with per-side means.
    Scale shape: one events-scale map-side-combined day aggregate;
    every candidate evaluation is prefix-sum algebra over the tiny day
    table, argmax via min-struct (broadcast 1-row root), so the corpus
    is scanned once at any size. Determinism: prefix sums exact int64;
    the gain enters the min-struct with identical double trees, ties
    broken by index; a side too short to split simply emits no row on
    both engines."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("y")
    )
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    pp = d.select(
        F.row_number().over(W.orderBy("day")).cast("long").alias("t"),
        F.sum("y").over(wcum).cast("long").alias("cy"),
        F.sum("y").over(wall).cast("long").alias("s"),
        F.count("*").over(wall).cast("long").alias("dd"),
    )
    # four consumers (root argmax, side candidates, totals) — pin the
    # tiny |days| prefix table once so events is scanned exactly once
    pp = pp.localCheckpoint(eager=False)
    g_root = F.col("cy").cast("double") * F.col("cy") / F.col("t") + (
        F.col("s") - F.col("cy")
    ).cast("double") * (F.col("s") - F.col("cy")) / (
        F.col("dd") - F.col("t")
    )
    r1 = pp.filter(F.col("t") < F.col("dd")).agg(
        F.min(
            F.struct(
                (-g_root).alias("ng"),
                F.col("t").cast("double").alias("t"),
                F.col("cy").cast("double").alias("cy"),
            )
        ).alias("b")
    )
    root = r1.filter(F.col("b").isNotNull()).select(
        F.col("b.t").cast("long").alias("k1"),
        F.col("b.cy").cast("long").alias("cyk1"),
        (-F.col("b.ng")).alias("g"),
    )
    sides_src = pp.crossJoin(root).filter(
        (F.col("t") < F.col("k1"))
        | ((F.col("t") > F.col("k1")) & (F.col("t") < F.col("dd")))
    )
    is_l = F.col("t") < F.col("k1")
    sides = sides_src.select(
        F.when(is_l, 2).otherwise(3).alias("lvl"),
        "t",
        F.when(is_l, F.col("cy").cast("double"))
        .otherwise((F.col("cy") - F.col("cyk1")).cast("double"))
        .alias("sl"),
        F.when(is_l, F.col("t").cast("double"))
        .otherwise((F.col("t") - F.col("k1")).cast("double"))
        .alias("nl"),
        F.when(is_l, (F.col("cyk1") - F.col("cy")).cast("double"))
        .otherwise((F.col("s") - F.col("cy")).cast("double"))
        .alias("sr"),
        F.when(is_l, (F.col("k1") - F.col("t")).cast("double"))
        .otherwise((F.col("dd") - F.col("t")).cast("double"))
        .alias("nr"),
    )
    g_sub = (
        F.col("sl") * F.col("sl") / F.col("nl")
        + F.col("sr") * F.col("sr") / F.col("nr")
    )
    sub = sides.groupBy("lvl").agg(
        F.min(
            F.struct(
                (-g_sub).alias("ng"),
                F.col("t").cast("double").alias("t"),
                F.col("sl").alias("sl"),
                F.col("nl").alias("nl"),
                F.col("sr").alias("sr"),
                F.col("nr").alias("nr"),
            )
        ).alias("b")
    )
    tot = pp.agg(
        F.max("s").cast("long").alias("s"), F.max("dd").cast("long").alias("dd")
    )
    r_root = root.crossJoin(tot).select(
        F.lit(1).cast("long").alias("split_level"),
        F.col("k1").alias("cp_index"),
        F.col("dd").alias("n_seg"),
        (F.floor(F.col("g") * 1000.0) / 1000.0).alias("gain_q3"),
        (
            F.floor(
                F.col("cyk1").cast("double") / F.col("k1") * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("mean_left_q6"),
        (
            F.floor(
                (F.col("s") - F.col("cyk1")).cast("double")
                / (F.col("dd") - F.col("k1"))
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("mean_right_q6"),
    )
    r_sub = sub.filter(F.col("b").isNotNull()).select(
        F.col("lvl").cast("long").alias("split_level"),
        F.col("b.t").cast("long").alias("cp_index"),
        (F.col("b.nl") + F.col("b.nr")).cast("long").alias("n_seg"),
        (F.floor(-F.col("b.ng") * 1000.0) / 1000.0).alias("gain_q3"),
        (
            F.floor(F.col("b.sl") / F.col("b.nl") * 1_000_000.0)
            / 1_000_000.0
        ).alias("mean_left_q6"),
        (
            F.floor(F.col("b.sr") / F.col("b.nr") * 1_000_000.0)
            / 1_000_000.0
        ).alias("mean_right_q6"),
    )
    return r_root.unionByName(r_sub)


_HYST_HI = 1.3  # alert opens when hourly count > HI * daily-mean rate
_HYST_LO = 0.8  # alert closes when it drops below LO * rate


@register(
    "ts_alert_hysteresis",
    oracle=f"""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, hour, y,
         CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nh
  FROM h
),
c AS (
  SELECT event_type, hour, y,
         CASE WHEN y * nh > CAST({_HYST_HI} AS DOUBLE) * tot THEN 1
              WHEN y * nh < CAST({_HYST_LO} AS DOUBLE) * tot THEN 0
              ELSE NULL END AS crossing
  FROM m
),
st AS (
  SELECT event_type, hour, y,
         COALESCE(CAST(last_value(crossing IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT), 0) AS alert
  FROM c
)
SELECT event_type,
       CAST(SUM(alert) AS BIGINT) AS hours_in_alert,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(CASE WHEN alert = 1 AND COALESCE(lag_alert, 0) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts,
       floor(SUM(alert) * 1000000.0 / COUNT(*)) / 1000000.0
         AS alert_frac_q6
FROM (SELECT *, lag(alert) OVER (PARTITION BY event_type ORDER BY hour)
               AS lag_alert FROM st)
GROUP BY event_type
""",
    tags=("analytics", "timeseries"),
)
def ts_alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hysteresis (Schmitt-trigger) alerting over the hourly rate per
    event type: the alert OPENS when an hour exceeds 1.3× the
    type's mean hourly rate and only CLOSES when it falls below
    0.8× — the two-threshold discipline every production
    monitor uses to stop flapping at a single threshold (plain
    thresholding is `stats_mad_outliers`'s job; this is its stateful
    ops-grade sibling). The sequential state is expressed as
    last-non-NULL crossing carried forward (the same LOCF idiom as
    `ts_gapfill_locf`), so no fold is needed. Emits per type: hours in
    alert, number of distinct alert episodes (0→1 edges), alert duty
    fraction. Scale shape: one map-side-combined (type, hour) shuffle;
    the state windows ride one (type)-keyed exchange of the tiny
    hourly table. Determinism: the thresholds compare exact integers
    cross-multiplied against the type totals (y·nh vs k·tot — one
    DOUBLE multiply, no division); episode edges are integer lag
    comparisons."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").cast("long").alias("y"))
    wa = W.partitionBy("event_type")
    m = h.select(
        "event_type",
        "hour",
        "y",
        F.sum("y").over(wa).cast("long").alias("tot"),
        F.count("*").over(wa).cast("long").alias("nh"),
    )
    crossing = (
        F.when(F.col("y") * F.col("nh") > _HYST_HI * F.col("tot"), 1)
        .when(F.col("y") * F.col("nh") < _HYST_LO * F.col("tot"), 0)
        .otherwise(F.lit(None))
    )
    c = m.select("event_type", "hour", "y", crossing.alias("crossing"))
    wcum = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    st = c.select(
        "event_type",
        "hour",
        F.coalesce(
            F.last("crossing", ignorenulls=True).over(wcum).cast("long"),
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
        F.sum("alert").cast("long").alias("hours_in_alert"),
        F.count("*").cast("long").alias("n_hours"),
        F.sum(
            F.when(
                (F.col("alert") == 1)
                & (F.coalesce(F.col("lag_alert"), F.lit(0)) == 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_alerts"),
        (
            F.floor(F.sum("alert") * 1_000_000.0 / F.count("*"))
            / 1_000_000.0
        ).alias("alert_frac_q6"),
    )


_CRO_A = 0.25  # Croston smoothing constant (binary-exact)


@register(
    "ts_croston_intermittent",
    oracle=f"""
WITH RECURSIVE d AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
),
nz AS (
  SELECT y, t, CAST(t - lag(t, 1, 0) OVER (ORDER BY t) AS BIGINT) AS q
  FROM (SELECT y, CAST(row_number() OVER (ORDER BY hr) AS BIGINT) AS t
        FROM d)
  WHERE y > 0
),
o AS (
  SELECT y, q,
         CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS k,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM nz
),
it(k, z, p) AS (
  SELECT 1, CAST(y AS DOUBLE), CAST(q AS DOUBLE) FROM o WHERE k = 1
  UNION ALL
  SELECT o.k,
         {_CRO_A} * o.y + (1.0 - {_CRO_A}) * it.z,
         {_CRO_A} * o.q + (1.0 - {_CRO_A}) * it.p
  FROM it JOIN o ON o.k = it.k + 1
),
fin AS (SELECT z, p FROM it ORDER BY k DESC LIMIT 1)
SELECT (SELECT MAX(m) FROM o) AS n_nonzero,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_hours,
       floor(fin.z * 1000000.0) / 1000000.0 AS size_hat_q6,
       floor(fin.p * 1000000.0) / 1000000.0 AS interval_hat_q6,
       floor(fin.z / fin.p * 1000000.0) / 1000000.0 AS demand_rate_q6
FROM fin
""",
    tags=("analytics", "timeseries", "iterative"),
)
def ts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand (the standard sparse-
    series forecaster where Holt/SES fail — spare parts, rare
    purchases): maintain TWO exponential smoothers, one over the
    nonzero demand sizes and one over the inter-demand intervals,
    updated ONLY at nonzero observations; the demand-rate forecast is
    their ratio ẑ/p̂. Runs on the hourly purchase-count series (zeros
    are the point). Scale shape: one map-side-combined hour aggregate;
    the nonzero subsequence collapses to one array row and the coupled
    fold runs inside it (kalman/holt discipline — state never leaves
    the row). Determinism: demand sizes and intervals are exact
    integers entering the fold; α = 0.25 binary-exact; both smoothers
    update with identical IEEE trees (oracle = recursive CTE over the
    row_number-ordered nonzero table); init is the first observation
    pair, with the first interval defined as its index gap from the
    series start (documented convention)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y")
    )
    rn = F.row_number().over(W.orderBy("hr"))
    base = d.select("hr", "y", rn.cast("long").alias("t"))
    nz = base.filter(F.col("y") > 0).select(
        "y",
        "t",
        (
            F.col("t")
            - F.coalesce(
                F.lag("t").over(W.orderBy("t")), F.lit(0)
            )
        )
        .cast("long")
        .alias("q"),
    )
    tot_hours = d.agg(F.count("*").cast("long").alias("n_hours"))
    arr = nz.agg(
        F.array_sort(F.collect_list(F.struct("t", "y", "q"))).alias("p"),
        F.count("*").cast("long").alias("n_nonzero"),
    )

    def step(acc, o):
        return F.struct(
            (_CRO_A * o["y"] + (1.0 - _CRO_A) * acc["z"]).alias("z"),
            (_CRO_A * o["q"] + (1.0 - _CRO_A) * acc["p"]).alias("p"),
        )

    first = F.element_at(F.col("p"), 1)
    init = F.struct(
        first["y"].cast("double").alias("z"),
        first["q"].cast("double").alias("p"),
    )
    fin = arr.select(
        "n_nonzero",
        F.aggregate(
            F.slice(
                F.col("p"), 2, F.greatest(F.size("p") - 1, F.lit(0))
            ),
            init,
            step,
        ).alias("st"),
    )
    return fin.crossJoin(tot_hours).select(
        "n_nonzero",
        "n_hours",
        (F.floor(F.col("st.z") * 1_000_000.0) / 1_000_000.0).alias(
            "size_hat_q6"
        ),
        (F.floor(F.col("st.p") * 1_000_000.0) / 1_000_000.0).alias(
            "interval_hat_q6"
        ),
        (
            F.floor(F.col("st.z") / F.col("st.p") * 1_000_000.0)
            / 1_000_000.0
        ).alias("demand_rate_q6"),
    )


# --- variance-ratio random-walk test -----------------------------------------

_VR_Q = 4  # aggregation horizon (hours)


@register(
    "ts_variance_ratio",
    oracle=f"""
WITH agg0 AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2),
  b AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi FROM events),
  spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
            FROM b),
  grid AS (SELECT t.event_type, s.hour
           FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN spine s),
  series AS (
    SELECT g.event_type, g.hour, CAST(COALESCE(a.n, 0) AS BIGINT) AS x
    FROM grid g LEFT JOIN agg0 a ON g.event_type = a.event_type
                                AND g.hour = a.hour),
  lagd AS (
    SELECT event_type, x,
           x - lag(x, 1) OVER w AS d1,
           x - lag(x, {_VR_Q}) OVER w AS dq
    FROM series WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
  s AS (
    SELECT event_type,
           CAST(COUNT(d1) AS BIGINT) AS n1,
           CAST(SUM(d1) AS BIGINT) AS s1,
           CAST(SUM(d1 * d1) AS BIGINT) AS s11,
           CAST(COUNT(dq) AS BIGINT) AS nq,
           CAST(SUM(dq) AS BIGINT) AS sq,
           CAST(SUM(dq * dq) AS BIGINT) AS sqq
    FROM lagd GROUP BY event_type)
SELECT event_type, n1,
       floor(((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / nq) / nq)
             / ({_VR_Q}.0 * ((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                             / n1))
             * 1000000.0) / 1000000.0 AS vr_q6,
       floor((((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / nq) / nq)
              / ({_VR_Q}.0 * ((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                              / n1)) - 1.0)
             / sqrt(2.0 * (2.0 * {_VR_Q} - 1.0) * ({_VR_Q} - 1.0)
                    / (3.0 * {_VR_Q} * n1))
             * 1000000.0) / 1000000.0 AS z_q6
FROM s
WHERE n1 * s11 > s1 * s1
""",
    tags=("timeseries", "stats"),
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test (q=4) per event type over
    the dense hourly count series: VR = Var(q-hour change)/(q·Var(1-hour
    change)) — 1 for a random walk, < 1 under mean reversion, > 1 under
    trending/momentum; the standard "is this series a random walk or
    does it have structure" screen that complements the
    autocorrelation (`ts_autocorr_lag`) and Hurst (`ts_hurst_exponent`)
    diagnostics with an actual test statistic. Determinism: the 1- and
    q-hour differences are exact integers off the zero-filled spine, so
    all six sufficient statistics are exact int64; VR and the
    asymptotic z are one shared float expression floored at 1e-6;
    constant series are excluded by an integer predicate. Shape: one
    events-scale hourly aggregate, broadcast spine bounds, both lags in
    ONE window pass per event_type, 5-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").cast("long").alias("n"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    grid = ev.select("event_type").distinct().crossJoin(spine)
    series = grid.join(agg, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("n", F.lit(0)).cast("long").alias("x")
    )
    w = W.partitionBy("event_type").orderBy("hour")
    lagd = series.select(
        "event_type",
        (F.col("x") - F.lag("x", 1).over(w)).alias("d1"),
        (F.col("x") - F.lag("x", _VR_Q).over(w)).alias("dq"),
    )
    s = lagd.groupBy("event_type").agg(
        F.count("d1").cast("long").alias("n1"),
        F.sum("d1").cast("long").alias("s1"),
        F.sum(F.col("d1") * F.col("d1")).cast("long").alias("s11"),
        F.count("dq").cast("long").alias("nq"),
        F.sum("dq").cast("long").alias("sq"),
        F.sum(F.col("dq") * F.col("dq")).cast("long").alias("sqq"),
    )
    var1 = (
        F.col("s11").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ) / F.col("n1")
    varq = (
        F.col("sqq").cast("double")
        - F.col("sq").cast("double") * F.col("sq") / F.col("nq")
    ) / F.col("nq")
    vr = varq / (float(_VR_Q) * var1)
    z = (vr - 1.0) / F.sqrt(
        2.0
        * (2.0 * _VR_Q - 1.0)
        * (_VR_Q - 1.0)
        / (3.0 * _VR_Q * F.col("n1"))
    )
    return (
        s.filter(F.col("n1") * F.col("s11") > F.col("s1") * F.col("s1"))
        .select(
            "event_type",
            "n1",
            (F.floor(vr * 1e6) / 1e6).alias("vr_q6"),
            (F.floor(z * 1e6) / 1e6).alias("z_q6"),
        )
    )


# --- local-maximum peak detection --------------------------------------------


@register(
    "ts_peak_detect",
    oracle="""
WITH agg0 AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2),
  b AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi FROM events),
  spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
            FROM b),
  grid AS (SELECT t.event_type, s.hour
           FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN spine s),
  series AS (
    SELECT g.event_type, g.hour, CAST(COALESCE(a.n, 0) AS BIGINT) AS x
    FROM grid g LEFT JOIN agg0 a ON g.event_type = a.event_type
                                AND g.hour = a.hour),
  m AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM series GROUP BY 1),
  nb AS (
    SELECT event_type, hour, x,
           lag(x) OVER w AS xl, lead(x) OVER w AS xr
    FROM series WINDOW w AS (PARTITION BY event_type ORDER BY hour))
SELECT nb.event_type, strftime(nb.hour, '%Y-%m-%d %H:%M:%S') AS hour, nb.x
FROM nb JOIN m ON m.event_type = nb.event_type
WHERE nb.xl IS NOT NULL AND nb.xr IS NOT NULL
  AND nb.xl < nb.x AND nb.x >= nb.xr
  AND nb.x > CAST(m.sx AS DOUBLE) / m.nd
             + sqrt((CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.nd)
                    / m.nd)
""",
    tags=("timeseries",),
)
def ts_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst/peak detection on the dense hourly series: an hour is a
    peak iff it strictly exceeds its left neighbor, is ≥ its right
    neighbor (the plateau-left-edge rule, so a flat-topped burst emits
    exactly one peak), and clears the per-type significance floor
    mean + 1σ — the alerting primitive behind `ts_alert_hysteresis`
    when what you want is the EVENTS, not the state machine. The
    neighbor tests are exact integer comparisons; the floor is one
    shared float expression from exact (n, Σx, Σx²); zero-filled hours
    participate so a spike after silence has a real left neighbor.
    Shape: one hourly aggregate, one per-type moments reduce broadcast
    back, one window pass — no corpus-scale shuffle beyond the
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").cast("long").alias("n"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    grid = ev.select("event_type").distinct().crossJoin(spine)
    series = (
        grid.join(agg, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n", F.lit(0)).cast("long").alias("x"),
        )
        # checkpoint-on-divergence: the dense series feeds BOTH the
        # per-type moments reduce and the neighbor window — without the
        # cut each consumer re-derives it (6 events scans, audited)
        .localCheckpoint(eager=False)
    )
    m = series.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    w = W.partitionBy("event_type").orderBy("hour")
    nb = series.select(
        "event_type",
        "hour",
        "x",
        F.lag("x").over(w).alias("xl"),
        F.lead("x").over(w).alias("xr"),
    )
    thr = F.col("sx").cast("double") / F.col("nd") + F.sqrt(
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / F.col("nd")
        )
        / F.col("nd")
    )
    return (
        nb.join(F.broadcast(m), "event_type")
        .filter(
            F.col("xl").isNotNull()
            & F.col("xr").isNotNull()
            & (F.col("xl") < F.col("x"))
            & (F.col("x") >= F.col("xr"))
            & (F.col("x") > thr)
        )
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "x",
        )
    )
