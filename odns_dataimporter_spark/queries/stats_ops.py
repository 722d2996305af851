"""Statistical-monitoring operators for a continuously-fed pipeline:
lag autocorrelation and truncated EWMA smoothing over dense hourly
series, a two-sample Kolmogorov-Smirnov drift test (the nonparametric
companion to `stats_psi_drift`), Welch's t-test across corpus sources,
MATCH_RECOGNIZE-style sequence-pattern counting over per-user event
journeys, and incremental aggregate maintenance (partial-state merge —
the 100 TB materialized-view refresh pattern).

The reference (`/root/reference/dataimporter.py`) has no analytics at
all; these are EXT operators on the north-star "complete pipeline"
surface. Every float emitted here is derived from exact integer
sufficient statistics with a single identical expression sequence on
both engines, so the value-hash oracle is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from odns_dataimporter_spark.queries._helpers import ts_str, ts_str_sql
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


def _dense_hourly_counts(ev: DataFrame) -> DataFrame:
    """Zero-filled (event_type, hour, x) grid over the table's full
    span — the shared spine for series ops (same shape as
    `ts_gapfill_locf`: one events-scale shuffle, spine built from a
    broadcast 1-row min/max aggregate)."""
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
    return (
        grid.join(agg, ["event_type", "hour"], "left")
        .select(
            "event_type", "hour", F.coalesce("n", F.lit(0)).cast("long").alias("x")
        )
    )


_DENSE_HOURLY_SQL = """
  agg AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2),
  b AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi FROM events),
  spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b),
  grid AS (SELECT t.event_type, s.hour
           FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN spine s),
  series AS (
    SELECT g.event_type, g.hour, CAST(COALESCE(a.n, 0) AS BIGINT) AS x
    FROM grid g LEFT JOIN agg a ON g.event_type = a.event_type AND g.hour = a.hour)
"""


@register(
    "ts_autocorr_lag",
    oracle=f"""
WITH {_DENSE_HOURLY_SQL},
pairs AS (
  SELECT event_type, x,
         lag(x) OVER (PARTITION BY event_type ORDER BY hour) AS y
  FROM series
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs WHERE y IS NOT NULL GROUP BY event_type
)
SELECT event_type, n,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) * 1e9) / 1e9
         AS acf1_q9
FROM s
WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
""",
    tags=("timeseries", "stats"),
)
def ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the hourly event-count series per
    event_type — the seasonality/burstiness probe over the dense
    (zero-filled) hourly spine, so silent hours count as 0 instead of
    being skipped (skipping them would splice non-adjacent hours into
    fake lag pairs).

    Determinism: counts are integers, so the six sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) are exact 64-bit sums (associative —
    partial-aggregation order cannot perturb them); Pearson r is then
    one identical float expression on both engines, floored at 1e-9.
    Scale shape: one events-scale shuffle (the hourly aggregate); the
    spine is broadcast-built from a 1-row bounds aggregate; the lag
    window and the final per-type rollup ride the same event_type
    partitioning. Degenerate (constant) series are excluded by an
    exact integer predicate on both engines."""
    ev = load_table(spark, sf_dir, "events")
    series = _dense_hourly_counts(ev)
    w = W.partitionBy("event_type").orderBy("hour")
    pairs = series.select(
        "event_type", "x", F.lag("x").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    s = pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = (n * sxy - sx * sy).cast("double")
    den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
        (n * syy - sy * sy).cast("double")
    )
    return s.filter(
        (n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0)
    ).select("event_type", "n", (F.floor((num / den) * 1e9) / 1e9).alias("acf1_q9"))


# Truncated EWMA: y_t = Σ_{j=0..15} 2^{-(j+1)} · x_{t-j}, i.e. α=1/2
# cut at 16 terms (the tail beyond 16 halvings is < 2^-16 of the
# signal). Dyadic weights make the numerator an exact integer:
# num_t = Σ_j 2^{15-j} · x_{t-j}, y_t = num_t / 2^16.
_EWMA_TERMS = 16


def _ewma_num_sql() -> str:
    terms = [
        f"lag(x, {j}) OVER w * {1 << (_EWMA_TERMS - 1 - j)}"
        for j in range(_EWMA_TERMS)
    ]
    return " + ".join(terms)


@register(
    "ts_ewma_dyadic",
    oracle=f"""
WITH {_DENSE_HOURLY_SQL},
num AS (
  SELECT event_type, hour, x,
         {_ewma_num_sql()} AS ewma_num,
         row_number() OVER w AS rn
  FROM series
  WINDOW w AS (PARTITION BY event_type ORDER BY hour)
)
SELECT event_type, {ts_str_sql("hour")} AS hour, x,
       CAST(ewma_num AS BIGINT) AS ewma_num,
       CAST(ewma_num AS DOUBLE) / {1 << _EWMA_TERMS} AS ewma
FROM num WHERE rn >= {_EWMA_TERMS}
""",
    tags=("timeseries",),
)
def ts_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the hourly event-count
    series (α = 1/2), truncated at 16 terms so the weights are dyadic
    rationals: the numerator Σ 2^(15-j)·x_(t-j) is an exact integer
    and the smoothed value is one float division by 2^16 — the EWMA
    recursion y_t = αx_t + (1-α)y_(t-1) made order-independent and
    bit-exact across engines (a recursive formulation would accumulate
    engine-specific float error and isn't expressible as a window
    aggregate anyway; the dropped tail is < 2^-16 of the mass).

    Scale shape: the 16 lag() calls share ONE window spec, so Spark
    evaluates them in a single pass over the same event_type exchange
    the spine aggregation already created; nothing rescans. Warm-up
    rows (fewer than 16 observed hours) are excluded on both engines
    by the same row_number predicate."""
    ev = load_table(spark, sf_dir, "events")
    series = _dense_hourly_counts(ev)
    w = W.partitionBy("event_type").orderBy("hour")
    num = None
    for j in range(_EWMA_TERMS):
        term = F.lag("x", j).over(w) * F.lit(1 << (_EWMA_TERMS - 1 - j))
        num = term if num is None else num + term
    out = series.select(
        "event_type",
        "hour",
        "x",
        num.alias("ewma_num"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") >= _EWMA_TERMS)
    return out.select(
        "event_type",
        ts_str("hour").alias("hour"),
        "x",
        F.col("ewma_num").cast("long").alias("ewma_num"),
        (F.col("ewma_num").cast("double") / F.lit(float(1 << _EWMA_TERMS))).alias(
            "ewma"
        ),
    )


@register(
    "stats_ks_drift",
    oracle="""
WITH b AS (
  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
),
v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN epoch_us(ts) <= mid THEN 1 ELSE 0 END AS early
  FROM events, b
),
c AS (
  SELECT event_type, cents,
         CAST(COUNT(CASE WHEN early = 1 THEN 1 END) AS BIGINT) AS a_cnt,
         CAST(COUNT(CASE WHEN early = 0 THEN 1 END) AS BIGINT) AS b_cnt
  FROM v GROUP BY 1, 2
),
cum AS (
  SELECT event_type,
         SUM(a_cnt) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(b_cnt) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         SUM(a_cnt) OVER (PARTITION BY event_type) AS na,
         SUM(b_cnt) OVER (PARTITION BY event_type) AS nb
  FROM c
)
SELECT event_type,
       CAST(MAX(na) AS BIGINT) AS n_early, CAST(MAX(nb) AS BIGINT) AS n_late,
       CAST(MAX(abs(ca * nb - cb * na)) AS BIGINT) AS d_num,
       CAST(MAX(abs(ca * nb - cb * na)) AS DOUBLE)
         / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)) AS ks_stat
FROM cum GROUP BY event_type
HAVING MAX(na) > 0 AND MAX(nb) > 0
""",
    tags=("timeseries", "stats"),
)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic on `value` per
    event_type between the early and late halves of the time range —
    the nonparametric drift detector that catches continuous-
    distribution shifts PSI's categorical binning smooths over (the
    two are complementary monitors for a continuously-fed pipeline).

    Exact arithmetic throughout: values are integer cents; the CDF gap
    at each distinct value is the cross-multiplied integer
    |ca·nb − cb·na| (max of integers is exact), and the statistic is
    ONE terminal division. Scale shape: one events-scale shuffle (the
    per-(type, cents) counts, map-side combined to the distinct-value
    domain); the cumulative and full-partition windows plus the final
    max ride that same event_type partitioning — no second exchange,
    no per-type totals join. The split midpoint is a broadcast 1-row
    aggregate folded into the plan (no driver pre-action)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr("(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) DIV 2").alias("mid")
    )
    v = ev.crossJoin(b).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.unix_micros("ts") <= F.col("mid"), 1).otherwise(0).alias("early"),
    )
    c = v.groupBy("event_type", "cents").agg(
        F.count(F.when(F.col("early") == 1, 1)).cast("long").alias("a_cnt"),
        F.count(F.when(F.col("early") == 0, 1)).cast("long").alias("b_cnt"),
    )
    w_cum = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("event_type")
    cum = c.select(
        "event_type",
        F.sum("a_cnt").over(w_cum).alias("ca"),
        F.sum("b_cnt").over(w_cum).alias("cb"),
        F.sum("a_cnt").over(w_all).alias("na"),
        F.sum("b_cnt").over(w_all).alias("nb"),
    )
    d = F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
    out = cum.groupBy("event_type").agg(
        F.max("na").cast("long").alias("n_early"),
        F.max("nb").cast("long").alias("n_late"),
        F.max(d).cast("long").alias("d_num"),
        # try_divide: this division runs INSIDE the aggregate, before
        # the n_early/n_late>0 filter below can drop one-sided groups —
        # a type entirely in one window would be an ANSI DIVIDE_BY_ZERO
        # here; DuckDB yields NULL and the filter then drops the row on
        # both engines (COVERAGE.md ANSI-division audit)
        F.try_divide(
            F.max(d).cast("double"),
            F.max("na").cast("double") * F.max("nb").cast("double"),
        ).alias("ks_stat"),
    )
    return out.filter((F.col("n_early") > 0) & (F.col("n_late") > 0))


@register(
    "stats_welch_ttest",
    oracle="""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS sx,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
  FROM documents GROUP BY source HAVING COUNT(*) >= 2
),
p AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.n AS n1, b.n AS n2,
         CAST(a.sx AS DOUBLE) / a.n AS m1, CAST(b.sx AS DOUBLE) / b.n AS m2,
         (a.sxx - CAST(a.sx AS DOUBLE) * a.sx / a.n) / (a.n - 1) AS v1,
         (b.sxx - CAST(b.sx AS DOUBLE) * b.sx / b.n) / (b.n - 1) AS v2
  FROM s a JOIN s b ON a.source < b.source
)
SELECT source_a, source_b, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       floor(((m1 - m2) / sqrt(v1 / n1 + v2 / n2)) * 1e9) / 1e9 AS t_q9,
       floor((
         (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
         / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))
       ) * 1e6) / 1e6 AS df_q6
FROM p WHERE v1 / n1 + v2 / n2 > 0
""",
    tags=("stats", "llm"),
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on document length (n_chars)
    between every pair of corpus sources — "does source X produce
    systematically longer documents than source Y?", the first
    question a data-mixing decision asks. Emits the t statistic and
    the Welch-Satterthwaite degrees of freedom per source pair.

    Scale shape: the corpus contributes ONE map-side-combined
    aggregate down to |sources| rows of integer sufficient statistics
    (n, Σx, Σx²); the pairwise join and all float math run on that
    tiny table. Determinism: identical expression sequences on exact
    integer inputs, floored at 1e-9 (t) / 1e-6 (df); single-document
    sources are excluded (variance undefined), zero-variance pairs by
    an exact predicate."""
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("sx"),
            F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sxx"),
        )
        .filter(F.col("n") >= 2)
    )
    a = s.alias("a")
    b = s.alias("b")
    p = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.n").alias("n1"),
        F.col("b.n").alias("n2"),
        (F.col("a.sx").cast("double") / F.col("a.n")).alias("m1"),
        (F.col("b.sx").cast("double") / F.col("b.n")).alias("m2"),
        (
            (F.col("a.sxx") - F.col("a.sx").cast("double") * F.col("a.sx") / F.col("a.n"))
            / (F.col("a.n") - 1)
        ).alias("v1"),
        (
            (F.col("b.sxx") - F.col("b.sx").cast("double") * F.col("b.sx") / F.col("b.n"))
            / (F.col("b.n") - 1)
        ).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    t = (F.col("m1") - F.col("m2")) / F.sqrt(se2)
    df = (se2 * se2) / (
        (F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1")) / (F.col("n1") - 1)
        + (F.col("v2") / F.col("n2")) * (F.col("v2") / F.col("n2")) / (F.col("n2") - 1)
    )
    return p.filter(se2 > 0).select(
        "source_a",
        "source_b",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        (F.floor(t * 1e9) / 1e9).alias("t_q9"),
        (F.floor(df * 1e6) / 1e6).alias("df_q6"),
    )


@register(
    "events_sequence_match",
    oracle="""
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(length(s) AS BIGINT) AS seq_len,
       CAST(length(regexp_extract_all(s, 'v+p')) AS BIGINT) AS n_view_purchase,
       CAST(length(regexp_extract_all(s, 'se')) AS BIGINT) AS n_signup_error,
       CASE WHEN regexp_matches(s, 'svp') THEN 1 ELSE 0 END AS has_svp
FROM seq
""",
    tags=("events", "etl"),
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern counting: each user's
    event journey (ordered by ts with event_id tiebreak) is folded to
    a string of event-type initials, and behavioral patterns become
    regular expressions over it — non-overlapping counts of
    "views then purchase" (v+p) and "signup immediately followed by
    error" (se), plus a signup→view→purchase contiguity flag. This is
    the Flink CEP / SQL MATCH_RECOGNIZE shape expressed as one
    aggregate + codegen'd regex, with none of the NFA machinery.

    Scale shape: ONE user_id shuffle; the per-user fold is a map-side-
    combinable collect of (ts, event_id, initial) structs sorted
    in-task (journeys are per-user bounded — the same assumption every
    sessionizer makes), then all regex work is per-row. Determinism:
    struct sort on (ts, event_id) is a total order; both regex engines
    use leftmost non-overlapping matching, identical for these
    alternation-free patterns."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda r: r["c"],
            ),
            "",
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("seq_len"),
        F.regexp_count("s", F.lit("v+p")).cast("long").alias("n_view_purchase"),
        F.regexp_count("s", F.lit("se")).cast("long").alias("n_signup_error"),
        F.when(F.col("s").rlike("svp"), 1).otherwise(0).alias("has_svp"),
    )


@register(
    "rollup_incremental",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_day,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_day
FROM orders GROUP BY o_orderstatus
""",
    tags=("etl",),
)
def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the per-status order rollup
    is computed as yesterday's materialized partial state (orders
    before 1999-01-01) MERGED with the delta's partial state (orders
    on/after), by re-aggregating the union of partial rows — sum of
    sums, count of counts, min of mins, max of maxes. The oracle
    recomputes from scratch, so the hash match PROVES merge ≡ full
    recompute — the algebraic property that lets a 100 TB pipeline
    refresh a materialized view by scanning only the new partition
    while the historical state stays a few rows per group. (Exact
    integer cents make the sum-merge associative; a float sum would
    only match to ulps.)

    Scale shape: each side is one map-side-combined aggregate over a
    date-pruned scan (the predicate reaches parquet row groups); the
    merge itself aggregates 2×|statuses| rows."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1999-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
            F.min("o_orderdate").alias("first_ts"),
            F.max("o_orderdate").alias("last_ts"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cut))
    delta = partial(orders.filter(F.col("o_orderdate") >= cut))
    merged = base.unionByName(delta).groupBy("o_orderstatus").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("total_cents").cast("long").alias("total_cents"),
        F.date_format(F.min("first_ts"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("last_ts"), "yyyy-MM-dd").alias("last_day"),
    )
    return merged


# Benford expected first-digit frequencies log10(1 + 1/d), precomputed
# once in Python and injected as identical double literals into BOTH
# engines — no runtime log10, so no libm-vs-JVM last-ulp risk.
_BENFORD = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


@register(
    "stats_benford_digits",
    oracle=f"""
WITH c AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_extendedprice > 0
), d AS (
  SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM c GROUP BY 1
), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM d)
SELECT digit, n, total,
       CAST(n AS DOUBLE) / total AS obs_freq,
       CAST(CASE digit {' '.join(f"WHEN '{k}' THEN {v!r}" for k, v in _BENFORD.items())} END
            AS DOUBLE) AS exp_freq,
       (CAST(n AS DOUBLE) / total) -
       CAST(CASE digit {' '.join(f"WHEN '{k}' THEN {v!r}" for k, v in _BENFORD.items())} END
            AS DOUBLE) AS deviation
FROM d, t
""",
    tags=("stats", "analytics"),
)
def stats_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of `l_extendedprice` — the
    classic fraud/data-quality screen for financial columns. The first
    significant digit comes from the exact integer-cents string (never
    from log10 of a double, whose floor can shift by an ulp at powers
    of ten); observed frequencies are one integer division and the
    expected frequencies are shared precomputed literals, so every
    float hashes identically. Shape: full scan → 9-group map-side-
    combined aggregate → 1-row total broadcast back; nothing here grows
    with data size except the first scan."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    d = (
        li.filter(F.col("l_extendedprice") > 0)
        .select(F.substring(cents.cast("string"), 1, 1).alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    t = d.agg(F.sum("n").cast("long").alias("total"))
    expr = None
    for k, v in _BENFORD.items():
        cond = F.col("digit") == str(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    obs = F.col("n").cast("double") / F.col("total")
    return (
        d.crossJoin(t)
        .select(
            "digit",
            "n",
            "total",
            obs.alias("obs_freq"),
            expr.alias("exp_freq"),
            (obs - expr).alias("deviation"),
        )
    )


@register(
    "stats_anova_oneway",
    oracle="""
WITH g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(n_chars) AS BIGINT) AS s_g,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS ss_g
  FROM documents GROUP BY source
), f AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(s_g) AS BIGINT) AS s,
         CAST(SUM(ss_g) AS BIGINT) AS ss,
         list_reduce(list(CAST(s_g AS DOUBLE) * s_g / n_g ORDER BY source),
                     (x, y) -> x + y) AS sum_sq_over_n
  FROM g
)
SELECT k, n,
       floor((sum_sq_over_n - CAST(s AS DOUBLE) * s / n) * 1e6) / 1e6 AS ssb_q6,
       floor((ss - sum_sq_over_n) * 1e6) / 1e6 AS ssw_q6,
       floor(((sum_sq_over_n - CAST(s AS DOUBLE) * s / n) / (k - 1))
             / ((ss - sum_sq_over_n) / (n - k)) * 1e6) / 1e6 AS f_stat_q6
FROM f
""",
    tags=("stats", "analytics"),
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of document length across corpus sources —
    the k-group companion to the pairwise `stats_welch_ttest`. Per-group
    sufficient statistics (n, Σx, Σx²) are exact int64 sums; the
    between/within decomposition needs Σ_g s_g²/n_g, whose float terms
    are folded in SOURCE ORDER on both engines (the `stats_chi_square`
    sorted-fold discipline) so the double accumulation is bit-identical.
    Shape: one corpus-scale map-side-combined aggregate to |sources|
    rows, then 1-row math."""
    docs = load_table(spark, sf_dir, "documents")
    x = F.col("n_chars")
    g = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(x).cast("long").alias("s_g"),
        F.sum(x * x).cast("long").alias("ss_g"),
    )
    term = F.struct(
        F.col("source").alias("src"),
        (F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")).alias("t"),
    )
    f = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("long").alias("ss"),
        F.aggregate(
            F.sort_array(F.collect_list(term)),
            F.lit(0.0),
            lambda acc, t: acc + t["t"],
        ).alias("sum_sq_over_n"),
    )
    ssb = F.col("sum_sq_over_n") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("ss") - F.col("sum_sq_over_n")
    # try_divide: k=1 (one source), n=k (singleton groups), and ssw=0
    # (constant within groups) are all legal degenerate inputs; DuckDB
    # returns NULL for each — mirror it instead of ANSI-crashing
    # (COVERAGE.md ANSI-division audit)
    fstat = F.try_divide(
        F.try_divide(ssb, (F.col("k") - 1).cast("double")),
        F.try_divide(ssw, (F.col("n") - F.col("k")).cast("double")),
    )
    return f.select(
        "k",
        "n",
        (F.floor(ssb * 1e6) / 1e6).alias("ssb_q6"),
        (F.floor(ssw * 1e6) / 1e6).alias("ssw_q6"),
        (F.floor(fstat * 1e6) / 1e6).alias("f_stat_q6"),
    )


@register(
    "ts_error_budget_burn",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_err,
         CAST(COUNT(*) AS BIGINT) AS n_tot
  FROM events GROUP BY 1
), r AS (
  SELECT hour, n_err, n_tot,
         CAST(SUM(n_err) OVER w6 AS BIGINT) AS err_6h,
         CAST(SUM(n_tot) OVER w6 AS BIGINT) AS tot_6h
  FROM h
  WINDOW w6 AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, n_err, n_tot, err_6h, tot_6h,
       floor(n_err * 1e8 / n_tot) / 1e6 AS burn_1h_q6,
       floor(err_6h * 1e8 / tot_6h) / 1e6 AS burn_6h_q6,
       (n_err * 1000 > 144 * n_tot AND err_6h * 1000 > 60 * tot_6h) AS page
FROM r
""",
    tags=("timeseries", "stats", "analytics"),
)
def ts_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget burn-rate alerting (the SRE-workbook
    page rule): hourly error rate over a 1% SLO budget, alongside the
    6-hour rolling rate; a page fires when the 1 h burn exceeds 14.4×
    AND the 6 h burn exceeds 6× budget. Burn rates are integer-derived
    (floor(n_err·1e8/n_tot)/1e6) and the page predicate is an integer
    cross-multiply — no float thresholds anywhere. Shape: events reduce
    to |hours| rows in one map-side-combined aggregate; the rolling
    window runs over that tiny series (≈9 k rows/year — the ordered
    window is free; at 100 TB the only full pass is the first
    aggregate)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count_if(F.col("event_type") == "error").cast("long").alias("n_err"),
        F.count("*").cast("long").alias("n_tot"),
    )
    w6 = W.orderBy("hour").rowsBetween(-5, W.currentRow)
    r = h.select(
        "hour",
        "n_err",
        "n_tot",
        F.sum("n_err").over(w6).cast("long").alias("err_6h"),
        F.sum("n_tot").over(w6).cast("long").alias("tot_6h"),
    )
    return r.select(
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n_err",
        "n_tot",
        "err_6h",
        "tot_6h",
        (F.floor(F.col("n_err") * 1e8 / F.col("n_tot")) / 1e6).alias("burn_1h_q6"),
        (F.floor(F.col("err_6h") * 1e8 / F.col("tot_6h")) / 1e6).alias("burn_6h_q6"),
        (
            (F.col("n_err") * 1000 > 144 * F.col("n_tot"))
            & (F.col("err_6h") * 1000 > 60 * F.col("tot_6h"))
        ).alias("page"),
    )


def _corr_pair_sql(a: str, b: str) -> str:
    """Pearson r from the named HUGEINT sufficient-stat columns, cast
    to DOUBLE late so both engines run the identical float sequence."""
    return (
        f"floor((CAST(n AS DOUBLE) * CAST(s_{a}{b} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        f" / (sqrt(CAST(n AS DOUBLE) * CAST(s_{a}{a} AS DOUBLE)"
        f"         - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        f"    * sqrt(CAST(n AS DOUBLE) * CAST(s_{b}{b} AS DOUBLE)"
        f"           - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        f" * 1e6) / 1e6"
    )


@register(
    "stats_corr_matrix",
    oracle=f"""
WITH m AS (
  SELECT l_quantity AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(round(l_discount * 10000) AS BIGINT) AS d
  FROM lineitem
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(q) AS s_q, SUM(p) AS s_p, SUM(d) AS s_d,
         SUM(q * q) AS s_qq, SUM(p * p) AS s_pp, SUM(d * d) AS s_dd,
         SUM(q * p) AS s_qp, SUM(q * d) AS s_qd, SUM(p * d) AS s_pd
  FROM m
)
SELECT 'quantity' AS measure_a, 'price' AS measure_b, n,
       {_corr_pair_sql('q', 'p')} AS corr_q6 FROM s
UNION ALL
SELECT 'quantity', 'discount', n, {_corr_pair_sql('q', 'd')} FROM s
UNION ALL
SELECT 'price', 'discount', n, {_corr_pair_sql('p', 'd')} FROM s
""",
    tags=("stats", "analytics"),
)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over three lineitem measures
    (quantity, price in exact cents, discount in basis points) from ONE
    pass: ten sufficient statistics in a single map-side-combined
    aggregate, then the three pairs unfold from that 1-row table with
    no further scan. Sums accumulate exactly — Spark in decimal(38,0),
    DuckDB in HUGEINT — and are cast to DOUBLE only inside the final
    identical float expression, so r hashes bit-for-bit. The int128
    headroom holds at 100 TB (Σcents² ≈ 1e13/row × 1e10 rows ≈ 1e23 ≪
    1e38); a plain int64 would overflow there, which is why the sums
    are NOT longs."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("d"),
    )
    dec = "decimal(38,0)"

    def S(expr):
        return F.sum(expr.cast(dec))

    c = {x: F.col(x) for x in ("q", "p", "d")}
    s = m.agg(
        F.count("*").cast("long").alias("n"),
        *[S(c[x]).alias(f"s_{x}") for x in ("q", "p", "d")],
        *[
            S(c[x] * c[y]).alias(f"s_{x}{y}")
            for x, y in ("qq", "pp", "dd", "qp", "qd", "pd")
        ],
    )

    def corr(a: str, b: str):
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        sab = F.col(f"s_{a}{b}").cast("double")
        saa, sbb = F.col(f"s_{a}{a}").cast("double"), F.col(f"s_{b}{b}").cast("double")
        num = n * sab - sa * sb
        den = F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)
        # try_divide: a zero-variance measure (e.g. a single-discount
        # table slice) makes den 0; DuckDB's identical expression
        # yields NULL (floor(NULL) is NULL on both engines) — mirror
        # it instead of ANSI-crashing (COVERAGE.md ANSI-division audit)
        return F.floor(F.try_divide(num, den) * 1e6) / 1e6

    names = {"q": "quantity", "p": "price", "d": "discount"}
    # one explode from the single aggregate row — a 3-branch union would
    # re-execute the aggregate (and the lineitem scan) per branch
    pairs = F.array(
        *[
            F.struct(
                F.lit(names[a]).alias("measure_a"),
                F.lit(names[b]).alias("measure_b"),
                corr(a, b).alias("corr_q6"),
            )
            for a, b in (("q", "p"), ("q", "d"), ("p", "d"))
        ]
    )
    return s.select(F.explode(pairs).alias("r"), "n").select(
        "r.measure_a", "r.measure_b", "n", "r.corr_q6"
    )


@register(
    "dq_freshness_lag",
    oracle="""
WITH t AS (
  SELECT event_type, max(ts) AS last_ts, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
), g AS (SELECT max(last_ts) AS global_max FROM t)
SELECT event_type, n,
       strftime(last_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
       epoch_us(global_max) - epoch_us(last_ts) AS lag_us,
       epoch_us(global_max) - epoch_us(last_ts) > 3600000000 AS stale_1h
FROM t, g
""",
    tags=("stats", "dq"),
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-arrival freshness monitor: each event stream's lag behind
    the newest record anywhere in the table, with a 1-hour staleness
    flag — the first thing an on-call checks when a pipeline partition
    silently stops. Exact integer-µs lags against a broadcast 1-row
    global max (the table's own high-water mark, so the check is
    self-contained and reproducible — no wall clock). One map-side-
    combined aggregate to |types| rows; nothing else scales."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count("*").cast("long").alias("n")
    )
    g = t.agg(F.max("last_ts").alias("global_max"))
    lag = F.unix_micros("global_max") - F.unix_micros("last_ts")
    return t.crossJoin(g).select(
        "event_type",
        "n",
        ts_str("last_ts").alias("last_ts"),
        lag.alias("lag_us"),
        (lag > 3_600_000_000).alias("stale_1h"),
    )


_DP_MAX_LAG = 24


def _acf_lag_sql() -> str:
    """Per-(type, k) sufficient-stat CTEs for lags 1..24 via one UNION
    of lag columns."""
    unions = "\n  UNION ALL\n".join(
        f"  SELECT event_type, {k} AS k, x, lag(x, {k}) OVER "
        "(PARTITION BY event_type ORDER BY hour) AS y FROM series"
        for k in range(1, _DP_MAX_LAG + 1)
    )
    return unions


@register(
    "ts_dominant_period",
    oracle=f"""
WITH {_DENSE_HOURLY_SQL},
lagged AS (
{_acf_lag_sql()}
),
s AS (
  SELECT event_type, k,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM lagged WHERE y IS NOT NULL GROUP BY event_type, k
), r AS (
  SELECT event_type, CAST(k AS BIGINT) AS k,
         floor((CAST(n * sxy - sx * sy AS DOUBLE)
                / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                   * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) * 1e9) / 1e9
           AS acf_q9
  FROM s WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
)
SELECT event_type, k AS best_lag, acf_q9 FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY acf_q9 DESC, k) AS rn
  FROM r) WHERE rn = 1
""",
    tags=("timeseries", "stats"),
)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-period detection: the lag k ∈ [1, 24] maximizing the
    autocorrelation of the dense hourly count series per event type —
    the cheap periodogram substitute that answers "is this series
    daily-seasonal?" (best_lag 24 ⇒ yes). Generalizes `ts_autocorr_lag`
    to a lag sweep: all 24 lag columns ride ONE event_type window pass
    (single exchange), the sufficient statistics are exact int64 sums
    per (type, lag), and the argmax is a |types|×24-row window. The
    quantized acf makes the argmax tie-break exact on both engines."""
    ev = load_table(spark, sf_dir, "events")
    series = _dense_hourly_counts(ev)
    w = W.partitionBy("event_type").orderBy("hour")
    lag_cols = [
        F.lag("x", k).over(w).alias(f"y{k}") for k in range(1, _DP_MAX_LAG + 1)
    ]
    wide = series.select("event_type", "x", *lag_cols)
    lagged = wide.select(
        "event_type",
        "x",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("k"), F.col(f"y{k}").alias("y"))
                    for k in range(1, _DP_MAX_LAG + 1)
                ]
            )
        ).alias("e"),
    ).select("event_type", F.col("e.k").alias("k"), "x", F.col("e.y").alias("y"))
    s = (
        lagged.filter(F.col("y").isNotNull())
        .groupBy("event_type", "k")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = (n * sxy - sx * sy).cast("double")
    den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
        (n * syy - sy * sy).cast("double")
    )
    r = s.filter((n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0)).select(
        "event_type",
        F.col("k").cast("long").alias("k"),
        (F.floor(num / den * 1e9) / 1e9).alias("acf_q9"),
    )
    wbest = W.partitionBy("event_type").orderBy(F.col("acf_q9").desc(), "k")
    return (
        r.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("k").alias("best_lag"), "acf_q9")
    )


# ---------------------------------------------------------------------------
# Deterministic bootstrap: resampling indices are a pure hash of
# (replicate, draw), so the "random" resample is reproducible across
# engines, runs, and task retries — the only way a bootstrap is
# oracle-checkable, and the right discipline on a cluster anyway
# (retried tasks must redraw identical samples).

_BS_B = 200  # bootstrap replicates
_BS_LO_RANK = 5  # 2.5th percentile of 200
_BS_HI_RANK = 196  # 97.5th percentile of 200


@register(
    "stats_bootstrap_ci",
    oracle=f"""
WITH c AS (SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM orders GROUP BY 1),
ix AS (SELECT cents, CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS idx
       FROM c),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS total
       FROM c),
bs AS (SELECT unnest(range(0, {_BS_B})) AS b),
di AS (SELECT b, unnest(range(0, (SELECT n FROM nn))) AS i FROM bs),
dr AS (SELECT b, CAST('0x' || substr(md5('bs|' || CAST(b AS VARCHAR) || '|'
                      || CAST(i AS VARCHAR)), 1, 8) AS BIGINT)
              % (SELECT n FROM nn) AS u
       FROM di),
rep AS (SELECT b, CAST(SUM(ix.cents) AS BIGINT) AS rep_cents
        FROM dr JOIN ix ON ix.idx = dr.u GROUP BY b),
rk AS (SELECT b, rep_cents, row_number() OVER (ORDER BY rep_cents, b) AS r
       FROM rep)
SELECT nn.n AS n_days,
       floor(nn.total * 1000000.0 / (nn.n * 100)) / 1000000.0 AS mean_q6,
       floor(lo.rep_cents * 1000000.0 / (nn.n * 100)) / 1000000.0 AS ci_lo_q6,
       floor(hi.rep_cents * 1000000.0 / (nn.n * 100)) / 1000000.0 AS ci_hi_q6
FROM nn,
     (SELECT rep_cents FROM rk WHERE r = {_BS_LO_RANK}) lo,
     (SELECT rep_cents FROM rk WHERE r = {_BS_HI_RANK}) hi
""",
    tags=("stats",),
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean daily revenue:
    200 replicates, each drawing n days with replacement where draw i
    of replicate b reads index md5('bs|b|i') % n — fully deterministic
    resampling (hash, not RNG), so both engines draw identical samples
    and the CI is value-hash-checkable. Shape: the day series reduces
    to n≈2.4k rows first; the replicate table is B·n hash rows joined
    back on the day index (equi join) and summed per replicate
    (map-side combined); the rank pick is a window over B rows. At
    100 TB only the first aggregation touches the data — the bootstrap
    itself runs on the reduced series, which is the textbook way to
    bootstrap at scale (resample the sufficient statistics, not the
    raw rows)."""
    o = load_table(spark, sf_dir, "orders")
    cents_col = F.round(F.col("o_totalprice") * 100).cast("long")
    c = (
        o.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(cents_col).cast("long").alias("cents"))
        # diverging consumers (ix, nn twice): checkpoint so the orders
        # scan + day reduction run once (was 5 orders scans, round-6
        # scan audit)
        .localCheckpoint(eager=False)
    )
    ix = c.select(
        "cents", (F.row_number().over(W.orderBy("day")) - 1).cast("long").alias("idx")
    )
    nn = c.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
    )
    di = (
        nn.select("n", F.explode(F.sequence(F.lit(0), F.lit(_BS_B - 1))).alias("b"))
        .select("n", "b", F.explode(F.expr("sequence(0, n - 1)")).alias("i"))
    )
    dr = di.select(
        "b",
        F.expr(
            "CAST(conv(substr(md5(concat('bs|', CAST(b AS STRING), '|', "
            "CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % n"
        ).alias("u"),
    )
    rep = (
        dr.join(ix, dr.u == ix.idx)
        .groupBy("b")
        .agg(F.sum("cents").cast("long").alias("rep_cents"))
    )
    rk = rep.select(
        "rep_cents",
        F.row_number().over(W.orderBy("rep_cents", "b")).alias("r"),
    )
    lo = rk.filter(F.col("r") == _BS_LO_RANK).select(
        F.col("rep_cents").alias("lo_cents")
    )
    hi = rk.filter(F.col("r") == _BS_HI_RANK).select(
        F.col("rep_cents").alias("hi_cents")
    )

    def q6(cents):
        return F.floor(cents * 1_000_000.0 / (F.col("n") * 100)) / 1_000_000.0

    return (
        nn.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.col("n").alias("n_days"),
            q6(F.col("total")).alias("mean_q6"),
            q6(F.col("lo_cents")).alias("ci_lo_q6"),
            q6(F.col("hi_cents")).alias("ci_hi_q6"),
        )
    )


@register(
    "stats_mann_whitney",
    oracle="""
WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  o_orderstatus AS g
           FROM orders WHERE o_orderstatus IN ('O', 'F')),
d AS (SELECT cents,
             CAST(COUNT(*) FILTER (WHERE g = 'O') AS BIGINT) AS c1,
             CAST(COUNT(*) FILTER (WHERE g = 'F') AS BIGINT) AS c2
      FROM v GROUP BY cents),
cu AS (SELECT cents, c1, c2, c1 + c2 AS ct,
              CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum
       FROM d),
agg AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c1 * (2 * cum + ct + 1)) AS BIGINT) AS r1_x2,
               CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tiesum
        FROM cu)
SELECT n1, n2,
       r1_x2 - n1 * (n1 + 1) AS u1_x2,
       floor((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * n2 AS DOUBLE))
             / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                 * (CAST(n1 + n2 + 1 AS DOUBLE)
                    - CAST(tiesum AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))))
             * 1000000.0) / 1000000.0 AS z_q6
FROM agg
""",
    tags=("stats",),
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing order totals
    between open ('O') and fulfilled ('F') orders — the nonparametric
    two-sample test that needs no normality assumption, completing the
    drift/test family beside Welch's t and KS. Exact tie handling with
    zero floats until the final z: per DISTINCT price the doubled
    average rank 2·cum + t + 1 is an integer, so 2R₁ and 2U₁ are exact
    int64 sums; the tie-corrected variance consumes Σ(t³−t) the same
    way. Shape: one groupBy on price cents (map-side combined), one
    window over the |distinct prices| stats table (range-partition it
    at 100 TB), one 1-row reduce."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F")
    )
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderstatus").alias("g"),
    )
    d = v.groupBy("cents").agg(
        F.count_if(F.col("g") == "O").cast("long").alias("c1"),
        F.count_if(F.col("g") == "F").cast("long").alias("c2"),
    )
    ct = F.col("c1") + F.col("c2")
    # size-tiered histogram prefix sum (r11, VERDICT r10 item 4) — see
    # stats_kruskal_wallis: identical int64 result, only the plan
    # moves past ~1M estimated base rows.
    from odns_dataimporter_spark.queries._helpers import scalable_prefix_sum
    from odns_dataimporter_spark.size_hints import derived_prefix_distributed

    if derived_prefix_distributed(sf_dir, "orders"):
        cu = scalable_prefix_sum(
            d.withColumn("ct", ct.cast("long")), ["cents"], "ct", out="cum"
        ).select(
            "c1", "c2", "ct", F.col("cum").cast("long").alias("cum")
        )
    else:
        w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
        cu = d.select(
            "c1",
            "c2",
            ct.alias("ct"),
            F.coalesce(F.sum(ct).over(w), F.lit(0)).cast("long").alias("cum"),
        )
    agg = cu.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cum") + F.col("ct") + 1))
        .cast("long")
        .alias("r1_x2"),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("long")
        .alias("tiesum"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1_x2 = F.col("r1_x2") - n1 * (n1 + 1)
    n = n1 + n2
    sig = F.sqrt(
        n1.cast("double")
        * n2.cast("double")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.col("tiesum").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    z = (u1_x2.cast("double") - (n1 * n2).cast("double")) / (2.0 * sig)
    return agg.select(
        "n1",
        "n2",
        u1_x2.cast("long").alias("u1_x2"),
        (F.floor(z * 1_000_000.0) / 1_000_000.0).alias("z_q6"),
    )


@register(
    "stats_mann_kendall",
    oracle="""
WITH c AS (SELECT date_trunc('day', o_orderdate) AS day,
                  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM orders GROUP BY 1),
s AS (SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
      FROM c a JOIN c b ON a.day < b.day),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
ties AS (SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tsum
         FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM c GROUP BY cents)
         WHERE t > 1)
SELECT nn.n AS n_days, s.s_stat,
       floor(CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
                  WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
                  ELSE 0.0 END
             / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tsum
                         AS DOUBLE) / 18.0)
             * 1000000.0) / 1000000.0 AS z_q6
FROM s, nn, ties
""",
    tags=("stats", "timeseries"),
)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily-revenue series: S = Σ
    sign(x_j − x_i) over day pairs i<j (exact int64), tie-corrected
    variance from Σ t(t−1)(2t+5) over equal-value groups, and the
    continuity-corrected z — the nonparametric significance companion
    to stats_theil_sen's slope (the pair: Theil-Sen says HOW steep,
    Mann-Kendall says WHETHER it's real). The pairwise stage runs on
    the REDUCED |days|-row series (the bootstrap_ci discipline: only
    the first aggregation touches raw data), so the |days|² comparison
    is a broadcast self-join of a tiny table — at 100 TB the series
    length grows with the time span, not the data volume."""
    o = load_table(spark, sf_dir, "orders")
    cents_col = F.round(F.col("o_totalprice") * 100).cast("long")
    c = (
        o.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum(cents_col).cast("long").alias("cents"))
        # four diverging consumers (pair sides a/b, n, tie counts):
        # checkpoint so the orders scan + day reduction run once
        # (round-6 scan audit; the projections differ per consumer, so
        # ReusedExchange does NOT dedupe these)
        .localCheckpoint(eager=False)
    )
    a = c.select(F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = c.select(F.col("day").alias("db"), F.col("cents").alias("cb"))
    sgn = (
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
    )
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    nn = c.agg(F.count("*").cast("long").alias("n"))
    ties = (
        c.groupBy("cents")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tsum")
        )
    )
    n = F.col("n")
    var = (n * (n - 1) * (2 * n + 5) - F.col("tsum")).cast("double") / 18.0
    zc = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double"))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double"))
        .otherwise(0.0)
    )
    return (
        s.crossJoin(nn)
        .crossJoin(ties)
        .select(
            n.alias("n_days"),
            "s_stat",
            # try_divide: var is 0 for a 0/1-day series (legal input);
            # DuckDB yields NULL for the z statistic there
            (F.floor(F.try_divide(zc, F.sqrt(var)) * 1_000_000.0) / 1_000_000.0).alias(
                "z_q6"
            ),
        )
    )


_FDR_Q = 0.05  # BH rejection level on the quantized adjusted p


@register(
    "stats_fdr_bh",
    oracle=f"""
WITH h AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, hod, obs,
         CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM h
),
z AS (
  SELECT event_type, hod, obs, m,
         (obs - tot / 24.0) * (obs - tot / 24.0) / (tot / 24.0) AS z2
  FROM t
),
r AS (
  SELECT event_type, hod, obs, m, z2,
         CAST(row_number() OVER (ORDER BY z2 DESC, event_type, hod)
              AS BIGINT) AS rk
  FROM z
),
a AS (
  SELECT event_type, hod, obs, z2,
         MIN(exp(-z2 / 2.0) * m / rk) OVER (
           ORDER BY rk DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adj
  FROM r
)
SELECT event_type, hod, obs,
       floor(z2 * 1000000.0) / 1000000.0 AS z2_q6,
       floor(least(adj, 1.0) * 1000000.0) / 1000000.0 AS p_adj_q6,
       floor(least(adj, 1.0) * 1000000.0) / 1000000.0 <= {_FDR_Q}
         AS reject_05
FROM a
""",
    tags=("stats", "events"),
)
def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the (event_type x hour-of-
    day) hypothesis grid — the multiple-testing step that belongs after
    every per-cell drift/anomaly scan (one χ²-style deviation test per
    cell against the uniform-across-hours null, then step-up adjusted
    p-values p̃ᵢ = min_{{j≥i}} pⱼ·m/j so downstream alerts hold the false
    discovery rate at q). The per-cell "p-value" is the Chernoff-style
    Gaussian tail bound exp(−z²/2) — monotone in the deviation, closed
    form on both engines (no incomplete-gamma in either SQL dialect),
    and documented as a bound, not a calibrated tail area; BH only
    needs the ORDER of the p's plus the m/j scaling, so the control
    structure is the real thing. Shape: ONE events-scale map-side-
    combined aggregate collapses to ≤ |types|·24 cells (bounded by
    construction); per-type totals and the global m ride windows over
    that tiny table; the step-up min is a cumulative window min walked
    from the worst rank (range-partition by rank block at a 100 TB
    hypothesis grid). z² is one double expression from exact integer
    counts; rejection compares the ALREADY-quantized p̃ to q so a 1-ulp
    exp() divergence can never flip the boolean."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(F.count("*").cast("long").alias("obs"))
    wt = W.partitionBy("event_type")
    wm = W.partitionBy()
    t = h.select(
        "event_type",
        "hod",
        "obs",
        F.sum("obs").over(wt).cast("long").alias("tot"),
        F.count(F.lit(1)).over(wm).cast("long").alias("m"),
    )
    exp_c = F.col("tot") / 24.0
    z = t.select(
        "event_type",
        "hod",
        "obs",
        "m",
        (
            (F.col("obs") - exp_c) * (F.col("obs") - exp_c) / exp_c
        ).alias("z2"),
    )
    r = z.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.desc("z2"), "event_type", "hod"))
        .cast("long")
        .alias("rk"),
    )
    wstep = W.orderBy(F.desc("rk")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    a = r.select(
        "event_type",
        "hod",
        "obs",
        "z2",
        F.min(F.exp(-F.col("z2") / 2.0) * F.col("m") / F.col("rk"))
        .over(wstep)
        .alias("adj"),
    )
    p_adj_q6 = F.floor(F.least(F.col("adj"), F.lit(1.0)) * 1_000_000.0) / 1_000_000.0
    return a.select(
        "event_type",
        "hod",
        "obs",
        (F.floor(F.col("z2") * 1_000_000.0) / 1_000_000.0).alias("z2_q6"),
        p_adj_q6.alias("p_adj_q6"),
        (p_adj_q6 <= _FDR_Q).alias("reject_05"),
    )


_RND_B = 200  # re-randomization draws
_RND_SALT = "perm|"
_RND_AB_SALT = "exp1|"  # the live assignment under test (growth_ops._AB_SALT)


@register(
    "stats_randomization_test",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN CAST('0x' || substr(md5('{_RND_AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100 < 50
              THEN 1 ELSE 0 END AS is_t,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
obs AS (
  SELECT CAST(floor(abs(
           CAST(SUM(CASE WHEN is_t = 1 THEN y ELSE 0 END) AS DOUBLE)
             / SUM(is_t)
           - CAST(SUM(CASE WHEN is_t = 0 THEN y ELSE 0 END) AS DOUBLE)
             / (COUNT(*) - SUM(is_t))) * 1000000.0) AS BIGINT) AS d_obs_micro,
         CAST(floor((
           CAST(SUM(CASE WHEN is_t = 1 THEN y ELSE 0 END) AS DOUBLE)
             / SUM(is_t)
           - CAST(SUM(CASE WHEN is_t = 0 THEN y ELSE 0 END) AS DOUBLE)
             / (COUNT(*) - SUM(is_t))) * 10000.0) AS BIGINT) AS diff_c4
  FROM u
),
draws AS (
  SELECT b.b, u.y,
         CASE WHEN CAST('0x' || substr(md5('{_RND_SALT}' || CAST(b.b AS VARCHAR)
                   || '|' || CAST(u.user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100 < 50
              THEN 1 ELSE 0 END AS is_t
  FROM u CROSS JOIN (SELECT unnest(range(0, {_RND_B})) AS b) b
),
dg AS (
  SELECT b,
         CAST(floor(abs(
           CAST(SUM(CASE WHEN is_t = 1 THEN y ELSE 0 END) AS DOUBLE)
             / SUM(is_t)
           - CAST(SUM(CASE WHEN is_t = 0 THEN y ELSE 0 END) AS DOUBLE)
             / (COUNT(*) - SUM(is_t))) * 1000000.0) AS BIGINT) AS d_micro
  FROM draws GROUP BY b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_draws,
       floor(CAST(obs.diff_c4 AS DOUBLE) / 10000.0 * 10000.0) / 10000.0
         AS diff_q4,
       CAST(SUM(CASE WHEN dg.d_micro >= obs.d_obs_micro THEN 1 ELSE 0 END)
            AS BIGINT) AS n_extreme,
       floor((1.0 + SUM(CASE WHEN dg.d_micro >= obs.d_obs_micro
                             THEN 1 ELSE 0 END))
             / (COUNT(*) + 1.0) * 1000000.0) / 1000000.0 AS p_q6
FROM dg CROSS JOIN obs GROUP BY obs.diff_c4, obs.d_obs_micro
""",
    tags=("stats", "events"),
)
def stats_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (re-randomization / approximate permutation) test
    for the live A/B assignment's revenue effect — the
    distribution-free inference that needs no normality or variance
    formula (Fisher's exact-test logic at scale): the observed
    |mean_t − mean_c| is compared against {200} deterministic
    re-randomizations of the SAME user-level outcomes (hash-seeded per
    draw, so every engine and every run reproduces the identical null
    ensemble), p = (1 + #extreme)/(B + 1). Shape: the corpus collapses
    ONCE to |users| rows; the draw ensemble is an explode of that
    reduced table (|users|·B rows through one map-side-combined
    per-draw aggregate — at 100 TB users this is the one deliberate
    fan-out, bounded by B, and each partition combines to B partial
    rows before the shuffle). Determinism: per-draw mean diffs are
    floor-quantized to integer micros BEFORE the ≥ comparison, so the
    extreme-count is an exact integer on both engines; try_divide
    guards single-arm degenerate draws (NULL diff on both engines,
    never counted as extreme)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    u = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", cents)), F.lit(0)
        )
        .cast("long")
        .alias("y"),
    ).withColumn(
        "is_t",
        F.when(
            F.expr(
                f"CAST(conv(substr(md5(concat('{_RND_AB_SALT}', CAST(user_id AS STRING))), 1, 8),"
                " 16, 10) AS BIGINT) % 100 < 50"
            ),
            1,
        ).otherwise(0),
    ).localCheckpoint(eager=False)

    def diff_expr():
        sy_t = F.sum(F.when(F.col("is_t") == 1, F.col("y")).otherwise(0)).cast(
            "double"
        )
        sy_c = F.sum(F.when(F.col("is_t") == 0, F.col("y")).otherwise(0)).cast(
            "double"
        )
        n_t = F.sum("is_t")
        n_c = F.count("*") - F.sum("is_t")
        return F.try_divide(sy_t, n_t) - F.try_divide(sy_c, n_c)

    obs = u.agg(
        F.floor(F.abs(diff_expr()) * 1_000_000.0)
        .cast("long")
        .alias("d_obs_micro"),
        F.floor(diff_expr() * 10_000.0).cast("long").alias("diff_c4"),
    )
    draws = u.select(
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_RND_B - 1))).alias("b"),
        "user_id",
    ).select(
        "b",
        "y",
        F.when(
            F.expr(
                f"CAST(conv(substr(md5(concat('{_RND_SALT}', CAST(b AS STRING),"
                " '|', CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
                " % 100 < 50"
            ),
            1,
        )
        .otherwise(0)
        .alias("is_t"),
    )
    dg = draws.groupBy("b").agg(
        F.floor(F.abs(diff_expr()) * 1_000_000.0)
        .cast("long")
        .alias("d_micro")
    )
    ext = F.sum(
        F.when(F.col("d_micro") >= F.col("d_obs_micro"), 1).otherwise(0)
    ).cast("long")
    return (
        dg.crossJoin(obs)
        .groupBy("diff_c4", "d_obs_micro")
        .agg(
            F.count("*").cast("long").alias("n_draws"),
            ext.alias("n_extreme"),
        )
        .select(
            "n_draws",
            (
                F.floor(F.col("diff_c4").cast("double") / 10_000.0 * 10_000.0)
                / 10_000.0
            ).alias("diff_q4"),
            "n_extreme",
            (
                F.floor(
                    (1.0 + F.col("n_extreme")) / (F.col("n_draws") + 1.0)
                    * 1_000_000.0
                )
                / 1_000_000.0
            ).alias("p_q6"),
        )
    )


@register(
    "stats_cvm_twosample",
    oracle="""
WITH b AS (
  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
),
v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN epoch_us(ts) <= mid THEN 1 ELSE 0 END AS early
  FROM events, b
),
c AS (
  SELECT event_type, cents,
         CAST(COUNT(CASE WHEN early = 1 THEN 1 END) AS BIGINT) AS a_cnt,
         CAST(COUNT(CASE WHEN early = 0 THEN 1 END) AS BIGINT) AS b_cnt
  FROM v GROUP BY 1, 2
),
cum AS (
  SELECT event_type, a_cnt, b_cnt,
         SUM(a_cnt) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS ca,
         SUM(b_cnt) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cb,
         SUM(a_cnt) OVER (PARTITION BY event_type) AS na,
         SUM(b_cnt) OVER (PARTITION BY event_type) AS nb
  FROM c
),
t AS (
  SELECT event_type, na, nb,
         CAST(floor((a_cnt + b_cnt)
              * ((CAST(ca AS DOUBLE) * nb - CAST(cb AS DOUBLE) * na)
                 / (CAST(na AS DOUBLE) * nb))
              * ((CAST(ca AS DOUBLE) * nb - CAST(cb AS DOUBLE) * na)
                 / (CAST(na AS DOUBLE) * nb))
              * 1000000000.0) AS BIGINT) AS term_nano
  FROM cum WHERE na > 0 AND nb > 0
)
SELECT event_type,
       CAST(MAX(na) AS BIGINT) AS n_early,
       CAST(MAX(nb) AS BIGINT) AS n_late,
       floor((CAST(MAX(na) AS DOUBLE) * MAX(nb)
              / ((MAX(na) + MAX(nb)) * CAST(MAX(na) + MAX(nb) AS DOUBLE)))
             * (CAST(SUM(term_nano) AS BIGINT) / 1000000000.0)
             * 1000000000.0) / 1000000000.0 AS cvm_q9,
       (CAST(MAX(na) AS DOUBLE) * MAX(nb)
          / ((MAX(na) + MAX(nb)) * CAST(MAX(na) + MAX(nb) AS DOUBLE)))
         * (CAST(SUM(term_nano) AS BIGINT) / 1000000000.0)
         > CAST(0.461 AS DOUBLE) AS reject_05
FROM t GROUP BY event_type
""",
    tags=("analytics", "stats"),
)
def stats_cvm_twosample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises drift statistic on `value` per
    event_type between the early and late time halves — the
    integrated-squared-CDF-gap companion to `stats_ks_drift` (KS sees
    only the MAX gap and is blind to broad small shifts; CvM weights
    every distinct value by its mass, the standard pairing in drift
    monitors): T = n·m/N² · Σ_x cnt(x)·(F1(x)−F2(x))², rejected at the
    0.461 asymptotic 5% critical value. Scale shape: identical to
    ks_drift — one events-scale map-side-combined shuffle to the
    (type, cents) domain, cumulative + full windows riding that same
    partitioning, no second exchange. Determinism: CDFs are ratios of
    exact int64 cumulative counts; each value's term is floor-quantized
    to int64 nanos BEFORE the cross-value sum (order-independent); the
    one-sided degenerate (a type entirely early/late) is filtered
    before the division on both engines."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr(
            "(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) DIV 2"
        ).alias("mid")
    )
    v = ev.crossJoin(b).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.unix_micros("ts") <= F.col("mid"), 1)
        .otherwise(0)
        .alias("early"),
    )
    c = v.groupBy("event_type", "cents").agg(
        F.count(F.when(F.col("early") == 1, 1)).cast("long").alias("a_cnt"),
        F.count(F.when(F.col("early") == 0, 1)).cast("long").alias("b_cnt"),
    )
    w_cum = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("event_type")
    cum = c.select(
        "event_type",
        "a_cnt",
        "b_cnt",
        F.sum("a_cnt").over(w_cum).alias("ca"),
        F.sum("b_cnt").over(w_cum).alias("cb"),
        F.sum("a_cnt").over(w_all).alias("na"),
        F.sum("b_cnt").over(w_all).alias("nb"),
    )
    gap = (
        F.col("ca").cast("double") * F.col("nb")
        - F.col("cb").cast("double") * F.col("na")
    ) / (F.col("na").cast("double") * F.col("nb"))
    t = cum.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        "event_type",
        "na",
        "nb",
        F.floor((F.col("a_cnt") + F.col("b_cnt")) * gap * gap * 1_000_000_000.0)
        .cast("long")
        .alias("term_nano"),
    )
    scale = (
        F.max("na").cast("double")
        * F.max("nb")
        / (
            (F.max("na") + F.max("nb"))
            * (F.max("na") + F.max("nb")).cast("double")
        )
    )
    stat = scale * (F.sum("term_nano").cast("long") / 1_000_000_000.0)
    return t.groupBy("event_type").agg(
        F.max("na").cast("long").alias("n_early"),
        F.max("nb").cast("long").alias("n_late"),
        (F.floor(stat * 1_000_000_000.0) / 1_000_000_000.0).alias("cvm_q9"),
        (stat > 0.461).alias("reject_05"),
    )


_SPR_VARS = ("qv", "dv", "tv", "pv")
_SPR_PAIRS = tuple(
    (a, b)
    for i, a in enumerate(_SPR_VARS)
    for b in _SPR_VARS[i + 1 :]
)


def _spr_oracle() -> str:
    mm = []
    for v in _SPR_VARS:
        mm.append(
            "mm_" + v + " AS (\n"
            "  SELECT val, CAST(2 * cum - 2 * c + c + 1 AS BIGINT) AS mr2\n"
            "  FROM (\n"
            "    SELECT " + v + " AS val, CAST(SUM(cnt) AS BIGINT) AS c,\n"
            "           CAST(SUM(SUM(cnt)) OVER (ORDER BY " + v + "\n"
            "                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT"
            " ROW) AS BIGINT) AS cum\n"
            "    FROM cells GROUP BY " + v + ")\n)"
        )
    u_cols = ",\n         ".join(
        "CAST(mm_" + v + ".mr2 AS DOUBLE) / (2.0 * tot.n) AS u_" + v
        for v in _SPR_VARS
    )
    u_joins = "\n  ".join(
        "JOIN mm_" + v + " ON mm_" + v + ".val = c." + v for v in _SPR_VARS
    )
    s_cols = []
    for v in _SPR_VARS:
        s_cols.append(
            "CAST(SUM(CAST(floor(cnt * u_" + v + " * 1000000.0) AS BIGINT))"
            " AS BIGINT) AS s_" + v
        )
        s_cols.append(
            "CAST(SUM(CAST(floor(cnt * u_" + v + " * u_" + v
            + " * 1000000.0) AS BIGINT)) AS BIGINT) AS ss_" + v
        )
    for a, b in _SPR_PAIRS:
        s_cols.append(
            "CAST(SUM(CAST(floor(cnt * u_" + a + " * u_" + b
            + " * 1000000.0) AS BIGINT)) AS BIGINT) AS sp_" + a + "_" + b
        )
    selects = []
    for a, b in _SPR_PAIRS:
        sa = "(CAST(s_" + a + " AS DOUBLE) / 1000000.0)"
        sb = "(CAST(s_" + b + " AS DOUBLE) / 1000000.0)"
        saa = "(CAST(ss_" + a + " AS DOUBLE) / 1000000.0)"
        sbb = "(CAST(ss_" + b + " AS DOUBLE) / 1000000.0)"
        sab = "(CAST(sp_" + a + "_" + b + " AS DOUBLE) / 1000000.0)"
        selects.append(
            "SELECT '" + a + "' AS var_a, '" + b + "' AS var_b,"
            " tot.n AS n,\n"
            "  floor((tot.n * " + sab + " - " + sa + " * " + sb + ")\n"
            "        / sqrt((tot.n * " + saa + " - " + sa + " * " + sa
            + ") * (tot.n * " + sbb + " - " + sb + " * " + sb + "))\n"
            "        * 1000000.0) / 1000000.0 AS rho_q6\n"
            "FROM s, tot"
        )
    return (
        """
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS qv,
         CAST(round(l_discount * 100) AS BIGINT) AS dv,
         CAST(round(l_tax * 100) AS BIGINT) AS tv,
         CAST(floor(l_extendedprice / 1000) AS BIGINT) AS pv,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2, 3, 4
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cells),
"""
        + ",\n".join(mm)
        + ",\nu AS (\n  SELECT c.cnt,\n         "
        + u_cols
        + "\n  FROM cells c, tot\n  "
        + u_joins
        + "\n),\ns AS (\n  SELECT\n    "
        + ",\n    ".join(s_cols)
        + "\n  FROM u\n)\n"
        + "\nUNION ALL\n".join(selects)
    )


@register(
    "stats_spearman_corr",
    oracle=_spr_oracle(),
    tags=("analytics", "stats"),
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank-correlation matrix (upper triangle, 6 pairs) over
    four lineitem measures — the ties-aware rank companion to the
    Pearson `stats_corr_matrix` (monotone-but-nonlinear dependence
    that Pearson underreports). The scale trick: NO global row sort —
    variables are discretized measures, so midranks come from each
    variable's distinct-VALUE histogram (mr2 = 2·cum_prev + cnt + 1,
    kept doubled for exactness), the joint distribution lives in a
    bounded (qty × disc × tax × price-bin) cell table built by ONE
    map-side-combined shuffle, and every Σrank·rank is a sum over
    cells, not rows. Ranks are normalized to u = mr2/2N and each
    cell's contribution floor-quantizes to int64 micros before the
    cross-cell sum (order-independent; also keeps 100 TB sums inside
    int64 where raw Σmr2² would overflow at ~1M rows). Broadcast
    midrank maps, one final Pearson-on-ranks formula per pair."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_quantity").cast("long").alias("qv"),
        F.round(F.col("l_discount") * 100).cast("long").alias("dv"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tv"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("pv"),
    ).agg(F.count("*").cast("long").alias("cnt"))
    cells = cells.localCheckpoint(eager=False)
    tot = cells.agg(F.sum("cnt").cast("long").alias("n"))
    u = cells.crossJoin(tot)
    for v in _SPR_VARS:
        marg = cells.groupBy(v).agg(F.sum("cnt").cast("long").alias("c"))
        wcum = (
            W.orderBy(v).rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        mm = marg.select(
            F.col(v).alias("val"),
            (
                2 * (F.sum("c").over(wcum).cast("long") - F.col("c"))
                + F.col("c")
                + 1
            )
            .cast("long")
            .alias(f"mr2_{v}"),
        )
        u = u.join(
            F.broadcast(mm), u[v] == mm["val"], "inner"
        ).drop("val")
    for v in _SPR_VARS:
        u = u.withColumn(
            f"u_{v}",
            F.col(f"mr2_{v}").cast("double") / (2.0 * F.col("n")),
        )
    aggs = []
    for v in _SPR_VARS:
        aggs.append(
            F.sum(
                F.floor(F.col("cnt") * F.col(f"u_{v}") * 1_000_000.0).cast(
                    "long"
                )
            )
            .cast("long")
            .alias(f"s_{v}")
        )
        aggs.append(
            F.sum(
                F.floor(
                    F.col("cnt")
                    * F.col(f"u_{v}")
                    * F.col(f"u_{v}")
                    * 1_000_000.0
                ).cast("long")
            )
            .cast("long")
            .alias(f"ss_{v}")
        )
    for a, b in _SPR_PAIRS:
        aggs.append(
            F.sum(
                F.floor(
                    F.col("cnt")
                    * F.col(f"u_{a}")
                    * F.col(f"u_{b}")
                    * 1_000_000.0
                ).cast("long")
            )
            .cast("long")
            .alias(f"sp_{a}_{b}")
        )
    s = u.groupBy().agg(*aggs).crossJoin(tot)

    def rho(a, b):
        n = F.col("n").cast("double")
        sa = F.col(f"s_{a}").cast("double") / 1_000_000.0
        sb = F.col(f"s_{b}").cast("double") / 1_000_000.0
        saa = F.col(f"ss_{a}").cast("double") / 1_000_000.0
        sbb = F.col(f"ss_{b}").cast("double") / 1_000_000.0
        sab = F.col(f"sp_{a}_{b}").cast("double") / 1_000_000.0
        return (n * sab - sa * sb) / F.sqrt(
            (n * saa - sa * sa) * (n * sbb - sb * sb)
        )

    parts = [
        s.select(
            F.lit(a).alias("var_a"),
            F.lit(b).alias("var_b"),
            F.col("n").alias("n"),
            (F.floor(rho(a, b) * 1_000_000.0) / 1_000_000.0).alias(
                "rho_q6"
            ),
        )
        for a, b in _SPR_PAIRS
    ]
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


_TUKEY_QCRIT = 3.858  # q(0.05, k=5 groups, df=inf), Tukey-Kramer


@register(
    "stats_tukey_hsd",
    oracle=f"""
WITH g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(floor(value * 1000.0) AS BIGINT)
                  * CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS ss
  FROM events GROUP BY event_type
),
p AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(floor((CAST(ss AS DOUBLE)
              - CAST(s AS DOUBLE) * s / n) * 1000.0) AS BIGINT))
           AS BIGINT) / 1000.0 AS ssw
  FROM g
)
SELECT a.event_type AS group_a, b.event_type AS group_b,
       a.n AS n_a, b.n AS n_b,
       floor((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             / 1000.0 * 1000000.0) / 1000000.0 AS mean_diff_q6,
       floor(abs(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             / sqrt(p.ssw / (p.nn - p.k) * 0.5
                    * (1.0 / a.n + 1.0 / b.n))
             * 1000000.0) / 1000000.0 AS q_stat_q6,
       abs(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
         / sqrt(p.ssw / (p.nn - p.k) * 0.5 * (1.0 / a.n + 1.0 / b.n))
         > CAST({_TUKEY_QCRIT} AS DOUBLE) AS significant_05
FROM g a JOIN g b ON a.event_type < b.event_type CROSS JOIN p
""",
    tags=("analytics", "stats"),
)
def stats_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer HSD post-hoc pairwise comparisons — the step AFTER
    `stats_anova_oneway` rejects: which event-type pairs actually
    differ in mean value, with the studentized-range statistic
    q = |x̄ᵢ−x̄ⱼ|/√(MSE/2·(1/nᵢ+1/nⱼ)) controlling the familywise error
    that naive pairwise t-tests inflate (the multiple-comparison
    discipline `stats_fdr_bh` applies to p-value lists, done here at
    the contrast level with the exact-for-equal-n studentized range).
    Scale shape: one map-side-combined moment aggregate; the pair
    enumeration is a self-join of the GROUP table (k(k−1)/2 rows for k
    types) with a 1-row pooled-variance broadcast — nothing
    corpus-sized moves twice at any scale. Determinism: group moments
    are exact int64 milli-sums; each group's within-SS floor-quantizes
    to int millis before pooling; the q expression enters once with an
    identical tree; the critical value is the fixed q(0.05, 5, ∞)."""
    ev = load_table(spark, sf_dir, "events")
    vm = F.floor(F.col("value") * 1000.0).cast("long")
    g = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(vm).cast("long").alias("s"),
        F.sum(vm * vm).cast("long").alias("ss"),
    )
    g = g.localCheckpoint(eager=False)
    p = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count("*").cast("long").alias("k"),
        (
            F.sum(
                F.floor(
                    (
                        F.col("ss").cast("double")
                        - F.col("s").cast("double") * F.col("s") / F.col("n")
                    )
                    * 1000.0
                ).cast("long")
            ).cast("long")
            / 1000.0
        ).alias("ssw"),
    )
    a = g.select(
        F.col("event_type").alias("group_a"),
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
    )
    b = g.select(
        F.col("event_type").alias("group_b"),
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
    )
    j = (
        a.join(b, F.col("group_a") < F.col("group_b"))
        .crossJoin(p)
    )
    diff = (
        F.col("s_a").cast("double") / F.col("n_a")
        - F.col("s_b").cast("double") / F.col("n_b")
    )
    se = F.sqrt(
        F.col("ssw")
        / (F.col("nn") - F.col("k"))
        * 0.5
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return j.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        (F.floor(diff / 1000.0 * 1_000_000.0) / 1_000_000.0).alias(
            "mean_diff_q6"
        ),
        (F.floor(F.abs(diff) / se * 1_000_000.0) / 1_000_000.0).alias(
            "q_stat_q6"
        ),
        (F.abs(diff) / se > _TUKEY_QCRIT).alias("significant_05"),
    )


@register(
    "stats_levene_variance",
    oracle="""
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT event_type, cents,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents)
              AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM v
),
med AS (
  SELECT event_type,
         CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT)
           AS med_cents
  FROM r GROUP BY event_type
),
z AS (
  SELECT v.event_type, abs(v.cents - m.med_cents) AS zd
  FROM v JOIN med m USING (event_type)
),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(zd) AS BIGINT) AS s,
         CAST(SUM(zd * zd) AS BIGINT) AS ss
  FROM z GROUP BY event_type
),
t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(s) AS BIGINT) AS st,
         CAST(SUM(CAST(floor((CAST(s AS DOUBLE) * s / n) * 1000.0)
                  AS BIGINT)) AS BIGINT) / 1000.0 AS sb_part,
         CAST(SUM(CAST(floor((CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * s / n) * 1000.0) AS BIGINT))
           AS BIGINT) / 1000.0 AS ssw
  FROM g
)
SELECT nn AS n_total, k AS n_groups,
       floor(((sb_part - CAST(st AS DOUBLE) * st / nn) / (k - 1))
             / (ssw / (nn - k)) * 1000000.0) / 1000000.0 AS w_stat_q6,
       ((sb_part - CAST(st AS DOUBLE) * st / nn) / (k - 1))
         / (ssw / (nn - k)) > CAST(2.37 AS DOUBLE) AS reject_05
FROM t
""",
    tags=("analytics", "stats"),
)
def stats_levene_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe/Levene test for homogeneity of variances across
    event types — the PRECONDITION check for `stats_anova_oneway` and
    `stats_tukey_hsd` (both assume equal group variances; this is the
    robust median-centered deviation ANOVA that validates it):
    W = [(N−k)/(k−1)]·Σnᵢ(z̄ᵢ−z̄)²/ΣΣ(z−z̄ᵢ)² over z = |x − median_g|,
    rejected at F(0.05, 4, ∞) ≈ 2.37. Scale shape: one per-type rank
    window for the exact median (cents domain), one join-back, one
    moment aggregate — the deviations' moments are exact int64 so the
    between/within sums quantize per group before pooling.
    Determinism: medians are exact order statistics (rn = (n+1)//2);
    per-group quadratic forms floor-quantize to int millis before the
    cross-group sums."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    wr = W.partitionBy("event_type").orderBy("cents")
    wa = W.partitionBy("event_type")
    r = v.select(
        "event_type",
        "cents",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count("*").over(wa).cast("long").alias("n"),
    )
    med = r.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 1) / 2),
                F.col("cents"),
            )
        )
        .cast("long")
        .alias("med_cents")
    )
    z = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("cents") - F.col("med_cents")).alias("zd"),
    )
    g = z.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("zd").cast("long").alias("s"),
        F.sum(F.col("zd") * F.col("zd")).cast("long").alias("ss"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count("*").cast("long").alias("k"),
        F.sum("s").cast("long").alias("st"),
        (
            F.sum(
                F.floor(
                    (F.col("s").cast("double") * F.col("s") / F.col("n"))
                    * 1000.0
                ).cast("long")
            ).cast("long")
            / 1000.0
        ).alias("sb_part"),
        (
            F.sum(
                F.floor(
                    (
                        F.col("ss").cast("double")
                        - F.col("s").cast("double") * F.col("s") / F.col("n")
                    )
                    * 1000.0
                ).cast("long")
            ).cast("long")
            / 1000.0
        ).alias("ssw"),
    )
    wstat = (
        (
            F.col("sb_part")
            - F.col("st").cast("double") * F.col("st") / F.col("nn")
        )
        / (F.col("k") - 1)
    ) / (F.col("ssw") / (F.col("nn") - F.col("k")))
    return t.select(
        F.col("nn").alias("n_total"),
        F.col("k").alias("n_groups"),
        (F.floor(wstat * 1_000_000.0) / 1_000_000.0).alias("w_stat_q6"),
        (wstat > 2.37).alias("reject_05"),
    )


# --- Ljung–Box white-noise test ---------------------------------------------

_LB_LAGS = 6
_LB_CHI2_95_6DF = 12.592  # chi-square 0.95 quantile, 6 df


def _lb_oracle() -> str:
    """Build the Ljung–Box oracle: 6 lag columns in ONE window pass,
    exact int64 sufficient statistics per lag (CASE WHEN inside SUM —
    FILTER would still evaluate the argument on excluded rows), then
    the Q statistic as a single fixed-order double expression."""
    lag_cols = ",\n         ".join(
        f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY hour) AS l{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    sums = []
    for k in range(1, _LB_LAGS + 1):
        sums.append(
            f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN x * l{k} ELSE 0 END) AS BIGINT) AS sxy{k},\n"
            f"         CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN x ELSE 0 END) AS BIGINT) AS sxk{k},\n"
            f"         CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN l{k} ELSE 0 END) AS BIGINT) AS syk{k},\n"
            f"         CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c{k}"
        )
    rho_terms = " + ".join(
        f"((sxy{k} - xb * sxk{k} - xb * syk{k} + c{k} * xb * xb) / css)"
        f" * ((sxy{k} - xb * sxk{k} - xb * syk{k} + c{k} * xb * xb) / css)"
        f" / (n - {k})"
        for k in range(1, _LB_LAGS + 1)
    )
    return f"""
WITH {_DENSE_HOURLY_SQL},
lagged AS (
  SELECT event_type, x,
         {lag_cols}
  FROM series
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         {",".join(sums)}
  FROM lagged GROUP BY event_type
),
d AS (
  SELECT *, CAST(sx AS DOUBLE) / n AS xb,
         sxx - CAST(sx AS DOUBLE) * sx / n AS css
  FROM s WHERE n * sxx - sx * sx > 0 AND n > {_LB_LAGS}
)
SELECT event_type, n,
       floor(n * (n + 2.0) * ({rho_terms}) * 1000000.0) / 1000000.0
         AS q_stat_q6,
       n * (n + 2.0) * ({rho_terms}) > CAST({_LB_CHI2_95_6DF} AS DOUBLE)
         AS reject_whitenoise_05
FROM d
"""


@register(
    "stats_ljung_box",
    oracle=_lb_oracle(),
    tags=("analytics", "stats", "timeseries"),
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test for white noise on the dense hourly
    event-count series per event type — "is this series autocorrelated
    at ALL in the first 6 lags?", the standard residual
    diagnostic after any of the engine's forecasters (Holt-Winters,
    Croston, STL): Q = n(n+2)·Σₖ ρ̂ₖ²/(n−k) ~ χ²(6), rejected above
    12.592. Scale shape: ONE events-scale shuffle builds the
    hourly counts; all 6 lag columns come from a single per-type window
    pass (one sort, 6 lag reads — not 6 windows); per-type sufficient
    statistics (Σxyₖ, Σx|ₖ, Σy|ₖ, cₖ per lag + n, Σx, Σx²) are exact
    int64, so Q is one identical fixed-order double expression on both
    engines, floored at 1e-6. Constant/short series excluded by exact
    integer predicates."""
    ev = load_table(spark, sf_dir, "events")
    series = _dense_hourly_counts(ev)
    w = W.partitionBy("event_type").orderBy("hour")
    lagged = series.select(
        "event_type",
        "x",
        *[F.lag("x", k).over(w).alias(f"l{k}") for k in range(1, _LB_LAGS + 1)],
    )
    aggs = [
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    ]
    for k in range(1, _LB_LAGS + 1):
        lk = F.col(f"l{k}")
        has = lk.isNotNull()
        aggs += [
            F.sum(F.when(has, F.col("x") * lk).otherwise(0)).cast("long").alias(f"sxy{k}"),
            F.sum(F.when(has, F.col("x")).otherwise(0)).cast("long").alias(f"sxk{k}"),
            F.sum(F.when(has, lk).otherwise(0)).cast("long").alias(f"syk{k}"),
            F.sum(F.when(has, 1).otherwise(0)).cast("long").alias(f"c{k}"),
        ]
    s = lagged.groupBy("event_type").agg(*aggs)
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    d = s.filter((n * sxx - sx * sx > 0) & (n > _LB_LAGS)).withColumns(
        {
            "xb": sx.cast("double") / n,
            "css": sxx - sx.cast("double") * sx / n,
        }
    )
    xb, css = F.col("xb"), F.col("css")
    q = F.lit(None).cast("double")
    terms = None
    for k in range(1, _LB_LAGS + 1):
        num = (
            F.col(f"sxy{k}")
            - xb * F.col(f"sxk{k}")
            - xb * F.col(f"syk{k}")
            + F.col(f"c{k}") * xb * xb
        )
        t = (num / css) * (num / css) / (n - k)
        terms = t if terms is None else terms + t
    q = n * (n + F.lit(2.0)) * terms
    return d.select(
        "event_type",
        "n",
        (F.floor(q * 1_000_000.0) / 1_000_000.0).alias("q_stat_q6"),
        (q > F.lit(_LB_CHI2_95_6DF).cast("double")).alias(
            "reject_whitenoise_05"
        ),
    )


# --- Wald–Wolfowitz runs test ------------------------------------------------

_DENSE_DAILY_SQL = """base AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events
),
grid AS (
  SELECT t.event_type, d.day
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM bounds) d
),
daily AS (
  SELECT g.event_type, g.day, CAST(COALESCE(b.n, 0) AS BIGINT) AS x
  FROM grid g LEFT JOIN base b
    ON g.event_type = b.event_type AND g.day = b.day)"""


def _dense_daily_counts(ev: DataFrame) -> DataFrame:
    """Zero-filled (event_type, day, x) grid — daily twin of
    `_dense_hourly_counts`, same broadcast-spine shape."""
    agg = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(spine)
    return grid.join(agg, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).cast("long").alias("x")
    )


@register(
    "stats_runs_test",
    oracle=f"""
WITH {_DENSE_DAILY_SQL},
diffs AS (
  SELECT event_type, day,
         x - lag(x) OVER (PARTITION BY event_type ORDER BY day) AS d
  FROM daily
),
signs AS (
  SELECT event_type, day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
  FROM diffs WHERE d IS NOT NULL AND d <> 0
),
seq AS (
  SELECT event_type, s,
         lag(s) OVER (PARTITION BY event_type ORDER BY day) AS sp
  FROM signs
),
agg AS (
  SELECT event_type,
         CAST(1 + SUM(CASE WHEN sp IS NOT NULL AND s <> sp THEN 1 ELSE 0 END)
           AS BIGINT) AS runs,
         CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down
  FROM seq GROUP BY event_type
)
SELECT event_type, runs, n_up, n_down,
       floor((runs - (2.0 * n_up * n_down / (n_up + n_down) + 1.0))
             / sqrt(2.0 * n_up * n_down
                    * (2.0 * n_up * n_down - n_up - n_down)
                    / ((CAST(n_up + n_down AS DOUBLE))
                       * (n_up + n_down) * (n_up + n_down - 1)))
             * 1000000.0) / 1000000.0 AS z_q6
FROM agg
WHERE n_up > 0 AND n_down > 0 AND 2 * n_up * n_down > n_up + n_down
""",
    tags=("analytics", "stats", "timeseries"),
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of the daily count
    series' up/down moves per event type — too FEW runs means trending,
    too MANY means oscillation; |z| < 2 is consistent with random order
    (the nonparametric companion to `stats_mann_kendall`'s trend
    direction). Mechanics: day-over-day sign sequence (zeros dropped,
    the standard convention), runs counted as 1 + sign changes via one
    lag window, then z = (R − μ)/σ with μ = 2n₊n₋/n + 1 and the exact
    Wald–Wolfowitz variance. Scale: one events-scale daily aggregate;
    everything after runs on the bounded (type × day) grid. R, n₊, n₋
    are exact int64; z is one identical double expression, floored at
    1e-6; degenerate sign mixes excluded by exact integer predicates."""
    ev = load_table(spark, sf_dir, "events")
    daily = _dense_daily_counts(ev)
    w = W.partitionBy("event_type").orderBy("day")
    diffs = daily.select(
        "event_type", "day", (F.col("x") - F.lag("x").over(w)).alias("d")
    ).filter(F.col("d").isNotNull() & (F.col("d") != 0))
    signs = diffs.select(
        "event_type",
        "day",
        F.when(F.col("d") > 0, 1).otherwise(-1).alias("s"),
    )
    seq = signs.select(
        "event_type", "s", F.lag("s").over(w).alias("sp")
    )
    agg = seq.groupBy("event_type").agg(
        (
            1
            + F.sum(
                F.when(
                    F.col("sp").isNotNull() & (F.col("s") != F.col("sp")), 1
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("runs"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("long").alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
    )
    nu, nd, r = F.col("n_up"), F.col("n_down"), F.col("runs")
    n = nu + nd
    mu = 2.0 * nu * nd / n + 1.0
    var = (
        2.0
        * nu
        * nd
        * (2.0 * nu * nd - nu - nd)
        / (n.cast("double") * n * (n - 1))
    )
    return agg.filter((nu > 0) & (nd > 0) & (2 * nu * nd > n)).select(
        "event_type",
        "runs",
        "n_up",
        "n_down",
        (F.floor((r - mu) / F.sqrt(var) * 1_000_000.0) / 1_000_000.0).alias(
            "z_q6"
        ),
    )


# --- Grubbs outlier test ------------------------------------------------------


@register(
    "stats_grubbs_test",
    oracle="""
WITH v AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sx,
         CAST(SUM(cents * cents) AS BIGINT) AS ss
  FROM v GROUP BY event_type
),
dev AS (
  SELECT v.event_type, v.event_id, abs(s.n * v.cents - s.sx) AS nd
  FROM v JOIN s USING (event_type)
),
arg AS (
  SELECT event_type,
         CAST(MAX(nd) AS BIGINT) AS max_nd,
         CAST(min([-nd, event_id])[2] AS BIGINT) AS outlier_event_id
  FROM dev GROUP BY event_type
)
SELECT s.event_type, s.n, a.outlier_event_id,
       floor(CAST(a.max_nd AS DOUBLE)
             / (s.n * sqrt((CAST(s.n AS DOUBLE) * s.ss - CAST(s.sx AS DOUBLE) * s.sx)
                           / (CAST(s.n AS DOUBLE) * (s.n - 1))))
             * 1000000.0) / 1000000.0 AS g_stat_q6
FROM s JOIN arg a USING (event_type)
WHERE s.n * s.ss - s.sx * s.sx > 0 AND s.n > 2
""",
    tags=("analytics", "stats"),
)
def stats_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs (extreme studentized deviate) test per event type:
    G = max|x − x̄|/s plus WHICH event is the extreme point — the
    single-outlier companion to `stats_mad_outliers`' robust sweep.
    Exactness trick: the argmax runs entirely in integers — comparing
    |x − x̄| across rows is equivalent to comparing |n·x − Σx| (both
    sides scaled by the same n), so the max deviation and its event id
    (min id on ties) come from an exact int64 min-struct argmax with NO
    float ordering anywhere; G is then one identical double expression
    from (max|n·x−Σx|, n, Σx, Σx²), floored at 1e-6. Scale: two
    map-side-combined aggregates over events + one broadcast join of
    the 5-row moment table; zero-variance groups excluded exactly."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    s = v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss"),
    )
    dev = v.join(F.broadcast(s), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("n") * F.col("cents") - F.col("sx")).alias("nd"),
    )
    arg = dev.groupBy("event_type").agg(
        F.max("nd").cast("long").alias("max_nd"),
        F.min(F.struct((-F.col("nd")).alias("k"), F.col("event_id").alias("i")))[
            "i"
        ]
        .cast("long")
        .alias("outlier_event_id"),
    )
    n, sx, ss = F.col("n"), F.col("sx"), F.col("ss")
    sdev = F.sqrt(
        (n.cast("double") * ss - sx.cast("double") * sx)
        / (n.cast("double") * (n - 1))
    )
    return (
        s.join(arg, "event_type")
        .filter((n * ss - sx * sx > 0) & (n > 2))
        .select(
            "event_type",
            "n",
            "outlier_event_id",
            (
                F.floor(F.col("max_nd").cast("double") / (n * sdev) * 1_000_000.0)
                / 1_000_000.0
            ).alias("g_stat_q6"),
        )
    )


# --- Page–Hinkley mean-shift detector ----------------------------------------

_PH_DELTA_MICROS = 500_000  # tolerance delta = 0.5 counts, in int micros
_PH_LAMBDA_MICROS = 5_000_000  # alarm threshold lambda = 5.0


@register(
    "stats_page_hinkley",
    oracle=f"""
WITH {_DENSE_DAILY_SQL},
r AS (
  SELECT event_type, day, x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
           AS BIGINT) AS t,
         CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY day)
           AS BIGINT) AS cs
  FROM daily
),
d AS (
  SELECT event_type, day,
         CAST(floor(x * 1000000.0 - CAST(cs AS DOUBLE) * 1000000.0 / t)
           AS BIGINT) - {_PH_DELTA_MICROS} AS dq
  FROM r
),
m AS (
  SELECT event_type, day,
         CAST(SUM(dq) OVER (PARTITION BY event_type ORDER BY day)
           AS BIGINT) AS mt
  FROM d
),
ph AS (
  SELECT event_type, day,
         mt - CAST(MIN(mt) OVER (PARTITION BY event_type ORDER BY day)
           AS BIGINT) AS ph_t
  FROM m
)
SELECT event_type,
       CAST(MAX(ph_t) AS BIGINT) / 1000000.0 AS ph_max_q6,
       MAX(ph_t) > {_PH_LAMBDA_MICROS} AS alarmed,
       CAST(MIN(CASE WHEN ph_t > {_PH_LAMBDA_MICROS} THEN day END) AS VARCHAR)
         AS first_alarm_day
FROM ph GROUP BY event_type
""",
    tags=("analytics", "stats", "timeseries"),
)
def stats_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley mean-shift detector over each event type's daily
    count series — the sequential drift monitor that fires when the
    cumulative deviation from the RUNNING mean exceeds λ (the online
    sibling of `ts_cusum_changepoint`, which tests against the fixed
    global mean): mₜ = Σᵢ≤ₜ(xᵢ − x̄ᵢ − δ), PHₜ = mₜ − minᵢ≤ₜ mᵢ, alarm
    when PHₜ > λ (δ=0.5, λ=5 counts). Exactness: the deviation is
    floor-quantized to int micros per row (x̄ᵢ = running int sum / int
    rank — one identical double division), so the running sum, running
    min, and alarm scan are EXACT integer windows with no float-order
    sensitivity. Scale: one events-scale daily aggregate; all four
    windows ride the same per-type partitioning over the bounded
    (type × day) grid."""
    ev = load_table(spark, sf_dir, "events")
    daily = _dense_daily_counts(ev)
    w = W.partitionBy("event_type").orderBy("day")
    r = daily.select(
        "event_type",
        "day",
        "x",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("x").over(w).cast("long").alias("cs"),
    )
    d = r.select(
        "event_type",
        "day",
        (
            F.floor(
                F.col("x") * 1_000_000.0
                - F.col("cs").cast("double") * 1_000_000.0 / F.col("t")
            ).cast("long")
            - _PH_DELTA_MICROS
        ).alias("dq"),
    )
    m = d.select(
        "event_type", "day", F.sum("dq").over(w).cast("long").alias("mt")
    )
    ph = m.select(
        "event_type",
        "day",
        (F.col("mt") - F.min("mt").over(w).cast("long")).alias("ph_t"),
    )
    return ph.groupBy("event_type").agg(
        (F.max("ph_t").cast("long") / 1_000_000.0).alias("ph_max_q6"),
        (F.max("ph_t") > _PH_LAMBDA_MICROS).alias("alarmed"),
        F.min(
            F.when(F.col("ph_t") > _PH_LAMBDA_MICROS, F.col("day"))
        )
        .cast("string")
        .alias("first_alarm_day"),
    )


# --- Kendall tau-b ------------------------------------------------------------

_KT_XBINS = 250  # value bins (4-unit wide, capped) — grid is bounded by design


@register(
    "stats_kendall_tau",
    oracle=f"""
WITH cells0 AS (
  SELECT event_type,
         LEAST(CAST(floor(value / 4.0) AS BIGINT), {_KT_XBINS - 1}) AS xb,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS yb,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
),
grid AS (
  SELECT g.event_type, g.xb, g.yb, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
  FROM (SELECT t.event_type, x.xb, y.yb
        FROM (SELECT DISTINCT event_type FROM events) t,
             (SELECT unnest(range(0, {_KT_XBINS})) AS xb) x,
             (SELECT unnest(range(0, 24)) AS yb) y) g
  LEFT JOIN cells0 c
    ON c.event_type = g.event_type AND c.xb = g.xb AND c.yb = g.yb
),
s1 AS (
  SELECT *,
    CAST(COALESCE(SUM(n) OVER (PARTITION BY event_type, xb ORDER BY yb DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS above,
    CAST(COALESCE(SUM(n) OVER (PARTITION BY event_type, xb ORDER BY yb ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
  FROM grid
),
s2 AS (
  SELECT *,
    CAST(COALESCE(SUM(above) OVER (PARTITION BY event_type, yb ORDER BY xb DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gt,
    CAST(COALESCE(SUM(below) OVER (PARTITION BY event_type, yb ORDER BY xb DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gl
  FROM s1
),
cd AS (
  SELECT event_type,
         CAST(SUM(n * gt) AS BIGINT) AS conc,
         CAST(SUM(n * gl) AS BIGINT) AS disc,
         CAST(SUM(n) AS BIGINT) AS nn
  FROM s2 GROUP BY event_type
),
tx AS (
  SELECT event_type, CAST(SUM(r * (r - 1) / 2) AS BIGINT) AS n1
  FROM (SELECT event_type, xb, CAST(SUM(n) AS BIGINT) AS r
        FROM grid GROUP BY 1, 2) m GROUP BY event_type
),
ty AS (
  SELECT event_type, CAST(SUM(r * (r - 1) / 2) AS BIGINT) AS n2
  FROM (SELECT event_type, yb, CAST(SUM(n) AS BIGINT) AS r
        FROM grid GROUP BY 1, 2) m GROUP BY event_type
)
SELECT c.event_type, c.nn AS n, c.conc AS concordant, c.disc AS discordant,
       floor((c.conc - c.disc)
             / sqrt(CAST(c.nn * (c.nn - 1) / 2 - t1.n1 AS DOUBLE)
                    * CAST(c.nn * (c.nn - 1) / 2 - t2.n2 AS DOUBLE))
             * 1000000.0) / 1000000.0 AS tau_b_q6
FROM cd c JOIN tx t1 USING (event_type) JOIN ty t2 USING (event_type)
WHERE c.nn * (c.nn - 1) / 2 > t1.n1 AND c.nn * (c.nn - 1) / 2 > t2.n2
""",
    tags=("analytics", "stats"),
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation (tau-b, tie-corrected) between event
    value and hour-of-day per event type — the third rank-correlation
    after Pearson (`stats_corr_matrix`) and Spearman
    (`stats_spearman_corr`), and the one whose naive definition is
    O(n²) pair counting. The scale mechanism makes it O(cells): values
    quantize onto a BOUNDED (250×24 per type) dense grid in one
    corpus shuffle, then concordant/discordant pair counts come from
    exact 2D suffix sums — two window passes (per-column suffix over
    hours, then per-row suffix over value bins of those partials), so
    C = Σ n·GT and D = Σ n·GL with every count an exact int64.
    Tie terms n₁/n₂ from the grid marginals; τ_b = (C−D)/√((n₀−n₁)(n₀−n₂))
    with the product taken in doubles (n₀ ~ n²/2 would overflow int64
    multiplied), floored at 1e-6. Degenerate all-tied axes excluded by
    exact integer predicates."""
    ev = load_table(spark, sf_dir, "events")
    cells0 = ev.groupBy(
        "event_type",
        F.least(
            F.floor(F.col("value") / 4.0).cast("long"), F.lit(_KT_XBINS - 1)
        ).alias("xb"),
        F.hour("ts").cast("long").alias("yb"),
    ).agg(F.count("*").cast("long").alias("n"))
    types = ev.select("event_type").distinct()
    spine = spark.range(_KT_XBINS).select(F.col("id").alias("xb")).crossJoin(
        spark.range(24).select(F.col("id").alias("yb"))
    )
    grid = (
        types.crossJoin(spine)
        .join(cells0, ["event_type", "xb", "yb"], "left")
        .select(
            "event_type",
            "xb",
            "yb",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
        # divergence point: the suffix-sum chain, tx, and ty all consume
        # the grid — checkpoint so events isn't re-scanned per consumer
        .localCheckpoint(eager=False)
    )
    w_up = (
        W.partitionBy("event_type", "xb")
        .orderBy(F.desc("yb"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_dn = (
        W.partitionBy("event_type", "xb")
        .orderBy(F.asc("yb"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    s1 = grid.select(
        "event_type",
        "xb",
        "yb",
        "n",
        F.coalesce(F.sum("n").over(w_up), F.lit(0)).cast("long").alias("above"),
        F.coalesce(F.sum("n").over(w_dn), F.lit(0)).cast("long").alias("below"),
    )
    w_gt = (
        W.partitionBy("event_type", "yb")
        .orderBy(F.desc("xb"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    s2 = s1.select(
        "event_type",
        "n",
        "xb",
        "yb",
        F.coalesce(F.sum("above").over(w_gt), F.lit(0)).cast("long").alias("gt"),
        F.coalesce(F.sum("below").over(w_gt), F.lit(0)).cast("long").alias("gl"),
    )
    cd = s2.groupBy("event_type").agg(
        F.sum(F.col("n") * F.col("gt")).cast("long").alias("conc"),
        F.sum(F.col("n") * F.col("gl")).cast("long").alias("disc"),
        F.sum("n").cast("long").alias("nn"),
    )
    tx = (
        grid.groupBy("event_type", "xb")
        .agg(F.sum("n").cast("long").alias("r"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("r") * (F.col("r") - 1) / 2).cast("long").alias("n1")
        )
    )
    ty = (
        grid.groupBy("event_type", "yb")
        .agg(F.sum("n").cast("long").alias("r"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("r") * (F.col("r") - 1) / 2).cast("long").alias("n2")
        )
    )
    j = cd.join(tx, "event_type").join(ty, "event_type")
    nn = F.col("nn")
    n0 = (nn * (nn - 1) / 2).cast("long")
    tau = (F.col("conc") - F.col("disc")) / F.sqrt(
        (n0 - F.col("n1")).cast("double") * (n0 - F.col("n2")).cast("double")
    )
    return j.filter((n0 > F.col("n1")) & (n0 > F.col("n2"))).select(
        "event_type",
        nn.alias("n"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        (F.floor(tau * 1_000_000.0) / 1_000_000.0).alias("tau_b_q6"),
    )


# --- Cramér's V ---------------------------------------------------------------


@register(
    "stats_cramers_v",
    oracle="""
WITH cells AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hb,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
rm AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
cm AS (SELECT hb, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
               CAST(COUNT(DISTINCT hb) AS BIGINT) AS nc
        FROM cells),
terms AS (
  SELECT CAST(SUM(CAST(floor(CAST(x.o AS DOUBLE) * CAST(x.o AS DOUBLE)
                             * CAST(t.n AS DOUBLE)
                             / (CAST(rm.r AS DOUBLE) * CAST(cm.c AS DOUBLE))
                             * 1000000.0) AS BIGINT)) AS BIGINT) AS s_micro
  FROM cells x JOIN rm USING (event_type) JOIN cm USING (hb) CROSS JOIN tot t
)
SELECT t.n, t.nr AS n_rows_dim, t.nc AS n_cols_dim,
       (t.nr - 1) * (t.nc - 1) AS dof,
       floor(CAST(terms.s_micro - t.n * 1000000 AS DOUBLE)) / 1000000.0 AS chi2_q6,
       floor(sqrt(CAST(terms.s_micro - t.n * 1000000 AS DOUBLE) / 1000000.0
                  / (CAST(t.n AS DOUBLE)
                     * CAST(LEAST(t.nr, t.nc) - 1 AS DOUBLE)))
             * 1000000.0) / 1000000.0 AS cramers_v_q6
FROM tot t CROSS JOIN terms
""",
    tags=("analytics", "stats"),
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event_type × hour-of-day
    contingency table — the "is this association real AND big"
    companion to `stats_chi_square` (significance says nothing about
    magnitude at 100 TB, where every test is significant). χ² uses the
    Σ o²/e − N identity so only OBSERVED cells are scanned (empty
    cells contribute nothing to Σ o²/e), and the per-cell rational
    term o²·N/(r·c) is floored to integer micro-units BEFORE the sum —
    int64 addition is associative, so the result is order-independent
    across partial-aggregation trees on both engines (the house
    per-cell-quantize discipline; bias < |cells|·1e-6). Shape: one
    corpus shuffle to ≤ |types|×24 cells, margin aggs over that tiny
    table, broadcast joins, 1-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.groupBy("event_type", F.hour("ts").cast("long").alias("hb"))
        .agg(F.count("*").cast("long").alias("o"))
        # feeds both margins, the totals, and the term sum
        .localCheckpoint(eager=False)
    )
    rm = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    cm = cells.groupBy("hb").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("nr"),
        F.countDistinct("hb").cast("long").alias("nc"),
    )
    terms = (
        cells.join(F.broadcast(rm), "event_type")
        .join(F.broadcast(cm), "hb")
        .crossJoin(tot)
        .agg(
            F.sum(
                F.floor(
                    F.col("o").cast("double")
                    * F.col("o").cast("double")
                    * F.col("n").cast("double")
                    / (F.col("r").cast("double") * F.col("c").cast("double"))
                    * 1_000_000.0
                ).cast("long")
            )
            .cast("long")
            .alias("s_micro")
        )
    )
    chi2_micro = (F.col("s_micro") - F.col("n") * 1_000_000).cast("double")
    return (
        tot.crossJoin(terms)
        .select(
            "n",
            F.col("nr").alias("n_rows_dim"),
            F.col("nc").alias("n_cols_dim"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
            (F.floor(chi2_micro) / 1_000_000.0).alias("chi2_q6"),
            (
                F.floor(
                    F.sqrt(
                        F.try_divide(
                            chi2_micro / 1_000_000.0,
                            F.col("n").cast("double")
                            * (F.least("nr", "nc") - 1).cast("double"),
                        )
                    )
                    * 1_000_000.0
                )
                / 1_000_000.0
            ).alias("cramers_v_q6"),
        )
    )


# --- Jarque-Bera normality test -------------------------------------------------

# Both engines evaluate the SAME moment-expression text on doubles built
# from exact int64 power sums, so the floats are bit-identical.
_JB_EXPRS = {
    "m": "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)",
    "m2": "CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - m * m",
    "m3": (
        "CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
        " - 3.0 * m * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
        " + 2.0 * m * m * m"
    ),
    "m4": (
        "CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
        " - 4.0 * m * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
        " + 6.0 * m * m * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
        " - 3.0 * m * m * m * m"
    ),
    "skew": "m3 / sqrt(m2 * m2 * m2)",
    "exkurt": "m4 / (m2 * m2) - 3.0",
    "jb": "CAST(n AS DOUBLE) / 6.0 * (skew * skew + exkurt * exkurt / 4.0)",
}


@register(
    "stats_jarque_bera",
    oracle=f"""
WITH q AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS x FROM events
),
s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2,
         CAST(SUM(x * x * x) AS BIGINT) AS s3,
         CAST(SUM(x * x * x * x) AS BIGINT) AS s4
  FROM q GROUP BY 1
),
d AS (SELECT *, {_JB_EXPRS['m']} AS m FROM s),
d2 AS (SELECT *, {_JB_EXPRS['m2']} AS m2 FROM d),
d3 AS (SELECT *, {_JB_EXPRS['m3']} AS m3, {_JB_EXPRS['m4']} AS m4 FROM d2),
d4 AS (SELECT *, {_JB_EXPRS['skew']} AS skew, {_JB_EXPRS['exkurt']} AS exkurt
       FROM d3 WHERE m2 > 0)
SELECT event_type, n,
       floor(skew * 1000000.0) / 1000000.0 AS skew_q6,
       floor(exkurt * 1000000.0) / 1000000.0 AS exkurt_q6,
       floor(({_JB_EXPRS['jb']}) * 1000000.0) / 1000000.0 AS jb_q6
FROM d4 ORDER BY event_type
""",
    tags=("analytics", "stats"),
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type — skewness, excess
    kurtosis, and the JB statistic n/6·(S² + K²/4), the distribution-
    shape monitor a feature pipeline runs next to `stats_ks_drift`
    (which needs a reference sample; JB needs none). Values quantize to
    unit bins (floor(value) — part of the statistic's definition here)
    so the four power sums Σx..Σx⁴ are exact int64 (x ≤ ~500 ⇒ x⁴ ≤
    6e10; 10⁸ rows/type stays under 9.2e18 — at 100 TB shard the s4 sum
    by a salt and re-sum). Central moments come from the power sums via
    the SAME expression text on both engines (module-level _JB_EXPRS),
    so every derived double is bit-identical. Shape: one map-side-
    combined groupBy to |types| rows; everything after is free."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_type", F.floor("value").cast("long").alias("x")
    )
    s = q.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).cast("long").alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x"))
        .cast("long")
        .alias("s4"),
    )
    d = (
        s.withColumn("m", F.expr(_JB_EXPRS["m"]))
        .withColumn("m2", F.expr(_JB_EXPRS["m2"]))
        .withColumn("m3", F.expr(_JB_EXPRS["m3"]))
        .withColumn("m4", F.expr(_JB_EXPRS["m4"]))
        .filter(F.col("m2") > 0)
        .withColumn("skew", F.expr(_JB_EXPRS["skew"]))
        .withColumn("exkurt", F.expr(_JB_EXPRS["exkurt"]))
    )
    return d.select(
        "event_type",
        "n",
        (F.floor(F.col("skew") * 1_000_000.0) / 1_000_000.0).alias("skew_q6"),
        (F.floor(F.col("exkurt") * 1_000_000.0) / 1_000_000.0).alias(
            "exkurt_q6"
        ),
        (F.floor(F.expr(_JB_EXPRS["jb"]) * 1_000_000.0) / 1_000_000.0).alias(
            "jb_q6"
        ),
    )


# --- AR(2) Yule-Walker fit ------------------------------------------------------

# One expression text, both engines => bit-identical doubles from exact
# int64 sufficient statistics (the _JB_EXPRS discipline).
_AR2_EXPRS = {
    "m": "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)",
    "c0": "CAST(sxy0 AS DOUBLE) / CAST(n0 AS DOUBLE) - m * m",
    "c1": "CAST(sxy1 AS DOUBLE) / CAST(n1 AS DOUBLE) - m * m",
    "c2": "CAST(sxy2 AS DOUBLE) / CAST(n2 AS DOUBLE) - m * m",
    "r1": "c1 / c0",
    "r2": "c2 / c0",
    "phi2": "(r2 - r1 * r1) / (1.0 - r1 * r1)",
    "phi1": "r1 * (1.0 - phi2)",
    "sigma2": "c0 * (1.0 - phi1 * r1 - phi2 * r2)",
}


@register(
    "ts_ar2_yule_walker",
    oracle=f"""
WITH {_DENSE_HOURLY_SQL},
lagged AS (
  SELECT event_type, x,
         lag(x, 1) OVER (PARTITION BY event_type ORDER BY hour) AS x1,
         lag(x, 2) OVER (PARTITION BY event_type ORDER BY hour) AS x2
  FROM series
),
suff AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n0, CAST(SUM(x * x) AS BIGINT) AS sxy0,
         CAST(COUNT(x1) AS BIGINT) AS n1, CAST(SUM(x * x1) AS BIGINT) AS sxy1,
         CAST(COUNT(x2) AS BIGINT) AS n2, CAST(SUM(x * x2) AS BIGINT) AS sxy2
  FROM lagged GROUP BY 1
),
d AS (SELECT *, {_AR2_EXPRS['m']} AS m FROM suff WHERE n2 > 0),
d2 AS (SELECT *, {_AR2_EXPRS['c0']} AS c0, {_AR2_EXPRS['c1']} AS c1,
              {_AR2_EXPRS['c2']} AS c2 FROM d),
d3 AS (SELECT *, {_AR2_EXPRS['r1']} AS r1, {_AR2_EXPRS['r2']} AS r2
       FROM d2 WHERE c0 > 0),
d4 AS (SELECT *, {_AR2_EXPRS['phi2']} AS phi2 FROM d3
       WHERE r1 * r1 <> 1.0),
d5 AS (SELECT *, {_AR2_EXPRS['phi1']} AS phi1 FROM d4)
SELECT event_type, n,
       floor(phi1 * 1000000.0) / 1000000.0 AS phi1_q6,
       floor(phi2 * 1000000.0) / 1000000.0 AS phi2_q6,
       floor(({_AR2_EXPRS['sigma2']}) * 1000000.0) / 1000000.0 AS sigma2_q6
FROM d5 ORDER BY event_type
""",
    tags=("analytics", "timeseries"),
)
def ts_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) autoregression fit per event type via Yule-Walker on the
    dense hourly count series — the parametric step past
    `ts_autocorr_lag` (which stops at the correlogram): solve the 2×2
    Toeplitz system for (φ₁, φ₂) by Cramer's rule (the order-2
    Durbin-Levinson closed form φ₂ = (r₂−r₁²)/(1−r₁²),
    φ₁ = r₁(1−φ₂)) and report the innovation variance
    σ² = c₀(1−φ₁r₁−φ₂r₂). Sufficient statistics are exact int64 lag
    products over the zero-filled grid (Σx·x₋₁, Σx·x₋₂ of integer
    counts); autocovariances use the full-series mean with per-lag pair
    counts (c_k = Σxx₋ₖ/n_k − m², the estimator definition here),
    derived through one shared expression text (_AR2_EXPRS) so every
    double matches bit-for-bit. Shape: one corpus shuffle to the
    bounded hourly grid, one lag window per type, |types|-row output.
    Degenerate guards are exact predicates (n₂>0, c₀>0, r₁²≠1)."""
    ev = load_table(spark, sf_dir, "events")
    series = _dense_hourly_counts(ev)
    w = W.partitionBy("event_type").orderBy("hour")
    lagged = series.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 2).over(w).alias("x2"),
    )
    suff = lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.count("*").cast("long").alias("n0"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxy0"),
        F.count("x1").cast("long").alias("n1"),
        F.sum(F.col("x") * F.col("x1")).cast("long").alias("sxy1"),
        F.count("x2").cast("long").alias("n2"),
        F.sum(F.col("x") * F.col("x2")).cast("long").alias("sxy2"),
    )
    d = (
        suff.filter(F.col("n2") > 0)
        .withColumn("m", F.expr(_AR2_EXPRS["m"]))
        .withColumn("c0", F.expr(_AR2_EXPRS["c0"]))
        .withColumn("c1", F.expr(_AR2_EXPRS["c1"]))
        .withColumn("c2", F.expr(_AR2_EXPRS["c2"]))
        .filter(F.col("c0") > 0)
        .withColumn("r1", F.expr(_AR2_EXPRS["r1"]))
        .withColumn("r2", F.expr(_AR2_EXPRS["r2"]))
        .filter(F.col("r1") * F.col("r1") != 1.0)
        .withColumn("phi2", F.expr(_AR2_EXPRS["phi2"]))
        .withColumn("phi1", F.expr(_AR2_EXPRS["phi1"]))
    )
    return d.select(
        "event_type",
        "n",
        (F.floor(F.col("phi1") * 1e6) / 1e6).alias("phi1_q6"),
        (F.floor(F.col("phi2") * 1e6) / 1e6).alias("phi2_q6"),
        (F.floor(F.expr(_AR2_EXPRS["sigma2"]) * 1e6) / 1e6).alias(
            "sigma2_q6"
        ),
    )


# --- Bollinger bands ------------------------------------------------------------

_BB_WIN = 24  # trailing window (hours)
_BB_K2 = 4  # band width factor squared (k = 2 sigma)


@register(
    "ts_bollinger_bands",
    oracle=f"""
WITH {_DENSE_HOURLY_SQL},
roll AS (
  SELECT event_type, hour, x,
         CAST(SUM(x) OVER tw AS BIGINT) AS s,
         CAST(SUM(x * x) OVER tw AS BIGINT) AS q,
         CAST(COUNT(*) OVER tw AS BIGINT) AS cnt
  FROM series
  WINDOW tw AS (PARTITION BY event_type ORDER BY hour
                ROWS BETWEEN {_BB_WIN - 1} PRECEDING AND CURRENT ROW)
),
full_w AS (
  SELECT *,
         {_BB_WIN} * x - s AS dev_n,
         {_BB_K2} * ({_BB_WIN} * q - s * s) AS band_n2
  FROM roll WHERE cnt = {_BB_WIN}
),
flags AS (
  SELECT event_type, hour,
         CASE WHEN dev_n > 0 AND dev_n * dev_n > band_n2 THEN 1 ELSE 0 END AS up,
         CASE WHEN dev_n < 0 AND dev_n * dev_n > band_n2 THEN 1 ELSE 0 END AS dn
  FROM full_w
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(up) AS BIGINT) AS n_upper_breach,
       CAST(SUM(dn) AS BIGINT) AS n_lower_breach,
       CAST(MAX(CASE WHEN up = 1 THEN hour END) AS VARCHAR) AS last_upper_hour,
       CAST(MAX(CASE WHEN dn = 1 THEN hour END) AS VARCHAR) AS last_lower_hour
FROM flags GROUP BY 1 ORDER BY 1
""",
    tags=("analytics", "timeseries"),
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach detection on the hourly count series — a
    trailing 24-hour mean ± 2σ envelope, the volatility-aware
    cousin of `ts_rolling_zscore`'s fixed-window z-score. The entire
    breach predicate is EXACT integer arithmetic via cross-
    multiplication: |x − S/n| > 2·√((nQ−S²)/n²)  ⇔  (n·x−S)² >
    4·(n·Q−S²), so no float ever enters the decision — both engines
    agree on every edge case including var = 0 (band collapses to the
    mean; any deviation breaches). int64 bounds: hourly counts up to
    ~1.2e8 keep (n·x−S)² under 2⁶³; past that switch the two products
    to DECIMAL(38). Shape: one corpus shuffle to the bounded hourly
    grid, one trailing window per type, |types|-row summary with last
    breach timestamps (rendered as strings, house rule)."""
    ev = load_table(spark, sf_dir, "events")
    series = _dense_hourly_counts(ev)
    tw = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-(_BB_WIN - 1), W.currentRow)
    )
    roll = series.select(
        "event_type",
        "hour",
        "x",
        F.sum("x").over(tw).cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(tw).cast("long").alias("q"),
        F.count("*").over(tw).cast("long").alias("cnt"),
    ).filter(F.col("cnt") == _BB_WIN)
    dev_n = F.lit(_BB_WIN) * F.col("x") - F.col("s")
    band_n2 = F.lit(_BB_K2) * (
        F.lit(_BB_WIN) * F.col("q") - F.col("s") * F.col("s")
    )
    flags = roll.select(
        "event_type",
        "hour",
        F.when((dev_n > 0) & (dev_n * dev_n > band_n2), 1)
        .otherwise(0)
        .alias("up"),
        F.when((dev_n < 0) & (dev_n * dev_n > band_n2), 1)
        .otherwise(0)
        .alias("dn"),
    )
    return (
        flags.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum("up").cast("long").alias("n_upper_breach"),
            F.sum("dn").cast("long").alias("n_lower_breach"),
            F.max(F.when(F.col("up") == 1, F.col("hour")))
            .cast("string")
            .alias("last_upper_hour"),
            F.max(F.when(F.col("dn") == 1, F.col("hour")))
            .cast("string")
            .alias("last_lower_hour"),
        )
    )


# --- Cliff's delta --------------------------------------------------------------

_CD_A = "purchase"  # group 1
_CD_B = "click"  # group 2


@register(
    "stats_cliffs_delta",
    oracle=f"""
WITH q AS (
  SELECT CAST(floor(value * 10.0) AS BIGINT) AS b,
         CASE WHEN event_type = '{_CD_A}' THEN 1 ELSE 0 END AS g1,
         CASE WHEN event_type = '{_CD_B}' THEN 1 ELSE 0 END AS g2
  FROM events WHERE event_type IN ('{_CD_A}', '{_CD_B}')
),
h AS (
  SELECT b, CAST(SUM(g1) AS BIGINT) AS n1, CAST(SUM(g2) AS BIGINT) AS n2
  FROM q GROUP BY 1
),
c AS (
  SELECT b, n1, n2,
         CAST(COALESCE(SUM(n1) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS c1b,
         CAST(COALESCE(SUM(n2) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS c2b
  FROM h
),
agg AS (
  SELECT CAST(SUM(n1) AS BIGINT) AS n1t, CAST(SUM(n2) AS BIGINT) AS n2t,
         CAST(SUM(n1 * c2b) AS BIGINT) AS gt,
         CAST(SUM(n2 * c1b) AS BIGINT) AS lt
  FROM c
)
SELECT n1t AS n_{_CD_A}, n2t AS n_{_CD_B}, gt AS n_greater, lt AS n_less,
       floor(CAST(gt - lt AS DOUBLE) / (CAST(n1t AS DOUBLE) * n2t)
             * 1000000.0) / 1000000.0 AS cliffs_delta_q6,
       CASE WHEN abs(floor(CAST(gt - lt AS DOUBLE)
                           / (CAST(n1t AS DOUBLE) * n2t) * 1000000.0))
                 < 147000 THEN 'negligible'
            WHEN abs(floor(CAST(gt - lt AS DOUBLE)
                           / (CAST(n1t AS DOUBLE) * n2t) * 1000000.0))
                 < 330000 THEN 'small'
            WHEN abs(floor(CAST(gt - lt AS DOUBLE)
                           / (CAST(n1t AS DOUBLE) * n2t) * 1000000.0))
                 < 474000 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM agg
""",
    tags=("analytics", "stats"),
)
def stats_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size between the 'purchase' and
    'click' value distributions — the nonparametric companion to
    `stats_mann_whitney` (same dominance counts, but reported as the
    normalized effect δ = (#(x>y) − #(x<y))/(n₁n₂) with Romano's
    magnitude labels, because at 100 TB the U test's p-value is always
    ~0 and only the effect size is informative). Values quantize to
    deci-unit bins (the statistic's definition here); dominance pairs
    come from the bounded-bin cumulative histogram — Σ n1(b)·C2(<b)
    and Σ n2(b)·C1(<b) are exact int64 with NO pair enumeration, one
    corpus shuffle to ≤|value domain|·10 bins, one ordered window over
    that bounded table, one 1-row reduce. Magnitude thresholds compare
    floor-micro integers, so the label is hash-stable."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_CD_A, _CD_B)
    )
    q = ev.select(
        F.floor(F.col("value") * 10.0).cast("long").alias("b"),
        F.when(F.col("event_type") == _CD_A, 1).otherwise(0).alias("g1"),
        F.when(F.col("event_type") == _CD_B, 1).otherwise(0).alias("g2"),
    )
    h = q.groupBy("b").agg(
        F.sum("g1").cast("long").alias("n1"),
        F.sum("g2").cast("long").alias("n2"),
    )
    wprev = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    c = h.select(
        "n1",
        "n2",
        F.coalesce(F.sum("n1").over(wprev), F.lit(0)).cast("long").alias("c1b"),
        F.coalesce(F.sum("n2").over(wprev), F.lit(0)).cast("long").alias("c2b"),
    )
    agg = c.agg(
        F.sum("n1").cast("long").alias("n1t"),
        F.sum("n2").cast("long").alias("n2t"),
        F.sum(F.col("n1") * F.col("c2b")).cast("long").alias("gt"),
        F.sum(F.col("n2") * F.col("c1b")).cast("long").alias("lt"),
    )
    delta = F.try_divide(
        (F.col("gt") - F.col("lt")).cast("double"),
        F.col("n1t").cast("double") * F.col("n2t"),
    )
    dmicro = F.abs(F.floor(delta * 1_000_000.0))
    return agg.select(
        F.col("n1t").alias(f"n_{_CD_A}"),
        F.col("n2t").alias(f"n_{_CD_B}"),
        F.col("gt").alias("n_greater"),
        F.col("lt").alias("n_less"),
        (F.floor(delta * 1_000_000.0) / 1_000_000.0).alias("cliffs_delta_q6"),
        F.when(dmicro < 147_000, "negligible")
        .when(dmicro < 330_000, "small")
        .when(dmicro < 474_000, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


# --- Hurst exponent (rescaled-range) ---------------------------------------------

_HURST_SIZES = (8, 16, 32, 64)  # dyadic block sizes (hours)


@register(
    "ts_hurst_exponent",
    oracle=f"""
WITH {_DENSE_HOURLY_SQL},
rn AS (
  SELECT event_type, x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY hour) - 1
              AS BIGINT) AS rn
  FROM series
),
m AS (SELECT CAST(unnest([{', '.join(str(s) for s in _HURST_SIZES)}]) AS BIGINT) AS m),
blk AS (
  SELECT r.event_type, m.m, r.x, r.rn // m.m AS b, r.rn % m.m + 1 AS t
  FROM rn r CROSS JOIN m
),
wz AS (
  SELECT *,
         CAST(SUM(x) OVER (PARTITION BY event_type, m, b ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(SUM(x) OVER (PARTITION BY event_type, m, b) AS BIGINT) AS s,
         CAST(SUM(x * x) OVER (PARTITION BY event_type, m, b) AS BIGINT) AS q,
         CAST(COUNT(*) OVER (PARTITION BY event_type, m, b) AS BIGINT) AS cnt
  FROM blk
),
bb AS (
  SELECT event_type, m, b,
         GREATEST(MAX(m * cum - t * s), 0)
           - LEAST(MIN(m * cum - t * s), 0) AS rng_m,
         MAX(m * q - s * s) AS s2_m
  FROM wz WHERE cnt = m
  GROUP BY 1, 2, 3
),
rs AS (
  SELECT event_type, m,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(floor(CAST(rng_m AS DOUBLE) / sqrt(CAST(s2_m AS DOUBLE))
                             * 1000000.0) AS BIGINT)) AS BIGINT) AS rs_micro
  FROM bb WHERE s2_m > 0 GROUP BY 1, 2
),
ys AS (
  SELECT event_type, m,
         ln(CAST(rs_micro AS DOUBLE) / (CAST(n_blocks AS DOUBLE) * 1000000.0))
           / ln(2.0) AS y
  FROM rs
),
pv AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sizes,
         MAX(CASE WHEN m = 8 THEN y END) AS y8,
         MAX(CASE WHEN m = 16 THEN y END) AS y16,
         MAX(CASE WHEN m = 32 THEN y END) AS y32,
         MAX(CASE WHEN m = 64 THEN y END) AS y64
  FROM ys GROUP BY 1 HAVING COUNT(*) = {len(_HURST_SIZES)}
),
fit AS (
  SELECT event_type, n_sizes,
         (-3.0 * y8 - y16 + y32 + 3.0 * y64) / 10.0 AS hurst
  FROM pv
)
SELECT event_type, n_sizes,
       floor(hurst * 1000000.0) / 1000000.0 AS hurst_q6
FROM fit ORDER BY event_type
""",
    tags=("analytics", "timeseries"),
)
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per event type via classical rescaled-range (R/S)
    analysis over dyadic block sizes (8, 16, 32, 64) hours — the
    long-range-dependence probe (H≈0.5 random walk, H>0.5 persistent/
    trending, H<0.5 mean-reverting) that tells a capacity planner
    whether hourly load has memory. Exactness ladder: within each
    block, the cumulative deviation scaled by m is m·cum_t − t·S — an
    EXACT int64 (no mean subtraction in floats), so the range R·m and
    the scaled variance m·Q − S² are exact integers; each block
    contributes floor(R·m/√(mQ−S²)·1e6) — one double op per block,
    floored to micro-units so the cross-block sum is order-free int64
    (per-cell-quantize discipline). The log₂ regression over the four
    sizes is a 4-point OLS in identical expression text. Shape: the
    bounded hourly grid × 4 block sizes, keyed windows, two small aggs
    — the corpus is touched once."""
    ev = load_table(spark, sf_dir, "events")
    series = _dense_hourly_counts(ev)
    rn = series.select(
        "event_type",
        "x",
        (
            F.row_number().over(
                W.partitionBy("event_type").orderBy("hour")
            )
            - 1
        )
        .cast("long")
        .alias("rn"),
    )
    msz = spark.createDataFrame(
        [(int(s),) for s in _HURST_SIZES], "m long"
    )
    blk = rn.crossJoin(F.broadcast(msz)).select(
        "event_type",
        "m",
        "x",
        (F.col("rn") / F.col("m")).cast("long").alias("b"),
        (F.col("rn") % F.col("m") + 1).alias("t"),
    )
    wcum = (
        W.partitionBy("event_type", "m", "b")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("event_type", "m", "b").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    wz = blk.select(
        "event_type",
        "m",
        "b",
        "t",
        F.sum("x").over(wcum).cast("long").alias("cum"),
        F.sum("x").over(wall).cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(wall).cast("long").alias("q"),
        F.count("*").over(wall).cast("long").alias("cnt"),
    ).filter(F.col("cnt") == F.col("m"))
    z = F.col("m") * F.col("cum") - F.col("t") * F.col("s")
    bb = wz.groupBy("event_type", "m", "b").agg(
        (
            F.greatest(F.max(z), F.lit(0).cast("long"))
            - F.least(F.min(z), F.lit(0).cast("long"))
        ).alias("rng_m"),
        F.max(F.col("m") * F.col("q") - F.col("s") * F.col("s")).alias("s2_m"),
    )
    rs = (
        bb.filter(F.col("s2_m") > 0)
        .groupBy("event_type", "m")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum(
                F.floor(
                    F.col("rng_m").cast("double")
                    / F.sqrt(F.col("s2_m").cast("double"))
                    * 1_000_000.0
                ).cast("long")
            )
            .cast("long")
            .alias("rs_micro"),
        )
    )
    # order-free 4-point fit: pivot the sizes to columns with MAX (each
    # (type, m) appears once), then the slope is ONE closed-form
    # expression with integer coefficients — no float aggregation whose
    # accumulation order could differ between engines
    ys = rs.select(
        "event_type",
        "m",
        (
            F.log(
                F.col("rs_micro").cast("double")
                / (F.col("n_blocks").cast("double") * 1_000_000.0)
            )
            / F.log(F.lit(2.0))
        ).alias("y"),
    )
    pv = (
        ys.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_sizes"),
            F.max(F.when(F.col("m") == 8, F.col("y"))).alias("y8"),
            F.max(F.when(F.col("m") == 16, F.col("y"))).alias("y16"),
            F.max(F.when(F.col("m") == 32, F.col("y"))).alias("y32"),
            F.max(F.when(F.col("m") == 64, F.col("y"))).alias("y64"),
        )
        .filter(F.col("n_sizes") == len(_HURST_SIZES))
    )
    fit = pv.select(
        "event_type",
        "n_sizes",
        (
            (
                -3.0 * F.col("y8")
                - F.col("y16")
                + F.col("y32")
                + 3.0 * F.col("y64")
            )
            / 10.0
        ).alias("hurst"),
    )
    return fit.select(
        "event_type",
        "n_sizes",
        (F.floor(F.col("hurst") * 1_000_000.0) / 1_000_000.0).alias("hurst_q6"),
    )


# --- normal Q-Q deciles ---------------------------------------------------------

# standard-normal decile quantiles (Φ⁻¹(p)); literals shared verbatim
# by both engines so the theoretical axis is bit-identical
_QQ_Z = {
    10: "-1.2815515655446008",
    20: "-0.8416212335729142",
    30: "-0.5244005127080407",
    40: "-0.2533471031357998",
    50: "0.0",
    60: "0.2533471031357998",
    70: "0.5244005127080407",
    80: "0.8416212335729144",
    90: "1.2815515655446008",
}

_QQ_MOM = {
    "mu": "CAST(s1 AS DOUBLE) / (10.0 * CAST(n AS BIGINT))",
    "sd": (
        "sqrt(CAST(s2 AS DOUBLE) / (100.0 * CAST(n AS BIGINT))"
        " - (CAST(s1 AS DOUBLE) / (10.0 * CAST(n AS BIGINT)))"
        " * (CAST(s1 AS DOUBLE) / (10.0 * CAST(n AS BIGINT))))"
    ),
}


@register(
    "stats_qq_normal",
    oracle=f"""
WITH q AS (
  SELECT event_type, CAST(floor(value * 10.0) AS BIGINT) AS b FROM events
),
h AS (
  SELECT event_type, b, CAST(COUNT(*) AS BIGINT) AS c FROM q GROUP BY 1, 2
),
cw AS (
  SELECT event_type, b, c,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM h
),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(b) AS BIGINT) AS s1, CAST(SUM(b * b) AS BIGINT) AS s2
  FROM q GROUP BY 1
),
ps AS (SELECT CAST(unnest(range(10, 100, 10)) AS BIGINT) AS p),
emp AS (
  SELECT cw.event_type, ps.p, MIN(cw.b) AS qb
  FROM cw CROSS JOIN ps
  WHERE cw.cum * 100 >= ps.p * cw.n
  GROUP BY 1, 2
)
SELECT e.event_type, e.p,
       CAST(e.qb AS DOUBLE) / 10.0 AS emp_q,
       floor((({_QQ_MOM['mu']}) + (CASE e.p
              {' '.join(f"WHEN {p} THEN {z}" for p, z in _QQ_Z.items())}
              END) * ({_QQ_MOM['sd']})) * 1000000.0) / 1000000.0 AS theo_q6,
       floor((CAST(e.qb AS DOUBLE) / 10.0
              - (({_QQ_MOM['mu']}) + (CASE e.p
                 {' '.join(f"WHEN {p} THEN {z}" for p, z in _QQ_Z.items())}
                 END) * ({_QQ_MOM['sd']}))) * 1000000.0) / 1000000.0 AS gap_q6
FROM emp e JOIN mom USING (event_type)
ORDER BY event_type, p
""",
    tags=("analytics", "stats"),
)
def stats_qq_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normal Q-Q decile table per event type — empirical deciles
    (EXACT order statistics: smallest deci-unit bin whose cumulative
    count reaches ⌈p·n⌉, via the cross-multiplied integer predicate
    cum·100 ≥ p·n) against the fitted-normal deciles μ + z_p·σ, where
    the z_p literals are shared verbatim between engines and μ/σ come
    from exact integer moment sums through one shared expression text.
    The per-decile gap column is the distribution-shape diagnostic that
    `stats_jarque_bera` summarizes into one number — this op shows
    WHERE the tails depart. Shape: one histogram shuffle to the
    bounded deci-unit bin table, one cumulative window per type, a
    9-row broadcast decile spine, one moment aggregate; corpus scanned
    twice at most (hist + moments; both map-side combined)."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_type", F.floor(F.col("value") * 10.0).cast("long").alias("b")
    ).localCheckpoint(eager=False)  # feeds histogram AND moment agg
    h = q.groupBy("event_type", "b").agg(F.count("*").cast("long").alias("c"))
    wcum = (
        W.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("event_type").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cw = h.select(
        "event_type",
        "b",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    mom = q.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("b").cast("long").alias("s1"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("s2"),
    )
    ps = spark.createDataFrame([(p,) for p in range(10, 100, 10)], "p long")
    emp = (
        cw.crossJoin(F.broadcast(ps))
        .filter(F.col("cum") * 100 >= F.col("p") * F.col("n"))
        .groupBy("event_type", "p")
        .agg(F.min("b").alias("qb"))
    )
    zcase = "CASE p " + " ".join(
        f"WHEN {p} THEN CAST({z} AS DOUBLE)" for p, z in _QQ_Z.items()
    ) + " END"
    j = emp.join(mom, "event_type").withColumn("z", F.expr(zcase))
    mu = F.expr(_QQ_MOM["mu"])
    sd = F.expr(_QQ_MOM["sd"])
    theo = mu + F.col("z") * sd
    return j.select(
        "event_type",
        "p",
        (F.col("qb").cast("double") / 10.0).alias("emp_q"),
        (F.floor(theo * 1e6) / 1e6).alias("theo_q6"),
        (
            F.floor((F.col("qb").cast("double") / 10.0 - theo) * 1e6) / 1e6
        ).alias("gap_q6"),
    )


# --- energy distance ------------------------------------------------------------

# Pairwise |x−y| sums from two bounded histograms via the sorted-prefix
# identity: Σ_{pairs} |x−y| = Σ_b [ v_b·(C_other(<b)) − S_other(<b) ]·c_b
# + symmetric — every term exact int64 in deci-units.


@register(
    "stats_energy_distance",
    oracle=f"""
WITH q AS (
  SELECT CAST(floor(value * 10.0) AS BIGINT) AS v,
         CASE WHEN event_type = '{_CD_A}' THEN 1 ELSE 0 END AS g1,
         CASE WHEN event_type = '{_CD_B}' THEN 1 ELSE 0 END AS g2
  FROM events WHERE event_type IN ('{_CD_A}', '{_CD_B}')
),
h AS (
  SELECT v, CAST(SUM(g1) AS BIGINT) AS c1, CAST(SUM(g2) AS BIGINT) AS c2
  FROM q GROUP BY 1
),
cw AS (
  SELECT v, c1, c2,
         CAST(COALESCE(SUM(c1) OVER w, 0) AS BIGINT) AS p1,
         CAST(COALESCE(SUM(c2) OVER w, 0) AS BIGINT) AS p2,
         CAST(COALESCE(SUM(v * c1) OVER w, 0) AS BIGINT) AS q1,
         CAST(COALESCE(SUM(v * c2) OVER w, 0) AS BIGINT) AS q2
  FROM h
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
sums AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
         CAST(SUM(c1 * (v * p2 - q2)) + SUM(c2 * (v * p1 - q1)) AS BIGINT)
           AS sxy,
         CAST(SUM(c1 * (v * p1 - q1)) AS BIGINT) AS sxx,
         CAST(SUM(c2 * (v * p2 - q2)) AS BIGINT) AS syy
  FROM cw
)
SELECT n1 AS n_{_CD_A}, n2 AS n_{_CD_B},
       floor((2.0 * CAST(sxy AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
              - 2.0 * CAST(sxx AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1)
              - 2.0 * CAST(syy AS DOUBLE) / (CAST(n2 AS DOUBLE) * n2))
             / 10.0 * 1000000.0) / 1000000.0 AS energy_dist_q6
FROM sums
""",
    tags=("analytics", "stats"),
)
def stats_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Székely's energy distance between the 'purchase' and 'click'
    value distributions — E = 2E|X−Y| − E|X−X'| − E|Y−Y'|, the
    two-sample test that is consistent against ALL alternatives (KS
    only sees the max CDF gap; energy integrates the whole
    discrepancy). The O(n²) pairwise |x−y| sums fold to EXACT int64
    via the sorted-prefix identity on the bounded deci-unit histogram:
    Σ|x−y| = Σ_b c_b·(v_b·P(<b) − Q(<b)) summed from both sides, where
    P/Q are prefix counts/value-sums — one corpus shuffle to the
    histogram, one ordered window over the bounded bin table, one
    1-row reduce; the three E-terms divide out in doubles at the very
    end (÷10 restores value units from deci-units). At 100 TB the
    cross-multiplied products need DECIMAL(38) past ~10¹² pair-units;
    the histogram shape itself never grows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_CD_A, _CD_B)
    )
    q = ev.select(
        F.floor(F.col("value") * 10.0).cast("long").alias("v"),
        F.when(F.col("event_type") == _CD_A, 1).otherwise(0).alias("g1"),
        F.when(F.col("event_type") == _CD_B, 1).otherwise(0).alias("g2"),
    )
    h = q.groupBy("v").agg(
        F.sum("g1").cast("long").alias("c1"),
        F.sum("g2").cast("long").alias("c2"),
    )
    wprev = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    cw = h.select(
        "v",
        "c1",
        "c2",
        F.coalesce(F.sum("c1").over(wprev), F.lit(0)).cast("long").alias("p1"),
        F.coalesce(F.sum("c2").over(wprev), F.lit(0)).cast("long").alias("p2"),
        F.coalesce(F.sum(F.col("v") * F.col("c1")).over(wprev), F.lit(0))
        .cast("long")
        .alias("q1"),
        F.coalesce(F.sum(F.col("v") * F.col("c2")).over(wprev), F.lit(0))
        .cast("long")
        .alias("q2"),
    )
    sums = cw.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        (
            F.sum(F.col("c1") * (F.col("v") * F.col("p2") - F.col("q2")))
            + F.sum(F.col("c2") * (F.col("v") * F.col("p1") - F.col("q1")))
        )
        .cast("long")
        .alias("sxy"),
        F.sum(F.col("c1") * (F.col("v") * F.col("p1") - F.col("q1")))
        .cast("long")
        .alias("sxx"),
        F.sum(F.col("c2") * (F.col("v") * F.col("p2") - F.col("q2")))
        .cast("long")
        .alias("syy"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    energy = (
        2.0 * F.try_divide(F.col("sxy").cast("double"), n1d * F.col("n2"))
        - 2.0 * F.try_divide(F.col("sxx").cast("double"), n1d * F.col("n1"))
        - 2.0 * F.try_divide(F.col("syy").cast("double"), n2d * F.col("n2"))
    )
    return sums.select(
        F.col("n1").alias(f"n_{_CD_A}"),
        F.col("n2").alias(f"n_{_CD_B}"),
        (F.floor(energy / 10.0 * 1e6) / 1e6).alias("energy_dist_q6"),
    )


# --- Mood's median test ---------------------------------------------------------


@register(
    "stats_mood_median",
    oracle=f"""
WITH q AS (
  SELECT event_type, CAST(floor(value * 10.0) AS BIGINT) AS v FROM events
),
med AS (
  SELECT MIN(v) AS m FROM (
    SELECT v, CAST(SUM(COUNT(*)) OVER (ORDER BY v
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n
    FROM q GROUP BY v
  ) WHERE 2 * cum >= n
),
cells AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN v > m THEN 1 ELSE 0 END) AS BIGINT) AS above,
         CAST(SUM(CASE WHEN v <= m THEN 1 ELSE 0 END) AS BIGINT) AS below
  FROM q CROSS JOIN med GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(above) AS BIGINT) AS ta, CAST(SUM(below) AS BIGINT) AS tb,
         CAST(SUM(above + below) AS BIGINT) AS n
  FROM cells
),
chi AS (
  SELECT CAST(SUM(
           CAST(floor((CAST(t.n AS DOUBLE) * c.above
                       - CAST(c.above + c.below AS DOUBLE) * t.ta)
                      * (CAST(t.n AS DOUBLE) * c.above
                         - CAST(c.above + c.below AS DOUBLE) * t.ta)
                      / (CAST(c.above + c.below AS DOUBLE) * t.ta * t.tb)
                      * 1000000.0) AS BIGINT)) AS BIGINT) AS chi_micro_part
  FROM cells c CROSS JOIN tot t
)
SELECT t.n, t.ta AS n_above, t.tb AS n_below,
       (SELECT CAST(COUNT(*) AS BIGINT) - 1 FROM cells) AS dof,
       CAST(chi.chi_micro_part AS DOUBLE) / 1000000.0 AS chi2_q6
FROM tot t CROSS JOIN chi
""",
    tags=("analytics", "stats"),
)
def stats_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across ALL event types — does every type
    share one median? The k-sample positional test that stays valid
    under gross outliers where `stats_anova_oneway` (means) breaks.
    Mechanism: the pooled median is the exact order statistic
    (smallest deci-bin with 2·cum ≥ n — integer predicate); each
    type's above/≤ split is one conditional aggregate; the χ²(k−1)
    statistic for the 2×k table uses the per-cell cross-multiplied
    form (N·a_i − n_i·A)² / (n_i·A·B) with each cell's term evaluated
    in doubles and floored to micro-units so the cross-cell sum is
    order-free int64 (the `stats_cramers_v` discipline; both rows of
    the 2×k table fold into that single per-column term because the
    two rows' deviations are equal and opposite — (1/A+1/B) = N/AB
    collapses the pair). Shape: histogram
    shuffle + bounded-bin window for the median, one aggregate per
    type, 1-row output."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_type", F.floor(F.col("value") * 10.0).cast("long").alias("v")
    ).localCheckpoint(eager=False)  # feeds the median AND the cell split
    hist = q.groupBy("v").agg(F.count("*").cast("long").alias("c"))
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("v").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    med = (
        hist.select(
            "v",
            F.sum("c").over(wcum).cast("long").alias("cum"),
            F.sum("c").over(wall).cast("long").alias("n"),
        )
        .filter(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("v").alias("m"))
    )
    cells = (
        q.crossJoin(med)
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("v") > F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("above"),
            F.sum(F.when(F.col("v") <= F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("below"),
        )
        .localCheckpoint(eager=False)  # feeds totals AND chi terms
    )
    tot = cells.agg(
        F.sum("above").cast("long").alias("ta"),
        F.sum("below").cast("long").alias("tb"),
        F.sum(F.col("above") + F.col("below")).cast("long").alias("n"),
    )
    ni = (F.col("above") + F.col("below")).cast("double")
    dev = F.col("n").cast("double") * F.col("above") - ni * F.col("ta")
    term = F.try_divide(dev * dev, ni * F.col("ta") * F.col("tb")) * 1e6
    chi = (
        cells.crossJoin(tot)
        .agg(F.sum(F.floor(term).cast("long")).cast("long").alias("chi_micro_part"))
    )
    ncells = cells.agg((F.count("*") - 1).cast("long").alias("dof"))
    return (
        tot.crossJoin(chi)
        .crossJoin(ncells)
        .select(
            "n",
            F.col("ta").alias("n_above"),
            F.col("tb").alias("n_below"),
            "dof",
            (F.col("chi_micro_part").cast("double") / 1e6).alias(
                "chi2_q6"
            ),
        )
    )


# --- Anderson-Darling two-sample -------------------------------------------------


@register(
    "stats_ad_twosample",
    oracle=f"""
WITH q AS (
  SELECT CAST(floor(value * 10.0) AS BIGINT) AS v,
         CASE WHEN event_type = '{_CD_A}' THEN 1 ELSE 0 END AS g1
  FROM events WHERE event_type IN ('{_CD_A}', '{_CD_B}')
),
h AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(g1) AS BIGINT) AS c1
  FROM q GROUP BY 1
),
cw AS (
  SELECT v, c,
         CAST(SUM(c) OVER w AS BIGINT) AS i,
         CAST(SUM(c1) OVER w AS BIGINT) AS mi,
         CAST(SUM(c) OVER () AS BIGINT) AS nn,
         CAST(SUM(c1) OVER () AS BIGINT) AS n1
  FROM h
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
terms AS (
  SELECT nn, n1, nn - n1 AS n2,
         CAST(SUM(CASE WHEN i < nn THEN
           CAST(floor(CAST(c AS DOUBLE)
                      * (CAST(mi AS DOUBLE) * nn - CAST(n1 AS DOUBLE) * i)
                      * (CAST(mi AS DOUBLE) * nn - CAST(n1 AS DOUBLE) * i)
                      / (CAST(i AS DOUBLE) * (nn - i))
                      * 1000000.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_micro
  FROM cw GROUP BY nn, n1
)
SELECT n1 AS n_{_CD_A}, n2 AS n_{_CD_B},
       floor(CAST(s_micro AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * n2 * nn)) / 1000000.0 AS ad_q6
FROM terms
""",
    tags=("analytics", "stats"),
)
def stats_ad_twosample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling two-sample statistic between the 'purchase' and
    'click' value distributions — the tail-weighted companion to
    `stats_ks_drift` (KS sees the max CDF gap, CvM the average, AD
    up-weights the tails by 1/(F(1−F)), which is where training-data
    drift usually hides). Scholz-Stephens tie-adjusted discrete form
    on the deci-unit histogram: A² = (1/(n₁n₂N)) Σ_b c_b·(M_b·N −
    n₁·i_b)² / (i_b·(N−i_b)) over distinct pooled levels except the
    last — M_b, i_b are right-continuous cumulative counts, the
    squared numerator is cross-multiplied (no CDF floats), each
    bounded bin's term is floored to micro-units and summed order-free
    (the `stats_cramers_v` discipline), and ONE final division
    normalizes. Shape: one corpus shuffle to the bounded histogram,
    one cumulative window, one reduce."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_CD_A, _CD_B)
    )
    q = ev.select(
        F.floor(F.col("value") * 10.0).cast("long").alias("v"),
        F.when(F.col("event_type") == _CD_A, 1).otherwise(0).alias("g1"),
    )
    h = q.groupBy("v").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("g1").cast("long").alias("c1"),
    )
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("v").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cw = h.select(
        "c",
        F.sum("c").over(wcum).cast("long").alias("i"),
        F.sum("c1").over(wcum).cast("long").alias("mi"),
        F.sum("c").over(wall).cast("long").alias("nn"),
        F.sum("c1").over(wall).cast("long").alias("n1"),
    )
    dev = (
        F.col("mi").cast("double") * F.col("nn")
        - F.col("n1").cast("double") * F.col("i")
    )
    term = (
        F.col("c").cast("double")
        * dev
        * dev
        / (F.col("i").cast("double") * (F.col("nn") - F.col("i")))
        * 1e6
    )
    terms = cw.groupBy("nn", "n1").agg(
        F.sum(
            F.when(F.col("i") < F.col("nn"), F.floor(term).cast("long")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("s_micro")
    )
    return terms.select(
        F.col("n1").alias(f"n_{_CD_A}"),
        (F.col("nn") - F.col("n1")).alias(f"n_{_CD_B}"),
        (
            F.floor(
                F.try_divide(
                    F.col("s_micro").cast("double"),
                    F.col("n1").cast("double")
                    * (F.col("nn") - F.col("n1"))
                    * F.col("nn"),
                )
            )
            / 1e6
        ).alias("ad_q6"),
    )
