"""Growth-analytics operators over the events stream: marketing touch
attribution, RFM segmentation, and conversion-latency percentiles.

These are the query shapes a product-analytics user of the reference
pipeline (clickstream rows loaded into a warehouse table,
dataimporter.py:119-127 equivalent) runs downstream; here they are
first-class distributed operators. All money math follows the exact
integer-cents convention (queries/_helpers.py) so value hashes match
the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odns_dataimporter_spark.queries._helpers import basket_pairs, money_sum, money_sum_sql
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


@register(
    "events_attribution_touch",
    oracle=f"""
WITH t AS (
  SELECT event_type, value,
         first_value(mk IGNORE NULLS) OVER w AS first_touch,
         last_value(mk IGNORE NULLS) OVER w AS last_touch
  FROM (SELECT *, CASE WHEN event_type IN ('click', 'view')
                       THEN event_type END AS mk FROM events)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), p AS (SELECT * FROM t WHERE event_type = 'purchase'),
s AS (
  SELECT 'first_touch' AS model, coalesce(first_touch, 'direct') AS channel,
         value FROM p
  UNION ALL
  SELECT 'last_touch', coalesce(last_touch, 'direct'), value FROM p
)
SELECT model, channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
       {money_sum_sql('value')} AS revenue
FROM s GROUP BY model, channel
""",
    tags=("analytics", "events"),
)
def events_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch and last-touch marketing attribution: every purchase
    is credited to the first (resp. most recent) click/view that
    STRICTLY precedes it in the user's event stream; purchases with no
    prior touch are 'direct'. One shuffle on user_id computes both
    models (a single window pass with `first/last(..., ignorenulls)`
    over an unbounded-preceding frame — running state, not a per-row
    rescan), then the purchase rows stack into (model, channel) and
    reduce to a channel-count/revenue table that is tiny regardless of
    corpus size. Revenue is exact integer cents divided once."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mk = F.when(F.col("event_type").isin("click", "view"), F.col("event_type"))
    touched = ev.withColumn("mk", mk).select(
        "event_type",
        "value",
        F.first("mk", ignorenulls=True).over(w).alias("first_touch"),
        F.last("mk", ignorenulls=True).over(w).alias("last_touch"),
    )
    pur = touched.filter(F.col("event_type") == "purchase")
    stacked = pur.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.coalesce("first_touch", F.lit("direct")).alias("channel"),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.coalesce("last_touch", F.lit("direct")).alias("channel"),
                ),
            )
        ).alias("mc"),
        "value",
    ).select("mc.model", "mc.channel", "value")
    return stacked.groupBy("model", "channel").agg(
        F.count("*").cast("long").alias("n_purchases"),
        money_sum("value").alias("revenue"),
    )


@register(
    "events_rfm_segments",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(date_diff('day',
              CAST(date_trunc('day', max(ts)) AS DATE),
              (SELECT CAST(date_trunc('day', max(ts)) AS DATE) FROM events))
           AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(coalesce(SUM(CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
           AS monetary_cents
  FROM events GROUP BY user_id
), q AS (
  SELECT quantile_disc(recency_days, 0.25) AS r25,
         quantile_disc(recency_days, 0.50) AS r50,
         quantile_disc(recency_days, 0.75) AS r75,
         quantile_disc(frequency, 0.25) AS f25,
         quantile_disc(frequency, 0.50) AS f50,
         quantile_disc(frequency, 0.75) AS f75,
         quantile_disc(monetary_cents, 0.25) AS m25,
         quantile_disc(monetary_cents, 0.50) AS m50,
         quantile_disc(monetary_cents, 0.75) AS m75
  FROM u
), s AS (
  SELECT u.*,
    CAST(CASE WHEN recency_days <= r25 THEN 4 WHEN recency_days <= r50 THEN 3
              WHEN recency_days <= r75 THEN 2 ELSE 1 END AS BIGINT) AS r_score,
    CAST(CASE WHEN frequency >= f75 THEN 4 WHEN frequency >= f50 THEN 3
              WHEN frequency >= f25 THEN 2 ELSE 1 END AS BIGINT) AS f_score,
    CAST(CASE WHEN monetary_cents >= m75 THEN 4 WHEN monetary_cents >= m50 THEN 3
              WHEN monetary_cents >= m25 THEN 2 ELSE 1 END AS BIGINT) AS m_score
  FROM u CROSS JOIN q
)
SELECT user_id, recency_days, frequency, monetary_cents, r_score, f_score,
       m_score,
       CASE WHEN r_score = 4 AND f_score >= 3 AND m_score >= 3 THEN 'champion'
            WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            WHEN r_score >= 3 AND f_score <= 2 THEN 'recent'
            ELSE 'other' END AS segment
FROM s
""",
    tags=("analytics", "events"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation.
    Per-user metrics reduce events to |users| rows in one shuffle;
    quartile cut points come from a 1-row `percentile_disc` aggregate
    broadcast back (threshold-compare, NOT a global ntile sort — so no
    single-partition window, and ties score identically on both
    engines). Monetary stays in exact integer cents. At 100 TB the
    pattern is unchanged: the only all-rows pass is the per-user
    aggregate; the quantile aggregate runs over the already-reduced
    user table (swap percentile_disc for approx_percentile if even
    |users| is huge)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    cents = F.round(F.col("value") * 100).cast("long")
    u = ev.groupBy("user_id").agg(
        F.max(day).alias("last_day"),
        F.count("*").cast("long").alias("frequency"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", cents)), F.lit(0)
        )
        .cast("long")
        .alias("monetary_cents"),
    )
    anchor = ev.agg(F.max(day).alias("anchor_day"))
    u = (
        u.crossJoin(anchor)
        .select(
            "user_id",
            F.datediff("anchor_day", "last_day").cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
        # two diverging consumers (quantile agg + scoring join):
        # checkpoint so the events scan + per-user reduction run once
        # (round-6 scan audit; the remaining second scan is the benign
        # 2-column anchor scalar)
        .localCheckpoint(eager=False)
    )
    qexpr = {
        f"{p}{int(q * 100)}": F.expr(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY {col})"
        )
        for p, col in (("r", "recency_days"), ("f", "frequency"), ("m", "monetary_cents"))
        for q in (0.25, 0.50, 0.75)
    }
    q = u.agg(*[e.alias(k) for k, e in qexpr.items()])
    s = u.crossJoin(q)
    r_score = (
        F.when(F.col("recency_days") <= F.col("r25"), 4)
        .when(F.col("recency_days") <= F.col("r50"), 3)
        .when(F.col("recency_days") <= F.col("r75"), 2)
        .otherwise(1)
        .cast("long")
    )
    f_score = (
        F.when(F.col("frequency") >= F.col("f75"), 4)
        .when(F.col("frequency") >= F.col("f50"), 3)
        .when(F.col("frequency") >= F.col("f25"), 2)
        .otherwise(1)
        .cast("long")
    )
    m_score = (
        F.when(F.col("monetary_cents") >= F.col("m75"), 4)
        .when(F.col("monetary_cents") >= F.col("m50"), 3)
        .when(F.col("monetary_cents") >= F.col("m25"), 2)
        .otherwise(1)
        .cast("long")
    )
    scored = s.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
    )
    segment = (
        F.when(
            (F.col("r_score") == 4) & (F.col("f_score") >= 3) & (F.col("m_score") >= 3),
            "champion",
        )
        .when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") >= 3) & (F.col("f_score") <= 2), "recent")
        .otherwise("other")
    )
    return scored.withColumn("segment", segment)


@register(
    "events_time_to_convert",
    oracle="""
WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT e.user_id,
             epoch_us(min(e.ts)) - epoch_us(any_value(s.signup_ts)) AS delta_us
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts
      GROUP BY e.user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(quantile_disc(delta_us, 0.25) AS BIGINT) AS p25_us,
       CAST(quantile_disc(delta_us, 0.50) AS BIGINT) AS p50_us,
       CAST(quantile_disc(delta_us, 0.75) AS BIGINT) AS p75_us,
       CAST(quantile_disc(delta_us, 0.90) AS BIGINT) AS p90_us,
       CAST(SUM(delta_us) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS mean_us
FROM p
""",
    tags=("analytics", "events"),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion latency distribution: per user, the
    first purchase strictly after the first signup, reported as exact
    integer-microsecond deltas (p25/p50/p75/p90 discrete percentiles +
    mean). Two user-keyed aggregates and one user-keyed join — AQE
    coalesces onto one partitioning — then a single 1-row reduce; the
    mean is an integer-sum ÷ count so it hashes identically on both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            (
                F.unix_micros(F.min("ts")) - F.unix_micros(F.any_value("signup_ts"))
            ).alias("delta_us")
        )
    )
    return p.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY delta_us)")
        .cast("long")
        .alias("p25_us"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY delta_us)")
        .cast("long")
        .alias("p50_us"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY delta_us)")
        .cast("long")
        .alias("p75_us"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY delta_us)")
        .cast("long")
        .alias("p90_us"),
        (F.sum("delta_us").cast("long") / F.count("*").cast("long")).alias("mean_us"),
    )


@register(
    "events_rolling_distinct_7d",
    oracle="""
WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
            FROM events),
days AS (SELECT DISTINCT day FROM ud)
SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
""",
    tags=("analytics", "events"),
)
def events_rolling_distinct_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the metric SQL
    window functions cannot express (COUNT(DISTINCT) has no window
    form). Instead of the oracle's range self-join (quadratic in
    |days|), each distinct (user, day) activity row EXPLODES into the
    ≤ 7 future days it contributes to, then a distinct + count per
    target day: a bounded 7× row amplification of the already-
    deduplicated per-user-day table, all equi-keyed shuffles — the
    scale-safe formulation for years of data. Target days are
    restricted to days with actual activity (broadcast semi-join) so
    both engines emit the same day set."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    ud = ev.select("user_id", day.alias("day")).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("target_day"),
    )
    return (
        contrib.join(
            F.broadcast(days.withColumnRenamed("day", "target_day")),
            "target_day",
            "left_semi",
        )
        .select(F.col("target_day").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("users_7d"))
    )


_AB_SALT = "exp1|"


@register(
    "events_ab_assignment_srm",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN CAST('0x' || substr(md5('{_AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100 < 50
              THEN 'treatment' ELSE 'control' END AS variant,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS converted
  FROM events GROUP BY user_id
), arm AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_converted
  FROM u GROUP BY variant
), srm AS (
  SELECT CAST(SUM(CASE WHEN variant = 'treatment' THEN n_users END) AS BIGINT) AS nt,
         CAST(SUM(CASE WHEN variant = 'control' THEN n_users END) AS BIGINT) AS nc
  FROM arm
)
SELECT variant, n_users, n_converted,
       floor(n_converted * 1e8 / n_users) / 1e6 AS cvr_pct_q6,
       floor(CAST((nt - nc) * (nt - nc) AS DOUBLE) / (nt + nc) * 1e6) / 1e6
         AS srm_chi2_q6
FROM arm, srm
""",
    tags=("analytics", "events"),
)
def events_ab_assignment_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B bucketing + sample-ratio-mismatch guard: users
    hash into treatment/control by a salted md5 (the industry-standard
    sticky assignment — same user, same arm, any engine, no state), each
    arm reports its conversion rate, and the 2-cell chi-square
    (n_t−n_c)²/(n_t+n_c) flags allocation bugs before anyone reads the
    lift. Everything is integer-derived (the hash bucket, counts, the
    cross-multiplied rates), so both engines hash-match bit-for-bit.
    One user-keyed aggregate + a 2-row rollup; the SRM scalar folds in
    as a broadcast 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr(
        f"CAST(conv(substr(md5(concat('{_AB_SALT}', CAST(user_id AS STRING))), 1, 8),"
        " 16, 10) AS BIGINT) % 100"
    )
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("converted")
    ).select(
        F.when(bucket < 50, "treatment").otherwise("control").alias("variant"),
        "converted",
    )
    arm = u.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    srm = arm.agg(
        F.sum(F.when(F.col("variant") == "treatment", F.col("n_users")))
        .cast("long")
        .alias("nt"),
        F.sum(F.when(F.col("variant") == "control", F.col("n_users")))
        .cast("long")
        .alias("nc"),
    )
    diff2 = ((F.col("nt") - F.col("nc")) * (F.col("nt") - F.col("nc"))).cast("double")
    return arm.crossJoin(srm).select(
        "variant",
        "n_users",
        "n_converted",
        (F.floor(F.col("n_converted") * 1e8 / F.col("n_users")) / 1e6).alias(
            "cvr_pct_q6"
        ),
        (F.floor(diff2 / (F.col("nt") + F.col("nc")) * 1e6) / 1e6).alias(
            "srm_chi2_q6"
        ),
    )


_DID_CUTOFF = "2024-01-15"


@register(
    "events_diff_in_diff",
    oracle=f"""
WITH p AS (
  SELECT CASE WHEN CAST('0x' || substr(md5('{_AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100 < 50
              THEN 'treatment' ELSE 'control' END AS arm,
         CASE WHEN ts < TIMESTAMP '{_DID_CUTOFF} 00:00:00'
              THEN 'pre' ELSE 'post' END AS period,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), cell AS (
  SELECT arm, period, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s
  FROM p GROUP BY arm, period
), w AS (
  SELECT
    CAST(SUM(CASE WHEN arm='treatment' AND period='post' THEN s END) AS DOUBLE)
      / SUM(CASE WHEN arm='treatment' AND period='post' THEN n END) AS m_t_post,
    CAST(SUM(CASE WHEN arm='treatment' AND period='pre'  THEN s END) AS DOUBLE)
      / SUM(CASE WHEN arm='treatment' AND period='pre'  THEN n END) AS m_t_pre,
    CAST(SUM(CASE WHEN arm='control' AND period='post' THEN s END) AS DOUBLE)
      / SUM(CASE WHEN arm='control' AND period='post' THEN n END) AS m_c_post,
    CAST(SUM(CASE WHEN arm='control' AND period='pre'  THEN s END) AS DOUBLE)
      / SUM(CASE WHEN arm='control' AND period='pre'  THEN n END) AS m_c_pre,
    CAST(SUM(n) AS BIGINT) AS n_purchases
  FROM cell
)
SELECT n_purchases, m_t_pre, m_t_post, m_c_pre, m_c_post,
       (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_cents
FROM w
""",
    tags=("analytics", "events"),
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout for the hash-assigned
    experiment (`events_ab_assignment_srm`'s arms): mean purchase value
    per arm × pre/post period, and the DiD estimate
    (ΔT − ΔC) that nets out the shared time trend — the standard
    causal readout when randomization happened at a cutover. All four
    cell means are exact integer-cent sums divided once; the estimate
    is three IEEE subtractions on identically-derived doubles. ONE
    pass: purchases reduce to 4 cells, the rest is 1-row math."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr(
        f"CAST(conv(substr(md5(concat('{_AB_SALT}', CAST(user_id AS STRING))), 1, 8),"
        " 16, 10) AS BIGINT) % 100"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.when(bucket < 50, "treatment").otherwise("control").alias("arm"),
        F.when(
            F.col("ts") < F.lit(f"{_DID_CUTOFF} 00:00:00").cast("timestamp"), "pre"
        )
        .otherwise("post")
        .alias("period"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cell = p.groupBy("arm", "period").agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").cast("long").alias("s")
    )

    def m(arm, period):
        cond = (F.col("arm") == arm) & (F.col("period") == period)
        return F.sum(F.when(cond, F.col("s"))).cast("double") / F.sum(
            F.when(cond, F.col("n"))
        )

    w = cell.agg(
        m("treatment", "post").alias("m_t_post"),
        m("treatment", "pre").alias("m_t_pre"),
        m("control", "post").alias("m_c_post"),
        m("control", "pre").alias("m_c_pre"),
        F.sum("n").cast("long").alias("n_purchases"),
    )
    return w.select(
        "n_purchases",
        "m_t_pre",
        "m_t_post",
        "m_c_pre",
        "m_c_post",
        (
            (F.col("m_t_post") - F.col("m_t_pre"))
            - (F.col("m_c_post") - F.col("m_c_pre"))
        ).alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules (the Apriori L2 layer, computed
# exactly): pair support from the distinct order×part table,
# confidence and lift from exact integer counts.

_AR_MINSUP = 2  # minimum pair support (baskets)
_AR_TOPN = 20


@register(
    "mining_assoc_rules",
    oracle=f"""
WITH p AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
nb AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM p),
ic AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY pk),
pp AS (SELECT a.pk AS u, b.pk AS v, CAST(COUNT(*) AS BIGINT) AS cuv
       FROM p a JOIN p b ON a.ok = b.ok AND a.pk < b.pk
       GROUP BY a.pk, b.pk HAVING COUNT(*) >= {_AR_MINSUP}),
r AS (SELECT pp.u, pp.v, pp.cuv, cu.c AS cu, cv.c AS cv, nb.n
      FROM pp JOIN ic cu ON cu.pk = pp.u JOIN ic cv ON cv.pk = pp.v
      CROSS JOIN nb)
SELECT u, v, cuv AS n_baskets,
       floor(cuv * 1000000.0 / n) / 1000000.0 AS support_q6,
       floor(cuv * 1000000.0 / cu) / 1000000.0 AS confidence_q6,
       floor(n * cuv * 1000000.0 / (cu * cv)) / 1000000.0 AS lift_q6
FROM (SELECT *, row_number() OVER (
        ORDER BY floor(n * cuv * 1000000.0 / (cu * cv)) DESC, u, v) AS rn
      FROM r)
WHERE rn <= {_AR_TOPN}
""",
    tags=("analytics", "events", "profiling"),
)
def mining_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 association rules u→v over order baskets by lift, with
    exact support and confidence — the Apriori pair layer as pure
    relational algebra: distinct (order, part) once, item counts and
    the basket total as side aggregates, pair counts from the
    per-basket pair expansion (bounded by basket size², ~7 items per
    TPC-H order), minsup cut BEFORE the item-count joins so the rule
    table never carries the long tail. Lift's numerator n·cuv stays
    integer-exact before the single quantized divide; the top-N is a
    rank over the minsup-surviving rules only.

    Plan shape: ONE lineitem shuffle builds the per-order item-set
    table (collect_set ≡ the oracle's DISTINCT (ok, pk)), lazily
    localCheckpointed because all three statistics — basket count,
    item counts, pair counts — fan out from it (the previous
    formulation re-derived the distinct shuffle four times: two
    self-join sides, item counts, basket total). Pairs come from a
    double explode over the ~7-element set (no self-join), and the
    item-count sides are broadcast (|parts|-sized ≪ rules). At
    100 TB: same shape; the checkpoint becomes a persisted baskets
    table, pair volume stays Σ basket² — no candidate explosion."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.collect_set("l_partkey").alias("ps"))
        .localCheckpoint(eager=False)
    )
    nb = baskets.agg(F.count("*").cast("long").alias("n"))
    ic = (
        baskets.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").cast("long").alias("c"))
    )
    pp = (
        basket_pairs(baskets)
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("cuv"))
        .filter(F.col("cuv") >= _AR_MINSUP)
    )
    r = (
        pp.join(F.broadcast(ic.select(F.col("pk").alias("u"), F.col("c").alias("cu"))), "u")
        .join(F.broadcast(ic.select(F.col("pk").alias("v"), F.col("c").alias("cv"))), "v")
        .crossJoin(nb)
    )
    lift_int = F.floor(
        F.col("n") * F.col("cuv") * 1_000_000.0 / (F.col("cu") * F.col("cv"))
    )
    # Top-N via orderBy().limit() so Catalyst plans TakeOrderedAndProject
    # (per-partition heaps + driver merge) instead of funnelling every
    # minsup-surviving pair through one row_number() task; the (lift, u,
    # v) ordering is total, so oracle parity is preserved.
    return (
        r.withColumn("lift_i", lift_int)
        .orderBy(F.col("lift_i").desc(), "u", "v")
        .limit(_AR_TOPN)
        .select(
            "u",
            "v",
            F.col("cuv").alias("n_baskets"),
            (F.floor(F.col("cuv") * 1_000_000.0 / F.col("n")) / 1_000_000.0).alias("support_q6"),
            (F.floor(F.col("cuv") * 1_000_000.0 / F.col("cu")) / 1_000_000.0).alias("confidence_q6"),
            (F.col("lift_i") / 1_000_000.0).alias("lift_q6"),
        )
    )


@register(
    "events_survival_km",
    oracle="""
WITH s AS (SELECT user_id, MIN(ts) AS t0 FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'purchase' GROUP BY user_id),
mx AS (SELECT MAX(ts) AS tmax FROM events),
u AS (SELECT s.user_id,
             CASE WHEN p.t1 IS NOT NULL AND p.t1 >= s.t0 THEN 1 ELSE 0 END AS ev,
             CASE WHEN p.t1 IS NOT NULL AND p.t1 >= s.t0
                  THEN (epoch_us(p.t1) - epoch_us(s.t0)) // 86400000000
                  ELSE (epoch_us(mx.tmax) - epoch_us(s.t0)) // 86400000000
             END AS d
      FROM s LEFT JOIN p USING (user_id) CROSS JOIN mx),
nd AS (SELECT d, CAST(SUM(ev) AS BIGINT) AS n_events,
              CAST(COUNT(*) AS BIGINT) AS n_leaving
       FROM u GROUP BY d),
rs AS (SELECT d, n_events,
              CAST(SUM(n_leaving) OVER (ORDER BY d DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
       FROM nd),
km AS (SELECT d, n_events, n_risk,
              SUM(CASE WHEN n_risk = n_events THEN 0.0
                       ELSE ln(CAST(n_risk - n_events AS DOUBLE))
                            - ln(CAST(n_risk AS DOUBLE)) END)
                OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS lcum,
              SUM(CASE WHEN n_risk = n_events THEN 1 ELSE 0 END)
                OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS zcum
       FROM rs WHERE n_events > 0)
SELECT CAST(d AS BIGINT) AS day, n_risk, n_events,
       CASE WHEN zcum > 0 THEN 0.0
            ELSE floor(exp(lcum) * 1000000.0) / 1000000.0 END AS survival_q6
FROM km
""",
    tags=("analytics", "events", "stats"),
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for signup→purchase conversion with
    right-censoring at the observation horizon (users who never
    purchase are censored at the global max timestamp, not dropped —
    the thing naive conversion rates get wrong). Per event-day t:
    at-risk n_t (users whose duration ≥ t, from ONE descending
    cumulative window over the per-day counts), conversions d_t, and
    S(t) = Π(1 − d/n) computed as exp of the day-ordered cumulative
    sum of ln(n−d) − ln(n) — integers under the logs, identical fold
    order on both engines. The d == n day (everyone at risk converts,
    survival exactly 0 from that day on) is handled explicitly with a
    zero-flag cumulative count rather than ln(0): Spark's ln(0) is
    NULL (silently skipped by SUM ⇒ wrong non-zero survival) while
    DuckDB raises — the guard keeps both engines exact and aligned.
    The corpus reduces to |distinct days| rows before any window runs;
    at 100 TB only the three user-keyed aggregates touch the data."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    mx = ev.agg(F.max("ts").alias("tmax"))
    converted = F.col("t1").isNotNull() & (F.col("t1") >= F.col("t0"))
    day_us = 86_400_000_000
    u = (
        s.join(p, "user_id", "left")
        .crossJoin(mx)
        .select(
            F.when(converted, 1).otherwise(0).alias("ev"),
            F.when(
                converted,
                ((F.unix_micros("t1") - F.unix_micros("t0")) / day_us).cast("long"),
            )
            .otherwise(
                ((F.unix_micros("tmax") - F.unix_micros("t0")) / day_us).cast("long")
            )
            .alias("d"),
        )
    )
    nd = u.groupBy("d").agg(
        F.sum("ev").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_leaving"),
    )
    w_desc = (
        Window.orderBy(F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rs = nd.select(
        "d",
        "n_events",
        F.sum("n_leaving").over(w_desc).cast("long").alias("n_risk"),
    )
    all_convert = F.col("n_risk") == F.col("n_events")
    lterm = F.when(all_convert, F.lit(0.0)).otherwise(
        F.log((F.col("n_risk") - F.col("n_events")).cast("double"))
        - F.log(F.col("n_risk").cast("double"))
    )
    w_asc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    km = rs.filter(F.col("n_events") > 0).select(
        "d",
        "n_events",
        "n_risk",
        F.sum(lterm).over(w_asc).alias("lcum"),
        F.sum(F.when(all_convert, 1).otherwise(0)).over(w_asc).alias("zcum"),
    )
    return km.select(
        F.col("d").cast("long").alias("day"),
        "n_risk",
        "n_events",
        F.when(F.col("zcum") > 0, F.lit(0.0))
        .otherwise(F.floor(F.exp("lcum") * 1_000_000.0) / 1_000_000.0)
        .alias("survival_q6"),
    )


@register(
    "events_sankey_paths",
    oracle="""
WITH s AS (
  SELECT user_id, event_type AS e1,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events),
p AS (SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path
      FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL),
c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_paths FROM p GROUP BY path),
tot AS (SELECT CAST(SUM(n_paths) AS BIGINT) AS total FROM c)
SELECT c.path, c.n_paths,
       floor(c.n_paths * 1000000.0 / tot.total) / 1000000.0 AS share_q6
FROM c CROSS JOIN tot
""",
    tags=("analytics", "events"),
)
def events_sankey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step user-journey paths (the Sankey/path-explorer table every
    product-analytics tool renders): consecutive event-type triples
    from two leads over ONE user-keyed window pass, counted and
    share-normalized against a broadcast total. Generalizes
    events_markov (single transitions) to path depth 3; at 100 TB the
    path table is |event-types|³ rows at most — tiny — and the only
    data-scale work is the one window shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    c = s.select(
        F.concat_ws(" > ", "e1", "e2", "e3").alias("path")
    ).groupBy("path").agg(F.count("*").cast("long").alias("n_paths"))
    tot = c.agg(F.sum("n_paths").cast("long").alias("total"))
    return c.crossJoin(tot).select(
        "path",
        "n_paths",
        (F.floor(F.col("n_paths") * 1_000_000.0 / F.col("total")) / 1_000_000.0).alias(
            "share_q6"
        ),
    )


@register(
    "events_cuped_adjustment",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN CAST('0x' || substr(md5('{_AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100 < 50
              THEN 'treatment' ELSE 'control' END AS arm,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                   AND ts < TIMESTAMP '{_DID_CUTOFF} 00:00:00'
                   THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                   AND ts >= TIMESTAMP '{_DID_CUTOFF} 00:00:00'
                   THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM u
),
v AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(x) AS BIGINT) AS sxv, CAST(SUM(y) AS BIGINT) AS syv
  FROM u GROUP BY arm
),
th AS (
  SELECT n, sx,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta
  FROM g
)
SELECT v.arm, v.n_users,
       floor(CAST(v.syv AS DOUBLE) / v.n_users * 10000.0) / 1000000.0
         AS mean_post_q6,
       floor(th.theta * 1000000.0) / 1000000.0 AS theta_q6,
       floor((CAST(v.syv AS DOUBLE) / v.n_users
              - th.theta * (CAST(v.sxv AS DOUBLE) / v.n_users
                            - CAST(th.sx AS DOUBLE) / th.n)) * 10000.0)
         / 1000000.0 AS mean_adj_q6
FROM v CROSS JOIN th
""",
    tags=("analytics", "events", "stats"),
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, 'Improving the
    Sensitivity of Online Controlled Experiments') — the experimentation
    staple between SRM (`events_ab_assignment_srm`) and diff-in-diff:
    each user's post-period purchase revenue is adjusted by the pooled
    pre-period covariate, Y_adj = Y - θ(X - X̄) with θ = cov(X,Y)/var(X),
    shrinking arm-mean variance without biasing the treatment effect.
    Shape: ONE user-level aggregate (map-side combined — the event
    stream collapses to |users| rows), then θ from exact integer sums
    (Σx, Σy, Σxy, Σx² — doubles enter only in the final closed-form
    products, identically shaped on both engines) in a 1-row broadcast,
    and per-arm means from a |arms|-row aggregate. try_divide keeps a
    degenerate var(X)=0 corpus NULL on both engines (DuckDB double/0 is
    NULL, IEEE Spark would say Inf). Money is exact cents end to end;
    means are floor-quantized to currency q6 (cents·1e4/1e6)."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(f"{_DID_CUTOFF} 00:00:00").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("long")
    is_p = F.col("event_type") == "purchase"
    u = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(is_p & (F.col("ts") < cutoff), cents)), F.lit(0)
        )
        .cast("long")
        .alias("x"),
        F.coalesce(
            F.sum(F.when(is_p & (F.col("ts") >= cutoff), cents)), F.lit(0)
        )
        .cast("long")
        .alias("y"),
    ).withColumn(
        "arm",
        F.when(
            F.expr(
                f"CAST(conv(substr(md5(concat('{_AB_SALT}', CAST(user_id AS STRING))), 1, 8),"
                " 16, 10) AS BIGINT) % 100 < 50"
            ),
            F.lit("treatment"),
        ).otherwise(F.lit("control")),
    )
    # One user-level aggregate serves BOTH the pooled theta and the
    # per-arm means: roll the |arms|-row per-arm stats up to the global
    # sums (exact integers commute) instead of re-deriving the events
    # scan; the lazy checkpoint pins the shared 2-row subtree.
    v2 = (
        u.groupBy("arm")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("x").cast("long").alias("sxv"),
            F.sum("y").cast("long").alias("syv"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxyv"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxxv"),
        )
        .localCheckpoint(eager=False)
    )
    g = v2.agg(
        F.sum("n_users").cast("long").alias("n"),
        F.sum("sxv").cast("long").alias("sx"),
        F.sum("syv").cast("long").alias("sy"),
        F.sum("sxyv").cast("long").alias("sxy"),
        F.sum("sxxv").cast("long").alias("sxx"),
    )
    theta = F.try_divide(
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double"),
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double"),
    )
    v = v2.select("arm", "n_users", "sxv", "syv")
    th = g.select("n", "sx", theta.alias("theta"))
    mean_y = F.col("syv").cast("double") / F.col("n_users")
    mean_x_v = F.col("sxv").cast("double") / F.col("n_users")
    mean_x = F.col("sx").cast("double") / F.col("n")
    return v.crossJoin(th).select(
        "arm",
        "n_users",
        (F.floor(mean_y * 10_000.0) / 1_000_000.0).alias("mean_post_q6"),
        (F.floor(F.col("theta") * 1_000_000.0) / 1_000_000.0).alias("theta_q6"),
        (
            F.floor((mean_y - F.col("theta") * (mean_x_v - mean_x)) * 10_000.0)
            / 1_000_000.0
        ).alias("mean_adj_q6"),
    )


_Z_ALPHA = 1.959963984540054  # two-sided 5% normal quantile
_Z_POWER = 0.8416212335729143  # 80% power normal quantile


@register(
    "events_mde_power",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN CAST('0x' || substr(md5('{_AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100 < 50
              THEN 1 ELSE 0 END AS is_t,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
g AS (
  SELECT CAST(SUM(is_t) AS BIGINT) AS n_t,
         CAST(COUNT(*) - SUM(is_t) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN is_t = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_t,
         CAST(SUM(CASE WHEN is_t = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_c,
         CAST(SUM(CASE WHEN is_t = 1 THEN CAST(y AS DECIMAL(18, 0)) * y
                       ELSE 0 END) AS DECIMAL(38, 0)) AS syy_t,
         CAST(SUM(CASE WHEN is_t = 0 THEN CAST(y AS DECIMAL(18, 0)) * y
                       ELSE 0 END) AS DECIMAL(38, 0)) AS syy_c
  FROM u
),
v AS (
  SELECT n_t, n_c,
         CAST(sy_t AS DOUBLE) / n_t - CAST(sy_c AS DOUBLE) / n_c AS diff,
         ((CAST(syy_t AS DOUBLE)
           - CAST(sy_t AS DOUBLE) * CAST(sy_t AS DOUBLE) / n_t)
          + (CAST(syy_c AS DOUBLE)
             - CAST(sy_c AS DOUBLE) * CAST(sy_c AS DOUBLE) / n_c))
         / (n_t + n_c - 2) AS s2p
  FROM g
)
SELECT n_t AS n_treat, n_c AS n_ctrl,
       floor(diff * 10000.0) / 1000000.0 AS diff_q6,
       floor(({_Z_ALPHA} + {_Z_POWER})
             * sqrt(s2p * (1.0 / n_t + 1.0 / n_c)) * 10000.0) / 1000000.0
         AS mde_q6,
       abs(floor(diff * 10000.0) / 1000000.0)
         >= floor(({_Z_ALPHA} + {_Z_POWER})
                  * sqrt(s2p * (1.0 / n_t + 1.0 / n_c)) * 10000.0) / 1000000.0
         AS detectable
FROM v
""",
    tags=("analytics", "events", "stats"),
)
def events_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect / power check for the running A-B
    assignment — the design-of-experiments staple next to SRM
    (`events_ab_assignment_srm`) and CUPED: pooled per-user revenue
    variance gives MDE = (z_{{α/2}} + z_{{power}})·√(s²_p(1/n_t + 1/n_c))
    at 5%/80%, and the observed arm difference is flagged detectable
    iff |diff| ≥ MDE — the "is this experiment even big enough" gate.
    Shape: ONE user-level aggregate (events collapse to |users| rows,
    map-side combined), then ONE 1-row reduce carrying exact integer
    Σy per arm plus DECIMAL(38,0) Σy² (outgrows int64 near sf10); all
    doubles derive from those exact sums through one shared expression
    tree, and the boolean compares the two ALREADY-quantized q6 values
    so a 1-ulp sqrt divergence can never flip it. Money is exact cents;
    q6 output is in currency units (cents·1e4/1e6)."""
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
                f"CAST(conv(substr(md5(concat('{_AB_SALT}', CAST(user_id AS STRING))), 1, 8),"
                " 16, 10) AS BIGINT) % 100 < 50"
            ),
            1,
        ).otherwise(0),
    )
    is_t = F.col("is_t") == 1
    g = u.agg(
        F.sum("is_t").cast("long").alias("n_t"),
        (F.count("*") - F.sum("is_t")).cast("long").alias("n_c"),
        F.sum(F.when(is_t, F.col("y")).otherwise(0)).cast("long").alias("sy_t"),
        F.sum(F.when(~is_t, F.col("y")).otherwise(0)).cast("long").alias("sy_c"),
        F.sum(
            F.when(is_t, F.col("y").cast("decimal(18,0)") * F.col("y")).otherwise(
                F.lit(0)
            )
        )
        .cast("decimal(38,0)")
        .alias("syy_t"),
        F.sum(
            F.when(~is_t, F.col("y").cast("decimal(18,0)") * F.col("y")).otherwise(
                F.lit(0)
            )
        )
        .cast("decimal(38,0)")
        .alias("syy_c"),
    )
    n_t, n_c = F.col("n_t"), F.col("n_c")
    # try_divide throughout: a degenerate corpus can land every user in
    # one arm (n=0) or have exactly two users (pooled dof 0); DuckDB's
    # float division yields NULL there where ANSI Spark would throw.
    diff = F.try_divide(F.col("sy_t").cast("double"), n_t) - F.try_divide(
        F.col("sy_c").cast("double"), n_c
    )
    s2p = F.try_divide(
        (
            F.col("syy_t").cast("double")
            - F.try_divide(
                F.col("sy_t").cast("double") * F.col("sy_t").cast("double"), n_t
            )
        )
        + (
            F.col("syy_c").cast("double")
            - F.try_divide(
                F.col("sy_c").cast("double") * F.col("sy_c").cast("double"), n_c
            )
        ),
        (n_t + n_c - 2),
    )
    diff_q6 = F.floor(diff * 10_000.0) / 1_000_000.0
    mde_q6 = (
        F.floor(
            (_Z_ALPHA + _Z_POWER)
            * F.sqrt(
                s2p
                * (
                    F.try_divide(F.lit(1.0), n_t)
                    + F.try_divide(F.lit(1.0), n_c)
                )
            )
            * 10_000.0
        )
        / 1_000_000.0
    )
    return g.select(
        n_t.alias("n_treat"),
        n_c.alias("n_ctrl"),
        diff_q6.alias("diff_q6"),
        mde_q6.alias("mde_q6"),
        (F.abs(diff_q6) >= mde_q6).alias("detectable"),
    )


@register(
    "events_ltv_cohort",
    oracle="""
WITH c AS (
  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
sz AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_users
       FROM c GROUP BY 1),
r AS (
  SELECT c.cohort_day,
         CAST((CAST(date_trunc('day', e.ts) AS DATE) - c.cohort_day) // 7
              AS BIGINT) AS age_week,
         CAST(round(e.value * 100) AS BIGINT) AS cents
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase'
),
g AS (SELECT cohort_day, age_week, CAST(SUM(cents) AS BIGINT) AS rev_cents
      FROM r GROUP BY 1, 2),
w AS (
  SELECT cohort_day, age_week, rev_cents,
         CAST(SUM(rev_cents) OVER (PARTITION BY cohort_day ORDER BY age_week
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cents
  FROM g
)
SELECT w.cohort_day, w.age_week, sz.cohort_users, w.rev_cents, w.cum_cents,
       floor(CAST(w.cum_cents AS DOUBLE) / sz.cohort_users * 10000.0)
         / 1000000.0 AS ltv_per_user_q6
FROM w JOIN sz USING (cohort_day)
""",
    tags=("analytics", "events"),
)
def events_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — the revenue companion to
    `events_retention`: users cohorted by first-activity day, purchase
    revenue bucketed by weeks-since-acquisition, accumulated per
    cohort, and normalised per acquired user (the payback-period /
    LTV:CAC denominator every growth team tracks). Shape: the per-user
    cohort assignment and the events join both shuffle on user_id (AQE
    coalesces onto one partitioning); the cohort table is lazily
    checkpointed because it feeds two consumers (sizes + join); the
    LTV matrix is |days|·|weeks| tiny, so the cumulative window and
    the per-user division run on a broadcast-scale table. Money is
    exact integer cents end-to-end; the single division is
    floor-quantized to currency q6 (cents·1e4/1e6)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    c = (
        ev.groupBy("user_id")
        .agg(F.min(day).alias("cohort_day"))
        .localCheckpoint(eager=False)
    )
    sz = c.groupBy("cohort_day").agg(
        F.count("*").cast("long").alias("cohort_users")
    )
    r = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .select(
            "cohort_day",
            F.floor(F.datediff(day, F.col("cohort_day")) / 7)
            .cast("long")
            .alias("age_week"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    g = r.groupBy("cohort_day", "age_week").agg(
        F.sum("cents").cast("long").alias("rev_cents")
    )
    wcum = (
        Window.partitionBy("cohort_day")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = g.select(
        "cohort_day",
        "age_week",
        "rev_cents",
        F.sum("rev_cents").over(wcum).cast("long").alias("cum_cents"),
    )
    return w.join(F.broadcast(sz), "cohort_day").select(
        "cohort_day",
        "age_week",
        "cohort_users",
        "rev_cents",
        "cum_cents",
        (
            F.floor(
                F.col("cum_cents").cast("double")
                / F.col("cohort_users")
                * 10_000.0
            )
            / 1_000_000.0
        ).alias("ltv_per_user_q6"),
    )


_QINI_BUCKETS = 10
_QINI_SALT = "uplift|"  # deterministic stub uplift-model score seed


@register(
    "events_uplift_qini",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN CAST('0x' || substr(md5('{_AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100 < 50
              THEN 1 ELSE 0 END AS is_t,
         CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase') > 0
              THEN 1 ELSE 0 END AS y,
         CAST('0x' || substr(md5('{_QINI_SALT}' || CAST(user_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 1000 AS s
  FROM events GROUP BY user_id
),
r AS (
  SELECT is_t, y,
         CAST(row_number() OVER (ORDER BY s DESC, user_id) AS BIGINT) AS rnk,
         CAST(COUNT(*) OVER () AS BIGINT) AS nn
  FROM u
),
d AS (SELECT CAST(floor((rnk - 1) * {_QINI_BUCKETS} / nn) + 1 AS BIGINT)
               AS decile, is_t, y
      FROM r),
g AS (
  SELECT decile,
         CAST(SUM(is_t) AS BIGINT) AS n_t,
         CAST(COUNT(*) - SUM(is_t) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN is_t = 1 THEN y ELSE 0 END) AS BIGINT) AS r_t,
         CAST(SUM(CASE WHEN is_t = 0 THEN y ELSE 0 END) AS BIGINT) AS r_c
  FROM d GROUP BY decile
),
c AS (
  SELECT decile, n_t, n_c, r_t, r_c,
         CAST(SUM(n_t) OVER w AS BIGINT) AS cn_t,
         CAST(SUM(n_c) OVER w AS BIGINT) AS cn_c,
         CAST(SUM(r_t) OVER w AS BIGINT) AS cr_t,
         CAST(SUM(r_c) OVER w AS BIGINT) AS cr_c
  FROM g
  WINDOW w AS (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, n_t, n_c, r_t, r_c,
       floor((cr_t - CAST(cr_c AS DOUBLE) * cn_t / cn_c) * 1000000.0)
         / 1000000.0 AS qini_q6
FROM c
""",
    tags=("analytics", "events", "ml", "stats"),
)
def events_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift-model evaluation (Radcliffe) — the
    incremental-response companion to `ml_lift_gains` that
    experimentation-ML teams score targeting models with: users ranked
    by a deterministic stub uplift score are cut into equal-count
    deciles, and Qini(k) = cumulative treated responders − control
    responders scaled by the cumulative treatment/control ratio —
    the incremental purchases attributable to targeting the top k/10.
    Shape: ONE user-level aggregate (events collapse to |users| rows,
    outcome + arm + score in the same pass), the lift_gains
    distributed-rank pattern (score-histogram prefix offsets +
    per-score parallel row_number — no single-partition ntile; see
    ml_lift_gains for why rank equality holds by total order), a
    10-row cumulative window. Counters exact int64; Qini is one double
    expression (cr_c·cn_t/cn_c), floor-q6; try_divide is unnecessary
    because every cumulative cn_c ≥ its decile-1 value, which the
    50/50 hash assignment makes ≥ 1 on any corpus with ≥ 2 users —
    and a 1-user corpus yields cn_c = 0 → NULL on both engines via
    DuckDB float-div semantics mirrored by try_divide below (kept for
    the degenerate sweep)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.count_if(F.col("event_type") == "purchase") > 0, 1
        )
        .otherwise(0)
        .alias("y"),
    ).select(
        "user_id",
        "y",
        F.when(
            F.expr(
                f"CAST(conv(substr(md5(concat('{_AB_SALT}', CAST(user_id AS STRING))), 1, 8),"
                " 16, 10) AS BIGINT) % 100 < 50"
            ),
            1,
        )
        .otherwise(0)
        .alias("is_t"),
        F.expr(
            f"CAST(conv(substr(md5(concat('{_QINI_SALT}', CAST(user_id AS STRING))), 1, 8),"
            " 16, 10) AS BIGINT) % 1000"
        ).alias("s"),
    )
    hist = u.groupBy("s").agg(F.count("*").cast("long").alias("n_s"))
    woff = Window.orderBy(F.desc("s")).rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off = hist.select(
        "s",
        F.coalesce(F.sum("n_s").over(woff), F.lit(0)).cast("long").alias("off"),
        F.sum("n_s").over(wall).cast("long").alias("nn"),
    )
    wrn = Window.partitionBy("s").orderBy("user_id")
    d = u.join(F.broadcast(off), "s").select(
        "is_t",
        "y",
        (
            F.floor(
                (F.col("off") + F.row_number().over(wrn) - 1)
                * _QINI_BUCKETS
                / F.col("nn")
            )
            + 1
        )
        .cast("long")
        .alias("decile"),
    )
    g = d.groupBy("decile").agg(
        F.sum("is_t").cast("long").alias("n_t"),
        (F.count("*") - F.sum("is_t")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("is_t") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("r_t"),
        F.sum(F.when(F.col("is_t") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("r_c"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        "decile",
        "n_t",
        "n_c",
        "r_t",
        "r_c",
        F.sum("n_t").over(wcum).cast("long").alias("cn_t"),
        F.sum("n_c").over(wcum).cast("long").alias("cn_c"),
        F.sum("r_t").over(wcum).cast("long").alias("cr_t"),
        F.sum("r_c").over(wcum).cast("long").alias("cr_c"),
    )
    qini = F.col("cr_t") - F.try_divide(
        F.col("cr_c").cast("double") * F.col("cn_t"), F.col("cn_c")
    )
    return c.select(
        "decile",
        "n_t",
        "n_c",
        "r_t",
        "r_c",
        (F.floor(qini * 1_000_000.0) / 1_000_000.0).alias("qini_q6"),
    )


_MSPRT_TAU_MILLI = 50.0  # effect-size prior (milli value units)


@register(
    "events_msprt_sequential",
    oracle=f"""
WITH e AS (
  SELECT CAST(ts AS DATE) AS day,
         CASE WHEN CAST('0x' || substr(md5('{_AB_SALT}'
                   || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100 < 50
              THEN 1 ELSE 0 END AS is_t,
         CAST(floor(value * 1000.0) AS BIGINT) AS vm
  FROM events
),
sig AS (
  SELECT (CAST(SUM(vm * vm) AS DOUBLE)
          - CAST(SUM(vm) AS DOUBLE) * SUM(vm) / COUNT(*)) / COUNT(*)
           AS var_milli2
  FROM e
),
d AS (
  SELECT day,
         CAST(SUM(is_t) AS BIGINT) AS dn_t,
         CAST(COUNT(*) - SUM(is_t) AS BIGINT) AS dn_c,
         CAST(SUM(CASE WHEN is_t = 1 THEN vm ELSE 0 END) AS BIGINT) AS ds_t,
         CAST(SUM(CASE WHEN is_t = 0 THEN vm ELSE 0 END) AS BIGINT) AS ds_c
  FROM e GROUP BY day
),
c AS (
  SELECT day,
         CAST(SUM(dn_t) OVER w AS BIGINT) AS n_t,
         CAST(SUM(dn_c) OVER w AS BIGINT) AS n_c,
         CAST(SUM(ds_t) OVER w AS BIGINT) AS s_t,
         CAST(SUM(ds_c) OVER w AS BIGINT) AS s_c
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
x AS (
  SELECT day, n_t, n_c,
         CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c AS delta,
         var_milli2 * (1.0 / n_t + 1.0 / n_c) AS vn
  FROM c CROSS JOIN sig
  WHERE n_t > 0 AND n_c > 0
),
l AS (
  SELECT day, n_t, n_c, delta, vn,
         0.5 * ln(vn / (vn + {_MSPRT_TAU_MILLI} * {_MSPRT_TAU_MILLI}))
         + delta * delta * ({_MSPRT_TAU_MILLI} * {_MSPRT_TAU_MILLI})
           / (2.0 * vn * (vn + {_MSPRT_TAU_MILLI} * {_MSPRT_TAU_MILLI}))
           AS log_lambda
  FROM x
)
SELECT CAST(day AS VARCHAR) AS day, n_t, n_c,
       floor(delta * 1000.0) / 1000000.0 AS mean_diff_q6,
       floor(log_lambda * 1000000.0) / 1000000.0 AS log_lambda_q6,
       floor(least(1.0, exp(-log_lambda)) * 1000000.0) / 1000000.0
         AS p_always_valid_q6,
       least(1.0, exp(-log_lambda)) < 0.05 AS reject_05
FROM l
""",
    tags=("analytics", "events", "stats"),
)
def events_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B inference via the mixture SPRT
    (Johari et al.'s always-valid p-values — the method behind
    peeking-safe experiment dashboards): for the deterministic hash
    assignment shared with `events_ab_assignment_srm`, the per-day
    CUMULATIVE mean difference in event value is scored with the
    normal-mixture likelihood ratio Λ_n = √(V/(V+τ²)) ·
    exp(Δ²τ²/(2V(V+τ²))), giving p_n = min(1, 1/Λ_n) that is valid at
    EVERY interim look (no alpha spending). σ² is the full-data
    population variance (known-variance formulation, documented), τ
    a fixed effect-size prior. Per-event values are treated as iid
    (documented simplification; the per-user variant composes with
    the CUPED reduction). Shape: one day-level histogram shuffle
    (map-side combined), a 1-row variance broadcast, one cumulative
    window over |days| rows — nothing else moves; the identical shape
    at 100 TB, where the day table is thousands of rows. Determinism:
    values floor-quantize to integer millis, every cumulative sum is
    exact int64, and ln/exp enter once per day row with an identical
    expression tree (floor-q6 outputs)."""
    ev = load_table(spark, sf_dir, "events")
    is_t = (
        F.expr(
            f"CAST(conv(substr(md5(concat('{_AB_SALT}', "
            "CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"
        )
        < 50
    ).cast("int")
    e = ev.select(
        F.col("ts").cast("date").alias("day"),
        is_t.alias("is_t"),
        F.floor(F.col("value") * 1000.0).cast("long").alias("vm"),
    )
    sig = e.agg(
        (
            (
                F.sum(F.col("vm") * F.col("vm")).cast("double")
                - F.sum("vm").cast("double") * F.sum("vm") / F.count("*")
            )
            / F.count("*")
        ).alias("var_milli2")
    )
    d = e.groupBy("day").agg(
        F.sum("is_t").cast("long").alias("dn_t"),
        (F.count("*") - F.sum("is_t")).cast("long").alias("dn_c"),
        F.sum(F.when(F.col("is_t") == 1, F.col("vm")).otherwise(0))
        .cast("long")
        .alias("ds_t"),
        F.sum(F.when(F.col("is_t") == 0, F.col("vm")).otherwise(0))
        .cast("long")
        .alias("ds_c"),
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select(
        "day",
        F.sum("dn_t").over(wcum).cast("long").alias("n_t"),
        F.sum("dn_c").over(wcum).cast("long").alias("n_c"),
        F.sum("ds_t").over(wcum).cast("long").alias("s_t"),
        F.sum("ds_c").over(wcum).cast("long").alias("s_c"),
    )
    tau2 = _MSPRT_TAU_MILLI * _MSPRT_TAU_MILLI
    x = (
        c.crossJoin(sig)
        .filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
        .select(
            "day",
            "n_t",
            "n_c",
            (
                F.col("s_t").cast("double") / F.col("n_t")
                - F.col("s_c").cast("double") / F.col("n_c")
            ).alias("delta"),
            (F.col("var_milli2") * (1.0 / F.col("n_t") + 1.0 / F.col("n_c"))).alias(
                "vn"
            ),
        )
    )
    log_lambda = 0.5 * F.log(F.col("vn") / (F.col("vn") + tau2)) + (
        F.col("delta") * F.col("delta") * tau2
    ) / (2.0 * F.col("vn") * (F.col("vn") + tau2))
    l = x.select("day", "n_t", "n_c", "delta", log_lambda.alias("log_lambda"))
    p = F.least(F.lit(1.0), F.exp(-F.col("log_lambda")))
    return l.select(
        F.col("day").cast("string").alias("day"),
        "n_t",
        "n_c",
        (F.floor(F.col("delta") * 1000.0) / 1_000_000.0).alias("mean_diff_q6"),
        (F.floor(F.col("log_lambda") * 1_000_000.0) / 1_000_000.0).alias(
            "log_lambda_q6"
        ),
        (F.floor(p * 1_000_000.0) / 1_000_000.0).alias("p_always_valid_q6"),
        (p < 0.05).alias("reject_05"),
    )


@register(
    "events_gini_concentration",
    oracle="""
WITH u AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, x,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY x, user_id) AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS sx
  FROM u
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_users,
       CAST(MAX(sx) AS BIGINT) AS n_events,
       floor((2.0 * CAST(SUM(i * x) AS BIGINT)
              / (CAST(MAX(n) AS DOUBLE) * MAX(sx))
              - (CAST(MAX(n) AS DOUBLE) + 1) / MAX(n))
             * 1000000.0) / 1000000.0 AS gini_q6
FROM r GROUP BY event_type
""",
    tags=("analytics", "events", "stats"),
)
def events_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity concentration within each
    event type — the standard inequality summary (0 = perfectly even,
    →1 = one whale) via the rank formula G = 2·Σᵢ i·xᵢ/(n·Σx) −
    (n+1)/n over counts sorted ascending, the same measure growth
    teams track for revenue/whale concentration and data teams for
    per-source corpus skew (a Gini near 1 on a shuffle key predicts
    the skew that `join_skew_salted` mitigates). Scale shape: one
    map-side-combined (type, user) count shuffle, then ONE rank
    window per type riding a (type)-keyed exchange of the user-level
    table — the unavoidable sort for an order statistic, partitioned
    by type so no global single-task sort exists. Determinism: rank
    ties broken by user_id; Σ i·xᵢ is an exact int64 sum; two final
    float divisions with identical trees."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("x")
    )
    wr = Window.partitionBy("event_type").orderBy("x", "user_id")
    wa = Window.partitionBy("event_type")
    r = u.select(
        "event_type",
        "x",
        F.row_number().over(wr).cast("long").alias("i"),
        F.count("*").over(wa).cast("long").alias("n"),
        F.sum("x").over(wa).cast("long").alias("sx"),
    )
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_users"),
        F.max("sx").cast("long").alias("n_events"),
        (
            F.floor(
                (
                    2.0
                    * F.sum(F.col("i") * F.col("x")).cast("long")
                    / (F.max("n").cast("double") * F.max("sx"))
                    - (F.max("n").cast("double") + 1) / F.max("n")
                )
                * 1_000_000.0
            )
            / 1_000_000.0
        ).alias("gini_q6"),
    )


@register(
    "events_causal_impact_its",
    oracle="""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS sv,
         CAST(COUNT(*) AS BIGINT) AS nd
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type,
         CAST(floor((CAST(sv AS DOUBLE) / nd) * 1000.0) AS BIGINT) AS ym,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS dd
  FROM d
),
m AS (
  SELECT event_type,
         CAST(MAX(dd) // 2 + 1 AS BIGINT) AS t0,
         CAST(SUM(CASE WHEN t <= dd // 2 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN t <= dd // 2 THEN t ELSE 0 END) AS BIGINT) AS st1,
         CAST(SUM(CASE WHEN t <= dd // 2 THEN ym ELSE 0 END) AS BIGINT) AS sy1,
         CAST(SUM(CASE WHEN t <= dd // 2 THEN t * t ELSE 0 END) AS BIGINT)
           AS stt1,
         CAST(SUM(CASE WHEN t <= dd // 2 THEN t * ym ELSE 0 END) AS BIGINT)
           AS sty1,
         CAST(SUM(CASE WHEN t > dd // 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN t > dd // 2 THEN t ELSE 0 END) AS BIGINT) AS st2,
         CAST(SUM(CASE WHEN t > dd // 2 THEN ym ELSE 0 END) AS BIGINT) AS sy2,
         CAST(SUM(CASE WHEN t > dd // 2 THEN t * t ELSE 0 END) AS BIGINT)
           AS stt2,
         CAST(SUM(CASE WHEN t > dd // 2 THEN t * ym ELSE 0 END) AS BIGINT)
           AS sty2
  FROM r GROUP BY event_type
),
f AS (
  SELECT event_type, t0, n1, n2,
         (CAST(n1 AS DOUBLE) * sty1 - CAST(st1 AS DOUBLE) * sy1)
           / (CAST(n1 AS DOUBLE) * stt1 - CAST(st1 AS DOUBLE) * st1) AS b1,
         (CAST(n2 AS DOUBLE) * sty2 - CAST(st2 AS DOUBLE) * sy2)
           / (CAST(n2 AS DOUBLE) * stt2 - CAST(st2 AS DOUBLE) * st2) AS b2,
         CAST(sy1 AS DOUBLE) / n1 AS my1, CAST(st1 AS DOUBLE) / n1 AS mt1,
         CAST(sy2 AS DOUBLE) / n2 AS my2, CAST(st2 AS DOUBLE) / n2 AS mt2
  FROM m WHERE n1 >= 2 AND n2 >= 2
)
SELECT event_type, n1 AS n_pre, n2 AS n_post,
       floor(b1) / 1000000.0 AS pre_slope_q6,
       floor(b2) / 1000000.0 AS post_slope_q6,
       floor(b2 - b1) / 1000000.0 AS slope_change_q6,
       floor(((my2 + b2 * (t0 - mt2)) - (my1 + b1 * (t0 - mt1))) / 1000.0
             * 1000.0) / 1000000.0 AS level_change_q6
FROM f
""",
    tags=("analytics", "events", "stats"),
)
def events_causal_impact_its(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series analysis (segmented regression — the
    quasi-experimental workhorse when an intervention hits EVERYONE at
    once and no control group exists, complementing the randomized
    `events_diff_in_diff`): per event type, fit separate OLS lines to
    the pre- and post-midpoint halves of the daily mean-value series
    and report the slope change and the level jump at the intervention
    index (post fit minus pre counterfactual, both evaluated at t0 via
    the mean-centered form ȳ + b·(t0 − t̄)). Scale shape: one
    map-side-combined (type, day) shuffle, a per-type rank window over
    the tiny day table, then conditional exact-int64 moment sums — the
    corpus is touched once regardless of size. Determinism: daily
    means quantized to int64 micro-units before any cross-day sum;
    normal equations in doubles with identical trees; halves with
    fewer than 2 days are excluded on both engines (slope undefined).
    Slopes are reported in value-units/day (micro-unit fits divided by
    1e6, floored at micro precision)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000.0).cast("long"))
        .cast("long")
        .alias("sv"),
        F.count("*").cast("long").alias("nd"),
    )
    wr = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    r = d.select(
        "event_type",
        F.floor((F.col("sv").cast("double") / F.col("nd")) * 1000.0)
        .cast("long")
        .alias("ym"),
        F.row_number().over(wr).cast("long").alias("t"),
        F.count("*").over(wa).cast("long").alias("dd"),
    )
    half = F.col("t") <= F.floor(F.col("dd") / 2).cast("long")
    z = F.lit(0).cast("long")

    def cm(cond, expr, name):
        return F.sum(F.when(cond, expr).otherwise(z)).cast("long").alias(name)

    t, ym = F.col("t"), F.col("ym")
    m = r.groupBy("event_type").agg(
        (F.floor(F.max("dd") / 2) + 1).cast("long").alias("t0"),
        cm(half, F.lit(1), "n1"),
        cm(half, t, "st1"),
        cm(half, ym, "sy1"),
        cm(half, t * t, "stt1"),
        cm(half, t * ym, "sty1"),
        cm(~half, F.lit(1), "n2"),
        cm(~half, t, "st2"),
        cm(~half, ym, "sy2"),
        cm(~half, t * t, "stt2"),
        cm(~half, t * ym, "sty2"),
    )

    def slope(n, st, sy, stt, sty):
        return (
            F.col(n).cast("double") * F.col(sty)
            - F.col(st).cast("double") * F.col(sy)
        ) / (
            F.col(n).cast("double") * F.col(stt)
            - F.col(st).cast("double") * F.col(st)
        )

    f = m.filter((F.col("n1") >= 2) & (F.col("n2") >= 2)).select(
        "event_type",
        "t0",
        "n1",
        "n2",
        slope("n1", "st1", "sy1", "stt1", "sty1").alias("b1"),
        slope("n2", "st2", "sy2", "stt2", "sty2").alias("b2"),
        (F.col("sy1").cast("double") / F.col("n1")).alias("my1"),
        (F.col("st1").cast("double") / F.col("n1")).alias("mt1"),
        (F.col("sy2").cast("double") / F.col("n2")).alias("my2"),
        (F.col("st2").cast("double") / F.col("n2")).alias("mt2"),
    )
    lvl = (
        F.col("my2") + F.col("b2") * (F.col("t0") - F.col("mt2"))
    ) - (F.col("my1") + F.col("b1") * (F.col("t0") - F.col("mt1")))
    return f.select(
        "event_type",
        F.col("n1").alias("n_pre"),
        F.col("n2").alias("n_post"),
        (F.floor(F.col("b1")) / 1_000_000.0).alias("pre_slope_q6"),
        (F.floor(F.col("b2")) / 1_000_000.0).alias("post_slope_q6"),
        (F.floor(F.col("b2") - F.col("b1")) / 1_000_000.0).alias(
            "slope_change_q6"
        ),
        (F.floor(lvl / 1000.0 * 1000.0) / 1_000_000.0).alias(
            "level_change_q6"
        ),
    )


@register(
    "events_iptw_ate",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN CAST('0x' || substr(md5('{_AB_SALT}'
                   || CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 100 < 50
              THEN 1 ELSE 0 END AS t,
         CAST(COUNT(*) AS BIGINT) AS activity,
         CAST(SUM(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
b AS (
  SELECT *, CAST(least(activity // 5, 9) AS BIGINT) AS stratum FROM u
),
p AS (
  SELECT stratum,
         CAST(SUM(t) AS BIGINT) AS n_t,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS DOUBLE) / COUNT(*) AS ps
  FROM b GROUP BY stratum
),
w AS (
  SELECT b.t, b.y, p.ps,
         CASE WHEN b.t = 1 THEN 1.0 / p.ps
              ELSE 1.0 / (1.0 - p.ps) END AS iw
  FROM b JOIN p USING (stratum)
  WHERE p.n_t > 0 AND p.n_t < p.n
),
s AS (
  SELECT
    CAST(SUM(CASE WHEN t = 1
         THEN CAST(floor(y * iw) AS BIGINT) ELSE 0 END) AS BIGINT) AS wy_t,
    CAST(SUM(CASE WHEN t = 1
         THEN CAST(floor(1000000.0 * iw) AS BIGINT) ELSE 0 END)
      AS BIGINT) AS wn_t,
    CAST(SUM(CASE WHEN t = 0
         THEN CAST(floor(y * iw) AS BIGINT) ELSE 0 END) AS BIGINT) AS wy_c,
    CAST(SUM(CASE WHEN t = 0
         THEN CAST(floor(1000000.0 * iw) AS BIGINT) ELSE 0 END)
      AS BIGINT) AS wn_c,
    CAST(COUNT(*) AS BIGINT) AS n_users
  FROM w
)
SELECT n_users,
       floor(CAST(wy_t AS DOUBLE) / (CAST(wn_t AS DOUBLE) / 1000000.0)
             * 1000.0) / 1000000.0 AS mu_t_q6,
       floor(CAST(wy_c AS DOUBLE) / (CAST(wn_c AS DOUBLE) / 1000000.0)
             * 1000.0) / 1000000.0 AS mu_c_q6,
       floor((CAST(wy_t AS DOUBLE) / (CAST(wn_t AS DOUBLE) / 1000000.0)
              - CAST(wy_c AS DOUBLE) / (CAST(wn_c AS DOUBLE) / 1000000.0))
             * 1000.0) / 1000000.0 AS ate_q6
FROM s
""",
    tags=("analytics", "events", "stats"),
)
def events_iptw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect by inverse-propensity-of-treatment
    weighting (Horvitz-Thompson with stabilized Hájek normalization) —
    the observational-causal counterpart of the randomized
    `events_cuped_adjustment`: propensity is estimated per activity
    stratum (decile-capped activity buckets, the classic
    stratification estimator), each user is weighted 1/p(t|x) or
    1/(1−p), and the ATE is the weighted outcome-mean difference;
    strata with no overlap (all-treated or all-control — positivity
    violation) are excluded on both engines, exactly as the estimator
    requires. Scale shape: one user-grid shuffle, a stratum-count
    broadcast join, one final weighted aggregate — at 100 TB the
    stratum table is 10 rows and everything else is map-side combined.
    Determinism: weighted sums floor-quantize per user (outcome·w to
    int millis, w to int micros) before the cross-user sum, so float
    order never matters; propensities are exact count ratios."""
    ev = load_table(spark, sf_dir, "events")
    is_t = (
        F.expr(
            f"CAST(conv(substr(md5(concat('{_AB_SALT}', "
            "CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"
        )
        < 50
    ).cast("int")
    u = ev.groupBy("user_id").agg(
        F.max(is_t).alias("t"),
        F.count("*").cast("long").alias("activity"),
        F.sum(F.floor(F.col("value") * 1000.0).cast("long"))
        .cast("long")
        .alias("y"),
    )
    b = u.select(
        "t",
        "y",
        F.least(F.floor(F.col("activity") / 5), F.lit(9))
        .cast("long")
        .alias("stratum"),
    )
    p = b.groupBy("stratum").agg(
        F.sum("t").cast("long").alias("n_t"),
        F.count("*").cast("long").alias("n"),
        (F.sum("t").cast("double") / F.count("*")).alias("ps"),
    )
    w = b.join(F.broadcast(p), "stratum").filter(
        (F.col("n_t") > 0) & (F.col("n_t") < F.col("n"))
    )
    iw = F.when(F.col("t") == 1, 1.0 / F.col("ps")).otherwise(
        1.0 / (1.0 - F.col("ps"))
    )
    z = F.lit(0).cast("long")
    s = w.agg(
        F.sum(
            F.when(F.col("t") == 1, F.floor(F.col("y") * iw).cast("long"))
            .otherwise(z)
        )
        .cast("long")
        .alias("wy_t"),
        F.sum(
            F.when(
                F.col("t") == 1, F.floor(1_000_000.0 * iw).cast("long")
            ).otherwise(z)
        )
        .cast("long")
        .alias("wn_t"),
        F.sum(
            F.when(F.col("t") == 0, F.floor(F.col("y") * iw).cast("long"))
            .otherwise(z)
        )
        .cast("long")
        .alias("wy_c"),
        F.sum(
            F.when(
                F.col("t") == 0, F.floor(1_000_000.0 * iw).cast("long")
            ).otherwise(z)
        )
        .cast("long")
        .alias("wn_c"),
        F.count("*").cast("long").alias("n_users"),
    )
    mu_t = F.col("wy_t").cast("double") / (
        F.col("wn_t").cast("double") / 1_000_000.0
    )
    mu_c = F.col("wy_c").cast("double") / (
        F.col("wn_c").cast("double") / 1_000_000.0
    )
    return s.select(
        "n_users",
        (F.floor(mu_t * 1000.0) / 1_000_000.0).alias("mu_t_q6"),
        (F.floor(mu_c * 1000.0) / 1_000_000.0).alias("mu_c_q6"),
        (F.floor((mu_t - mu_c) * 1000.0) / 1_000_000.0).alias("ate_q6"),
    )


# --- Two-period Poisson rate test ---------------------------------------------

_PRT_SPLIT_DAYS = 15  # exposure split: first 15 days vs the rest


@register(
    "events_poisson_rate_test",
    oracle=f"""
WITH b AS (
  SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events
),
c AS (
  SELECT e.event_type,
         CAST(SUM(CASE WHEN CAST(e.ts AS DATE) < b.lo + {_PRT_SPLIT_DAYS}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN CAST(e.ts AS DATE) >= b.lo + {_PRT_SPLIT_DAYS}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(MAX(date_diff('day', b.lo, b.hi)) + 1 AS BIGINT) AS total_days
  FROM events e, b GROUP BY e.event_type
)
SELECT event_type, n1, n2,
       floor((CAST(n2 AS DOUBLE) / (total_days - {_PRT_SPLIT_DAYS}))
             / (CAST(n1 AS DOUBLE) / {_PRT_SPLIT_DAYS}) * 1000000.0)
         / 1000000.0 AS rate_ratio_q6,
       floor((n1 - (n1 + n2) * (CAST({_PRT_SPLIT_DAYS} AS DOUBLE) / total_days))
             / sqrt((n1 + n2) * (CAST({_PRT_SPLIT_DAYS} AS DOUBLE) / total_days)
                    * (1.0 - CAST({_PRT_SPLIT_DAYS} AS DOUBLE) / total_days))
             * 1000000.0) / 1000000.0 AS z_q6
FROM c
WHERE n1 > 0 AND n2 > 0 AND total_days > {_PRT_SPLIT_DAYS}
""",
    tags=("analytics", "events", "stats"),
)
def events_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-period Poisson rate comparison per event type — "did the
    event rate CHANGE between the first 15 days and the
    rest?", the count-data companion to `stats_welch_ttest` (means) and
    `events_ab_assignment_srm` (allocation): under H₀ the period-1
    count is Binomial(n₁+n₂, t₁/T) conditional on the total (the exact
    conditional test), scored by its normal approximation
    z = (n₁ − n·p₀)/√(n·p₀(1−p₀)). Scale: ONE pass over events (both
    period counts as conditional sums in the same aggregate, exposure
    from a broadcast 1-row bounds aggregate); counts and day spans are
    exact int64, z and the rate ratio are single identical double
    expressions floored at 1e-6."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    e = ev.crossJoin(b)
    c = e.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.col("ts").cast("date")
                < F.date_add(F.col("lo"), _PRT_SPLIT_DAYS),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n1"),
        F.sum(
            F.when(
                F.col("ts").cast("date")
                >= F.date_add(F.col("lo"), _PRT_SPLIT_DAYS),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n2"),
        (F.max(F.datediff(F.col("hi"), F.col("lo"))) + 1)
        .cast("long")
        .alias("total_days"),
    )
    n1, n2, td = F.col("n1"), F.col("n2"), F.col("total_days")
    p0 = F.lit(float(_PRT_SPLIT_DAYS)).cast("double") / td
    rr = (n2.cast("double") / (td - _PRT_SPLIT_DAYS)) / (
        n1.cast("double") / _PRT_SPLIT_DAYS
    )
    z = (n1 - (n1 + n2) * p0) / F.sqrt((n1 + n2) * p0 * (1.0 - p0))
    return c.filter((n1 > 0) & (n2 > 0) & (td > _PRT_SPLIT_DAYS)).select(
        "event_type",
        "n1",
        "n2",
        (F.floor(rr * 1_000_000.0) / 1_000_000.0).alias("rate_ratio_q6"),
        (F.floor(z * 1_000_000.0) / 1_000_000.0).alias("z_q6"),
    )


# --- Bass diffusion grid fit ----------------------------------------------------

_BASS_P_GRID = 10  # p = i/500, i in 1..10  (0.002 .. 0.020)
_BASS_Q_GRID = 10  # q = j/20,  j in 1..10  (0.05  .. 0.50)


@register(
    "events_bass_diffusion",
    oracle=f"""
WITH fe AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day0 FROM events GROUP BY user_id
),
b AS (SELECT MIN(CAST(ts AS DATE)) AS lo FROM events),
adopt AS (
  SELECT CAST(date_diff('day', b.lo, fe.day0) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS d
  FROM fe, b GROUP BY 1
),
m AS (SELECT CAST(SUM(d) AS BIGINT) AS mm FROM adopt),
curve AS (
  SELECT t, d,
         CAST(COALESCE(SUM(d) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS a_prev
  FROM adopt
),
gridp AS (SELECT unnest(range(1, {_BASS_P_GRID + 1})) AS pi),
gridq AS (SELECT unnest(range(1, {_BASS_Q_GRID + 1})) AS qi),
sse AS (
  SELECT g.pi, g.qi,
         CAST(SUM(CAST(floor(
           (c.d - (g.pi / 500.0 + g.qi / 20.0 * c.a_prev / m.mm)
                  * (m.mm - c.a_prev))
           * (c.d - (g.pi / 500.0 + g.qi / 20.0 * c.a_prev / m.mm)
                  * (m.mm - c.a_prev))) AS BIGINT)) AS BIGINT) AS e
  FROM (SELECT p.pi, q.qi FROM gridp p, gridq q) g, curve c, m
  GROUP BY g.pi, g.qi
),
best AS (SELECT min([e, pi, qi]) AS w FROM sse)
SELECT w[2] / 500.0 AS p_fit, w[3] / 20.0 AS q_fit,
       CAST(w[1] AS BIGINT) AS sse_floor,
       (SELECT mm FROM m) AS m_users,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM curve) AS n_days
FROM best
""",
    tags=("analytics", "events", "iterative"),
)
def events_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion-model fit to the user-adoption curve — the
    classic innovation/imitation growth decomposition (Bass 1969):
    daily new adopters d̂ₜ = (p + q·Aₜ₋₁/M)(M − Aₜ₋₁), fit by exact grid
    search over 10×10 (p, q) combinations
    against the observed first-event curve. Scale mechanics: the corpus
    collapses to per-user first days (one shuffle) then to the bounded
    daily adoption curve; the grid×days cross join is ~3000 tiny rows.
    Exactness: adopters/cumulative counts are exact int64 (the
    cumulative uses an explicit ROWS frame); each day's squared error
    floor-quantizes to int64 BEFORE the per-combo sum, so the argmin
    (min-struct with (pi, qi) integer tiebreak) is exact; p/q emit as
    single divisions of grid integers."""
    ev = load_table(spark, sf_dir, "events")
    fe = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day0")
    )
    b = ev.agg(F.min(F.col("ts").cast("date")).alias("lo"))
    adopt = (
        fe.crossJoin(F.broadcast(b))
        .select(F.datediff("day0", "lo").cast("long").alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("d"))
    )
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    # divergence point: m, the grid cross, and the n_days count all
    # consume the (bounded, ~30-row) curve — checkpoint so the
    # events-scale adoption aggregate runs once, not per consumer
    curve = adopt.select(
        "t",
        "d",
        F.coalesce(F.sum("d").over(wc), F.lit(0)).cast("long").alias("a_prev"),
    ).localCheckpoint(eager=False)
    m = curve.agg(F.sum("d").cast("long").alias("mm"))
    grid = (
        spark.range(1, _BASS_P_GRID + 1)
        .select(F.col("id").alias("pi"))
        .crossJoin(
            spark.range(1, _BASS_Q_GRID + 1).select(F.col("id").alias("qi"))
        )
    )
    full = grid.crossJoin(F.broadcast(curve)).crossJoin(F.broadcast(m))
    pred = (
        F.col("pi") / 500.0
        + F.col("qi") / 20.0 * F.col("a_prev") / F.col("mm")
    ) * (F.col("mm") - F.col("a_prev"))
    err = F.floor((F.col("d") - pred) * (F.col("d") - pred)).cast("long")
    sse = full.groupBy("pi", "qi").agg(F.sum(err).cast("long").alias("e"))
    best = sse.agg(
        F.min(F.struct(F.col("e"), F.col("pi"), F.col("qi"))).alias("w")
    )
    counts = curve.agg(F.count("*").cast("long").alias("n_days")).crossJoin(m)
    return best.crossJoin(F.broadcast(counts)).select(
        (F.col("w.pi") / 500.0).alias("p_fit"),
        (F.col("w.qi") / 20.0).alias("q_fit"),
        F.col("w.e").cast("long").alias("sse_floor"),
        F.col("mm").alias("m_users"),
        "n_days",
    )


# --- Shapley channel attribution ------------------------------------------------

# factorial as a CASE expression (shared text on both engines; k <= 6
# channels by design => arguments bounded by 5)
def _fact_sql(arg: str) -> str:
    return (
        f"CASE CAST({arg} AS BIGINT) WHEN 0 THEN 1 WHEN 1 THEN 1 "
        "WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 24 WHEN 5 THEN 120 "
        "WHEN 6 THEN 720 END"
    )


_SHAP_CONV = "purchase"  # the conversion event; all other types are channels


@register(
    "events_shapley_attribution",
    oracle=f"""
WITH chan AS (
  SELECT event_type AS ch,
         CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS bit
  FROM (SELECT DISTINCT event_type FROM events
        WHERE event_type <> '{_SHAP_CONV}')
),
kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM chan),
conv AS (
  SELECT user_id, MIN(ts) AS conv_ts FROM events
  WHERE event_type = '{_SHAP_CONV}' GROUP BY 1
),
masks AS (
  SELECT c.user_id,
         CAST(COALESCE(bit_or(CASE WHEN e.ts < c.conv_ts
                              THEN (1::BIGINT << ch.bit) END), 0) AS BIGINT)
           AS mask
  FROM conv c
  LEFT JOIN events e
    ON e.user_id = c.user_id AND e.event_type <> '{_SHAP_CONV}'
  LEFT JOIN chan ch ON ch.ch = e.event_type
  GROUP BY 1
),
cmask AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS c FROM masks GROUP BY 1),
spine AS (
  SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS s
),
spine_k AS (SELECT s FROM spine, kk WHERE s < (1::BIGINT << kk.k)),
v AS (
  SELECT s.s, CAST(COALESCE(SUM(cm.c), 0) AS BIGINT) AS v
  FROM spine_k s LEFT JOIN cmask cm ON (cm.mask & s.s) = cm.mask
  GROUP BY 1
),
terms AS (
  SELECT ch.ch, ch.bit, CAST(bit_count(v1.s) AS BIGINT) AS sz,
         v2.v - v1.v AS marg
  FROM chan ch
  JOIN v v1 ON (v1.s & (1::BIGINT << ch.bit)) = 0
  JOIN v v2 ON v2.s = (v1.s | (1::BIGINT << ch.bit))
)
SELECT t.ch AS channel, CAST(t.bit AS BIGINT) AS bit,
       CAST(SUM(({_fact_sql('t.sz')}) * ({_fact_sql('kk.k - 1 - t.sz')})
                * t.marg) AS BIGINT) AS shapley_num,
       floor(CAST(SUM(({_fact_sql('t.sz')}) * ({_fact_sql('kk.k - 1 - t.sz')})
                      * t.marg) AS DOUBLE)
             / ({_fact_sql('kk.k')}) * 1000000.0) / 1000000.0 AS shapley_q6
FROM terms t CROSS JOIN kk
GROUP BY 1, 2, kk.k ORDER BY 1
""",
    tags=("analytics", "growth"),
)
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value marketing attribution over the channel-set
    coalition game (Shapley 1953 applied to conversion credit — the
    principled alternative to `events_attribution_touch`'s first/last
    heuristics): v(S) = number of conversions whose pre-conversion
    channel set ⊆ S, and each channel's credit is its exact Shapley
    value Σ_{{S∌i}} |S|!(k−1−|S|)!/k! · (v(S∪i)−v(S)). The scale
    mechanism: the corpus collapses in TWO keyed shuffles (first-
    purchase per user, then one bit_or per converted user) to a ≤2^k-row
    mask-count table; the whole subset lattice (2^k ≤ 64 rows, k ≤ 6
    channels by design) and the marginal-contribution sum live on
    broadcast-sized tables. Every quantity through shapley_num is an
    exact int64 — factorial weights are CASE literals ×k! (the common
    denominator), so the only float is the final display division.
    Efficiency axiom (Σ credits = v(full) − v(∅)) is pinned by a pytest
    invariant. Non-converting users contribute nothing; channels never
    seen pre-conversion get exactly 0."""
    ev = load_table(spark, sf_dir, "events")
    chan = (
        ev.filter(F.col("event_type") != _SHAP_CONV)
        .select(F.col("event_type").alias("ch"))
        .distinct()
        .select(
            "ch",
            (
                F.row_number().over(Window.orderBy("ch")) - 1
            )
            .cast("long")
            .alias("bit"),
        )
    ).localCheckpoint(eager=False)  # tiny; feeds mask build AND terms
    kk = chan.agg(F.count("*").cast("long").alias("k"))
    conv = (
        ev.filter(F.col("event_type") == _SHAP_CONV)
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    evch = (
        ev.filter(F.col("event_type") != _SHAP_CONV)
        .join(F.broadcast(chan), ev.event_type == chan.ch)
        .select("user_id", "ts", "bit")
    )
    masks = (
        conv.join(evch, "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.bit_or(
                    F.when(
                        F.col("ts") < F.col("conv_ts"),
                        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("mask")
        )
    )
    cmask = masks.groupBy("mask").agg(F.count("*").cast("long").alias("c"))
    spine = spark.range(64).select(F.col("id").cast("long").alias("s"))
    spine_k = spine.crossJoin(kk).filter(
        F.col("s") < F.expr("shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))")
    )
    v = (
        spine_k.join(
            F.broadcast(cmask),
            cmask.mask.bitwiseAND(F.col("s")) == cmask.mask,
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("v"))
    ).localCheckpoint(eager=False)  # feeds both sides of the marginal join
    bitmask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("va"))
    v2 = v.select(F.col("s").alias("s2"), F.col("v").alias("vb"))
    terms = (
        chan.crossJoin(v1)
        .filter(F.col("s1").bitwiseAND(bitmask) == 0)
        .join(v2, F.col("s2") == F.col("s1").bitwiseOR(bitmask))
        .select(
            "ch",
            "bit",
            F.bit_count("s1").cast("long").alias("sz"),
            (F.col("vb") - F.col("va")).alias("marg"),
        )
    )
    t = terms.crossJoin(kk)
    wnum = (
        F.expr(_fact_sql("sz")) * F.expr(_fact_sql("k - 1 - sz")) * F.col("marg")
    )
    return (
        t.groupBy(F.col("ch").alias("channel"), F.col("bit"), F.col("k"))
        .agg(F.sum(wnum).cast("long").alias("shapley_num"))
        .select(
            "channel",
            "bit",
            "shapley_num",
            (
                F.floor(
                    F.col("shapley_num").cast("double")
                    / F.expr(_fact_sql("k"))
                    * 1e6
                )
                / 1e6
            ).alias("shapley_q6"),
        )
    )


# --- propensity-stratified 1:1 matching -------------------------------------------

_PM_STRATA = 10


@register(
    "events_propensity_match_att",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
              AS BIGINT) AS cov,
         CAST(CASE WHEN SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 5
                        > COUNT(*) THEN 1 ELSE 0 END
              AS BIGINT) AS treated,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS out_cents
  FROM events GROUP BY 1
),
s AS (
  SELECT *, CAST(ntile({_PM_STRATA}) OVER (ORDER BY cov, user_id) AS BIGINT)
              AS stratum
  FROM u
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY stratum, treated
                               ORDER BY cov, user_id) AS rk
  FROM s
),
pairs AS (
  SELECT t.stratum, t.out_cents AS t_out, c.out_cents AS c_out
  FROM r t JOIN r c
    ON c.stratum = t.stratum AND c.rk = t.rk
   AND t.treated = 1 AND c.treated = 0
)
SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(t_out - c_out) AS BIGINT) AS sum_diff_cents,
       floor(CAST(SUM(t_out - c_out) AS DOUBLE) / (COUNT(*) * 100.0)
             * 1000000.0) / 1000000.0 AS att_q6
FROM pairs GROUP BY 1 ORDER BY 1
""",
    tags=("analytics", "growth", "causal"),
)
def events_propensity_match_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect on the treated (ATT) by DETERMINISTIC
    1:1 rank matching inside propensity strata — the matching-estimator
    companion to `events_iptw_ate` (weighting) and
    `events_diff_in_diff` (panel): treatment = HEAVY-error user (error
    share above the 20% uniform base rate, an exact integer predicate
    n_err*5 > n — "ever hit an error" is degenerate on this corpus:
    every user has, so matching found zero control arms and returned
    empty at every tier), outcome = lifetime purchase cents,
    confounder = browsing intensity (view+click count), stratified
    into 10 ntile strata. Matching is rank-pairing within (stratum, arm) ordered by
    (covariate, user_id) — fully deterministic (no caliper randomness),
    reproducible across engines, and each unmatched surplus row drops
    out via the inner join exactly as 1:1 matching without replacement
    prescribes. Scale shape: one events→user aggregate (keyed shuffle),
    windows over the USER table (already |users| ≪ corpus; the ntile
    total order is over an Aggregate output, which the window audit
    allows — at 10⁹ users switch to fixed covariate-range strata),
    one self-join on (stratum, rank). Outcomes stay exact integer
    cents until the final ATT division."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0))
        .cast("long")
        .alias("cov"),
        F.when(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)) * 5
            > F.count("*"),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("treated"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("out_cents"),
    )
    s = u.withColumn(
        "stratum",
        F.ntile(_PM_STRATA)
        .over(Window.orderBy("cov", "user_id"))
        .cast("long"),
    )
    r = s.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("stratum", "treated").orderBy("cov", "user_id")
        ),
    ).localCheckpoint(eager=False)  # both sides of the pair join
    t = r.filter(F.col("treated") == 1).select(
        "stratum", "rk", F.col("out_cents").alias("t_out")
    )
    c = r.filter(F.col("treated") == 0).select(
        "stratum", "rk", F.col("out_cents").alias("c_out")
    )
    pairs = t.join(c, ["stratum", "rk"])
    return (
        pairs.groupBy("stratum")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.col("t_out") - F.col("c_out"))
            .cast("long")
            .alias("sum_diff_cents"),
        )
        .select(
            "stratum",
            "n_pairs",
            "sum_diff_cents",
            (
                F.floor(
                    F.col("sum_diff_cents").cast("double")
                    / (F.col("n_pairs") * 100.0)
                    * 1e6
                )
                / 1e6
            ).alias("att_q6"),
        )
    )
