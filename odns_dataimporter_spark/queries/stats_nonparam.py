"""Nonparametric test completions (EXT surface): Kruskal-Wallis (k-group
rank ANOVA), Friedman (repeated-measures rank test over blocks),
Wilcoxon signed-rank (paired one-sample), and McNemar (paired binary) —
closing the classical nonparametric family around the existing
Mann-Whitney / Mood / Levene / ANOVA / Tukey ops.

House determinism discipline (same as stats_ops.py): every rank is a
DOUBLED midrank computed from the cumulative tie histogram — an exact
integer — so all rank sums and tie corrections are int64 folds; a
single identical float expression per engine produces the final
statistic, floored at 1e-6. No global row sort anywhere: ranking is a
groupBy on the bounded value histogram plus one window over the
|distinct values| table (range-partition it at 100 TB), exactly the
`stats_mann_whitney` / `stats_spearman_corr` scale shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from odns_dataimporter_spark.queries._helpers import scalable_prefix_sum
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


@register(
    "stats_kruskal_wallis",
    oracle="""
WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  o_orderpriority AS g
           FROM orders),
d AS (SELECT cents, g, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
t AS (SELECT cents, CAST(SUM(c) AS BIGINT) AS ct FROM d GROUP BY 1),
cu AS (SELECT cents, ct,
              CAST(COALESCE(SUM(ct) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum
       FROM t),
gr AS (SELECT d.g,
              CAST(SUM(d.c) AS BIGINT) AS n_i,
              CAST(SUM(d.c * (2 * cu.cum + cu.ct + 1)) AS BIGINT) AS r_x2
       FROM d JOIN cu ON d.cents = cu.cents GROUP BY d.g),
ties AS (SELECT CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tiesum,
                CAST(SUM(ct) AS BIGINT) AS n
         FROM cu),
h AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, n, tiesum,
             SUM(CAST(r_x2 AS DOUBLE) * CAST(r_x2 AS DOUBLE)
                 / (4.0 * CAST(n_i AS DOUBLE))) AS sumr2
      FROM gr CROSS JOIN ties GROUP BY n, tiesum)
SELECT k, n,
       floor((12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) * sumr2
              - 3.0 * CAST(n + 1 AS DOUBLE)) * 1000000.0) / 1000000.0
         AS h_q6,
       floor((12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) * sumr2
              - 3.0 * CAST(n + 1 AS DOUBLE))
             / (1.0 - CAST(tiesum AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   - CAST(n AS DOUBLE)))
             * 1000000.0) / 1000000.0 AS h_tie_q6
FROM h
""",
    tags=("stats",),
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five order priorities over order
    totals — the k-group generalization of `stats_mann_whitney` and
    the rank-based sibling of `stats_anova_oneway` (use it when the
    per-group normality ANOVA assumes is not defensible). Exact tie
    handling: per distinct cent value the DOUBLED midrank
    2·cum + t + 1 is an integer, so each group's doubled rank sum
    R_i·2 and the tie term Σ(t³−t) are exact int64; H and its
    tie-corrected form H/C are then one identical float expression per
    engine (Σ(R_i·2)²/(4n_i) folds group-level doubles over a 5-row
    table — order effects cannot arise below 2⁻⁵³ there). Shape: one
    groupBy on (cents, priority), one window over the |distinct cents|
    histogram, a 5-row group reduce — no global row sort."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("g"),
    )
    d = v.groupBy("cents", "g").agg(F.count("*").cast("long").alias("c"))
    t = d.groupBy("cents").agg(F.sum("c").cast("long").alias("ct"))
    # histogram prefix sum, SIZE-TIERED (r11, VERDICT r10 item 4): the
    # |distinct cents| histogram is value-domain-bounded locally but
    # grows with the corpus until domain saturation, so past ~1M
    # estimated base rows the exclusive running sum is computed by the
    # range-partitioned scalable_prefix_sum instead of a single-task
    # global window. Identical int64 result either way (equality
    # pinned in tests/test_round11_invariants.py).
    from odns_dataimporter_spark.size_hints import derived_prefix_distributed

    if derived_prefix_distributed(sf_dir, "orders"):
        cu = scalable_prefix_sum(t, ["cents"], "ct", out="cum").select(
            "cents", "ct", F.col("cum").cast("long").alias("cum")
        )
    else:
        w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
        cu = t.select(
            "cents",
            "ct",
            F.coalesce(F.sum("ct").over(w), F.lit(0)).cast("long").alias("cum"),
        )
    gr = (
        d.join(cu, "cents")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_i"),
            F.sum(F.col("c") * (2 * F.col("cum") + F.col("ct") + 1))
            .cast("long")
            .alias("r_x2"),
        )
    )
    ties = cu.agg(
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("long")
        .alias("tiesum"),
        F.sum("ct").cast("long").alias("n"),
    )
    h = gr.crossJoin(ties).groupBy("n", "tiesum").agg(
        F.count("*").cast("long").alias("k"),
        F.sum(
            F.col("r_x2").cast("double")
            * F.col("r_x2").cast("double")
            / (4.0 * F.col("n_i").cast("double"))
        ).alias("sumr2"),
    )
    n = F.col("n").cast("double")
    raw = 12.0 / (n * (F.col("n") + 1).cast("double")) * F.col("sumr2") - 3.0 * (
        F.col("n") + 1
    ).cast("double")
    corr = 1.0 - F.col("tiesum").cast("double") / (n * n * n - n)
    return h.select(
        "k",
        "n",
        (F.floor(raw * 1e6) / 1e6).alias("h_q6"),
        (F.floor(raw / corr * 1e6) / 1e6).alias("h_tie_q6"),
    )


@register(
    "stats_friedman",
    oracle="""
WITH cells AS (
  SELECT CAST(ts AS DATE) AS day, event_type AS trt,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), days AS (SELECT DISTINCT day FROM cells),
trts AS (SELECT DISTINCT trt FROM cells),
grid AS (
  SELECT d.day, t.trt, CAST(COALESCE(c.v, 0) AS BIGINT) AS v
  FROM days d CROSS JOIN trts t
  LEFT JOIN cells c ON c.day = d.day AND c.trt = t.trt
),
rk AS (
  SELECT a.day, a.trt,
         CAST(2 + 2 * SUM(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
                + SUM(CASE WHEN b.v = a.v AND b.trt <> a.trt THEN 1 ELSE 0 END)
              AS BIGINT) AS r_x2
  FROM grid a JOIN grid b ON b.day = a.day
  GROUP BY a.day, a.trt
),
rs AS (SELECT trt, CAST(SUM(r_x2) AS BIGINT) AS rsum_x2,
              CAST(COUNT(*) AS BIGINT) AS n_blocks
       FROM rk GROUP BY 1),
f AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, MIN(n_blocks) AS n,
             SUM(CAST(rsum_x2 AS DOUBLE) * CAST(rsum_x2 AS DOUBLE) / 4.0)
               AS sumr2
      FROM rs)
SELECT k, n,
       floor((12.0 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                      * CAST(k + 1 AS DOUBLE)) * sumr2
              - 3.0 * CAST(n AS DOUBLE) * CAST(k + 1 AS DOUBLE))
             * 1000000.0) / 1000000.0 AS chi2_q6
FROM f
""",
    tags=("stats", "timeseries"),
)
def stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman repeated-measures rank test: blocks = calendar days,
    treatments = the five event types, measurement = the day's event
    count (zero-filled on the dense day×type grid so a silent type
    ranks last instead of vanishing). Within each block the DOUBLED
    midrank of each treatment is 2 + 2·(#worse) + (#tied-others) — an
    exact integer computed by a k²-bounded self-join per block (k=5,
    never corpus-scale), so the per-treatment rank sums are exact
    int64 and χ²_F is one shared float expression over the k-row
    reduce. Complements `stats_anova_oneway` (independent groups) with
    the BLOCKED design a seasonality-confounded metric needs. Shape:
    one events-scale day×type aggregate, then everything is
    |days|·k² ≤ bounded; the block self-join keys on day so it rides
    one keyed shuffle."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.col("event_type").alias("trt"),
    ).agg(F.count("*").cast("long").alias("v"))
    days = cells.select("day").distinct()
    trts = cells.select("trt").distinct()
    grid = (
        days.crossJoin(F.broadcast(trts))
        .join(cells, ["day", "trt"], "left")
        .select("day", "trt", F.coalesce("v", F.lit(0)).cast("long").alias("v"))
        .localCheckpoint(eager=False)  # both sides of the rank self-join
    )
    b = grid.select(
        F.col("day").alias("bday"),
        F.col("trt").alias("btrt"),
        F.col("v").alias("bv"),
    )
    rk = (
        grid.join(b, F.col("bday") == F.col("day"))
        .groupBy("day", "trt")
        .agg(
            (
                2
                + 2 * F.sum(F.when(F.col("bv") < F.col("v"), 1).otherwise(0))
                + F.sum(
                    F.when(
                        (F.col("bv") == F.col("v"))
                        & (F.col("btrt") != F.col("trt")),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias("r_x2")
        )
    )
    rs = rk.groupBy("trt").agg(
        F.sum("r_x2").cast("long").alias("rsum_x2"),
        F.count("*").cast("long").alias("n_blocks"),
    )
    f = rs.agg(
        F.count("*").cast("long").alias("k"),
        F.min("n_blocks").alias("n"),
        F.sum(
            F.col("rsum_x2").cast("double") * F.col("rsum_x2").cast("double") / 4.0
        ).alias("sumr2"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    chi2 = 12.0 / (nd * kd * (F.col("k") + 1).cast("double")) * F.col(
        "sumr2"
    ) - 3.0 * nd * (F.col("k") + 1).cast("double")
    return f.select("k", "n", (F.floor(chi2 * 1e6) / 1e6).alias("chi2_q6"))


@register(
    "stats_wilcoxon_signed_rank",
    oracle="""
WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
           FROM events),
u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                        AND epoch_us(ts) < b.mid
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS pre_c,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                        AND epoch_us(ts) >= b.mid
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS post_c
  FROM events CROSS JOIN b GROUP BY user_id, b.mid
),
dd AS (SELECT post_c - pre_c AS d, abs(post_c - pre_c) AS ad
       FROM u WHERE post_c <> pre_c),
h AS (SELECT ad,
             CAST(COUNT(*) AS BIGINT) AS ct,
             CAST(COUNT(*) FILTER (WHERE d > 0) AS BIGINT) AS cpos
      FROM dd GROUP BY 1),
cu AS (SELECT ad, ct, cpos,
              CAST(COALESCE(SUM(ct) OVER (ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum
       FROM h),
agg AS (SELECT CAST(SUM(ct) AS BIGINT) AS n,
               CAST(SUM(cpos * (2 * cum + ct + 1)) AS BIGINT) AS wpos_x2,
               CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tiesum
        FROM cu)
SELECT n, wpos_x2,
       floor((CAST(wpos_x2 AS DOUBLE) / 2.0
              - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
             / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                    * CAST(2 * n + 1 AS DOUBLE) / 24.0
                    - CAST(tiesum AS DOUBLE) / 48.0)
             * 1000000.0) / 1000000.0 AS z_q6
FROM agg
""",
    tags=("stats",),
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-user purchase spend:
    first half vs second half of the corpus time span (midpoint from
    one broadcast bounds row) — the nonparametric paired companion to
    the independent-sample `stats_mann_whitney`, asking "did the same
    users' spend shift?" without assuming normal differences. Exact
    discipline: zero differences drop (Wilcoxon's rule), |d| ranks are
    doubled midranks from the cumulative tie histogram (exact int64),
    W⁺·2 and Σ(t³−t) are integer folds, and the normal-approximation z
    with tie-corrected variance n(n+1)(2n+1)/24 − Σ(t³−t)/48 is the
    single final float expression. Shape: one user aggregate (keyed
    shuffle), one |distinct d| histogram window, one reduce."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        )
        .cast("long")
        .alias("mid")
    )
    cents = F.round(F.col("value") * 100).cast("long")
    u = ev.crossJoin(b).groupBy("user_id", "mid").agg(
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.unix_micros("ts") < F.col("mid")),
                cents,
            ).otherwise(0)
        )
        .cast("long")
        .alias("pre_c"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.unix_micros("ts") >= F.col("mid")),
                cents,
            ).otherwise(0)
        )
        .cast("long")
        .alias("post_c"),
    )
    dd = u.filter(F.col("post_c") != F.col("pre_c")).select(
        (F.col("post_c") - F.col("pre_c")).alias("d"),
        F.abs(F.col("post_c") - F.col("pre_c")).alias("ad"),
    )
    h = dd.groupBy("ad").agg(
        F.count("*").cast("long").alias("ct"),
        F.count_if(F.col("d") > 0).cast("long").alias("cpos"),
    )
    # size-tiered histogram prefix sum — see stats_kruskal_wallis; the
    # |distinct |diff|| histogram is bounded by the user count, which
    # grows with the corpus.
    from odns_dataimporter_spark.size_hints import derived_prefix_distributed

    if derived_prefix_distributed(sf_dir, "events"):
        cu = scalable_prefix_sum(h, ["ad"], "ct", out="cum").select(
            "ad", "ct", "cpos", F.col("cum").cast("long").alias("cum")
        )
    else:
        w = W.orderBy("ad").rowsBetween(W.unboundedPreceding, -1)
        cu = h.select(
            "ad",
            "ct",
            "cpos",
            F.coalesce(F.sum("ct").over(w), F.lit(0)).cast("long").alias("cum"),
        )
    agg = cu.agg(
        F.sum("ct").cast("long").alias("n"),
        F.sum(F.col("cpos") * (2 * F.col("cum") + F.col("ct") + 1))
        .cast("long")
        .alias("wpos_x2"),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("long")
        .alias("tiesum"),
    )
    nd = F.col("n").cast("double")
    z = (
        F.col("wpos_x2").cast("double") / 2.0
        - nd * (F.col("n") + 1).cast("double") / 4.0
    ) / F.sqrt(
        nd
        * (F.col("n") + 1).cast("double")
        * (2 * F.col("n") + 1).cast("double")
        / 24.0
        - F.col("tiesum").cast("double") / 48.0
    )
    return agg.select("n", "wpos_x2", (F.floor(z * 1e6) / 1e6).alias("z_q6"))


@register(
    "stats_mcnemar",
    oracle="""
WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
           FROM events),
u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND epoch_us(ts) < b.mid
                  THEN 1 ELSE 0 END) AS pre,
         MAX(CASE WHEN event_type = 'purchase' AND epoch_us(ts) >= b.mid
                  THEN 1 ELSE 0 END) AS post
  FROM events CROSS JOIN b GROUP BY user_id, b.mid
),
c AS (SELECT
        CAST(SUM(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n11,
        CAST(SUM(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n10,
        CAST(SUM(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n01,
        CAST(SUM(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n00
      FROM u)
SELECT n11, n10, n01, n00,
       CASE WHEN n10 + n01 > 0
            THEN floor(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                       / CAST(n10 + n01 AS DOUBLE) * 1000000.0) / 1000000.0
            END AS chi2_q6,
       CASE WHEN n10 + n01 > 0
            THEN floor(CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)
                            AS DOUBLE)
                       / CAST(n10 + n01 AS DOUBLE) * 1000000.0) / 1000000.0
            END AS chi2_cc_q6
FROM c
""",
    tags=("stats",),
)
def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the paired binary outcome "user purchased in
    the first half" vs "purchased in the second half" of the corpus
    span — the paired-proportion change test (did conversion FLIP, not
    just shift?) that belongs beside `stats_wilcoxon_signed_rank` the
    way the chi-square independence test sits beside Mann-Whitney.
    Everything through the 2×2 discordant-cell counts is exact integer
    (one user aggregate + one 1-row reduce); χ² = (b−c)²/(b+c) and the
    continuity-corrected (|b−c|−1)²/(b+c) are guarded by an integer
    predicate so a no-discordance corpus yields NULL on both engines
    instead of a divide-by-zero. Shape: one keyed shuffle, one row
    out."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        )
        .cast("long")
        .alias("mid")
    )
    u = ev.crossJoin(b).groupBy("user_id", "mid").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.unix_micros("ts") < F.col("mid")),
                1,
            ).otherwise(0)
        ).alias("pre"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.unix_micros("ts") >= F.col("mid")),
                1,
            ).otherwise(0)
        ).alias("post"),
    )
    c = u.agg(
        F.sum(F.when((F.col("pre") == 1) & (F.col("post") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("pre") == 1) & (F.col("post") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("pre") == 0) & (F.col("post") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("pre") == 0) & (F.col("post") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    disc = F.col("n10") + F.col("n01")
    diff = F.col("n10") - F.col("n01")
    chi2 = F.when(
        disc > 0,
        F.floor(
            (diff * diff).cast("double") / disc.cast("double") * 1e6
        )
        / 1e6,
    )
    cc = F.abs(diff) - 1
    chi2_cc = F.when(
        disc > 0,
        F.floor((cc * cc).cast("double") / disc.cast("double") * 1e6) / 1e6,
    )
    return c.select(
        "n11", "n10", "n01", "n00", chi2.alias("chi2_q6"), chi2_cc.alias("chi2_cc_q6")
    )


# --- Fisher's exact test (2x2) -------------------------------------------------
#
# lgamma is not a Spark built-in, so BOTH engines evaluate the same
# Stirling-series expression TEXT (shift-by-5 recurrence keeps the
# series argument >= 6, where the 2-term tail is accurate to ~1e-8 —
# and identical text means identical IEEE trees, so parity holds to the
# last bit regardless of the series' absolute accuracy):
#   lg(x) = lgs(x+5) - ln(x(x+1)(x+2)(x+3)(x+4))
#   lgs(y) = (y-1/2)ln(y) - y + ln(2*pi)/2 + 1/(12y) - 1/(360y^3)


def _lgs(y: str) -> str:
    return (
        f"(({y}) - 0.5) * ln({y}) - ({y}) + 0.9189385332046727"
        f" + 1.0 / (12.0 * ({y})) - 1.0 / (360.0 * ({y}) * ({y}) * ({y}))"
    )


def _lg(x: str) -> str:
    return (
        f"({_lgs(f'(({x}) + 5.0)')}"
        f" - ln(({x}) * (({x}) + 1.0) * (({x}) + 2.0)"
        f" * (({x}) + 3.0) * (({x}) + 4.0)))"
    )


def _lchoose(n: str, k: str) -> str:
    return (
        f"({_lg(f'({n}) + 1.0')} - {_lg(f'({k}) + 1.0')}"
        f" - {_lg(f'({n}) - ({k}) + 1.0')})"
    )


# log P(K = k) under the hypergeometric null, as shared expression text
# over columns r1, r2, c1v, nn and the variable kk
_FE_LP = (
    f"({_lchoose('CAST(r1 AS DOUBLE)', 'CAST(kk AS DOUBLE)')}"
    f" + {_lchoose('CAST(r2 AS DOUBLE)', 'CAST(c1v AS DOUBLE) - CAST(kk AS DOUBLE)')}"
    f" - {_lchoose('CAST(nn AS DOUBLE)', 'CAST(c1v AS DOUBLE)')})"
)


@register(
    "stats_fisher_exact",
    oracle=f"""
WITH t AS (SELECT CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(round(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS tot_c,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
           FROM events),
u AS (
  SELECT user_id,
         CAST(CASE WHEN SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        * 5 > COUNT(*) THEN 1 ELSE 0 END AS BIGINT) AS trt,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS cents
  FROM events GROUP BY user_id
),
cells AS (
  SELECT
    CAST(SUM(CASE WHEN trt = 1 AND cents * t.n_users > t.tot_c
             THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN trt = 1 AND cents * t.n_users <= t.tot_c
             THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN trt = 0 AND cents * t.n_users > t.tot_c
             THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN trt = 0 AND cents * t.n_users <= t.tot_c
             THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM u CROSS JOIN t GROUP BY t.n_users, t.tot_c
),
m AS (SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1v,
             a + b + c + d AS nn,
             GREATEST(CAST(0 AS BIGINT), (a + c) - (c + d)) AS klo,
             LEAST(a + b, a + c) AS khi
      FROM cells),
obs AS (SELECT m.*, {_FE_LP.replace('kk', 'a')} AS lp_obs FROM m),
terms AS (
  SELECT obs.*, gs.kk, {_FE_LP} AS lp
  FROM obs, (SELECT unnest(generate_series(
               (SELECT klo FROM m), (SELECT khi FROM m))) AS kk) gs
),
inc AS (SELECT * FROM terms WHERE lp <= lp_obs + 1e-7),
fold AS (
  SELECT MAX(a) AS a, MAX(b) AS b, MAX(c) AS c, MAX(d) AS d,
         MAX(lp_obs) AS lp_obs, MAX(lp) AS mx,
         list(lp ORDER BY kk) AS lps
  FROM inc
)
SELECT a, b, c, d,
       floor(lp_obs * 1000000.0) / 1000000.0 AS lp_obs_q6,
       floor((mx + ln(list_reduce(list_transform(lps, x -> exp(x - mx)),
                                  (x, y) -> x + y)))
             / ln(10.0) * 1000000.0) / 1000000.0 AS log10_p_q6
FROM fold
""",
    tags=("stats",),
)
def stats_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test on the 2×2 table (heavy-error user ×
    above-average spender — both exact integer predicates): the
    two-sided p-value sums hypergeometric probabilities over every
    table as extreme as observed (lp(k) ≤ lp(obs)+1e-7, the standard
    small-p inclusion rule), reported as log10 p via a log-sum-exp
    fold so the statistic never underflows at any corpus size — the
    EXACT companion to `stats_chi_square`/`stats_cramers_v` for when
    cell counts are small and the χ² approximation is indefensible.
    Engine parity without a native lgamma: both engines evaluate ONE
    shared Stirling-series expression text (shift-by-5 keeps the
    series argument ≥ 6; identical text ⇒ identical IEEE trees ⇒ the
    value hash matches bit-for-bit, independent of the series'
    absolute accuracy, which is ~1e-8 here anyway). Scale: one user
    aggregate (keyed shuffle) → a 1-row cell table; the term lattice
    is |k-range| ≤ min(r1, c1) rows of pure expression work; the tail
    sum folds in k-ascending order on both engines."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)) * 5
            > F.count("*"),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("trt"),
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("long")
        .alias("cents"),
    ).localCheckpoint(eager=False)
    # r10 (guide §2.4): the corpus totals FOLD OUT of the per-user
    # aggregate instead of a second full events scan — tot_c =
    # Σ_user cents (sum of per-user purchase sums, exact int64 =>
    # order-independent) and n_users = |u| (one row per DISTINCT
    # user_id by construction). One scan + one corpus-scale aggregate
    # instead of two of each; u is |users|-sized, so the lazy
    # localCheckpoint that lets both consumers share the single
    # derivation is tiny. Values bit-identical to the r9 two-scan form
    # (the oracle still states the totals independently).
    t = u.agg(
        F.sum("cents").cast("long").alias("tot_c"),
        # count("user_id") not count("*"): COUNT DISTINCT semantics
        # exclude a NULL user_id group, and so does this
        F.count("user_id").cast("long").alias("n_users"),
    )
    rich = F.col("cents") * F.col("n_users") > F.col("tot_c")
    cells = (
        u.crossJoin(t)
        .groupBy("n_users", "tot_c")
        .agg(
            F.sum(F.when((F.col("trt") == 1) & rich, 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when((F.col("trt") == 1) & ~rich, 1).otherwise(0))
            .cast("long")
            .alias("b"),
            F.sum(F.when((F.col("trt") == 0) & rich, 1).otherwise(0))
            .cast("long")
            .alias("c"),
            F.sum(F.when((F.col("trt") == 0) & ~rich, 1).otherwise(0))
            .cast("long")
            .alias("d"),
        )
    )
    m = cells.select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b")).alias("r1"),
        (F.col("c") + F.col("d")).alias("r2"),
        (F.col("a") + F.col("c")).alias("c1v"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("nn"),
        F.greatest(
            F.lit(0).cast("long"),
            (F.col("a") + F.col("c")) - (F.col("c") + F.col("d")),
        ).alias("klo"),
        F.least(F.col("a") + F.col("b"), F.col("a") + F.col("c")).alias("khi"),
    )
    obs = m.withColumn("lp_obs", F.expr(_FE_LP.replace("kk", "a")))
    terms = obs.select(
        "*", F.explode(F.sequence("klo", "khi")).alias("kk")
    ).withColumn("lp", F.expr(_FE_LP))
    inc = terms.filter(F.col("lp") <= F.col("lp_obs") + 1e-7)
    fold = inc.agg(
        F.max("a").alias("a"),
        F.max("b").alias("b"),
        F.max("c").alias("c"),
        F.max("d").alias("d"),
        F.max("lp_obs").alias("lp_obs"),
        F.max("lp").alias("mx"),
        F.array_sort(F.collect_list(F.struct("kk", "lp"))).alias("lps"),
    )
    sum_exp = F.aggregate(
        F.transform(F.col("lps"), lambda s: F.exp(s["lp"] - F.col("mx"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return fold.select(
        "a",
        "b",
        "c",
        "d",
        (F.floor(F.col("lp_obs") * 1e6) / 1e6).alias("lp_obs_q6"),
        (
            F.floor(
                (F.col("mx") + F.ln(sum_exp)) / F.ln(F.lit(10.0)) * 1e6
            )
            / 1e6
        ).alias("log10_p_q6"),
    )
