"""Shared helpers for oracle-matched queries: exact money sums,
timestamp rendering, distributed ranks, and the text and graph
substrates.

Floating-point sums are order-dependent, and Spark's partial-aggregate
tree differs from DuckDB's, so ``SUM(double)`` can disagree in the last
bits. These helpers make headline money aggregates *exact*: scale to
integer cents/micros, round once (both engines round half away from
zero), sum as 64-bit integers (associative ⇒ order-independent), then
perform a single float division at the end — bit-identical on both
engines. This also holds at 100 TB: the int64 sums stay exact up to
9.2e18 cents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def money_sum(col: Column | str, scale: int = 100) -> Column:
    """Exact, order-independent sum of a fixed-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * scale).cast("long")) / F.lit(float(scale))


def money_sum_sql(expr: str, scale: int = 100) -> str:
    """DuckDB mirror of :func:`money_sum` (CAST BIGINT avoids HUGEINT)."""
    return f"CAST(SUM(CAST(round(({expr}) * {scale}) AS BIGINT)) AS BIGINT) / {float(scale)}"


# Fixed-format timestamp rendering used whenever a timestamp appears in
# query output (both engines format to microsecond precision).
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def ts_str(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, TS_FMT_SPARK)


def ts_str_sql(expr: str) -> str:
    return f"strftime({expr}, '{TS_FMT_DUCK}')"


# Text substrate (ARCHITECTURE.md "Text substrate"). A token is a
# single-space-separated piece of `documents.text`, empty pieces kept,
# exactly as DuckDB's string_split(text, ' ') in the oracles.
TOKENS_SQL = "split(text, ' ')"


def tokens() -> Column:
    """The token array of `text` (Column form of :data:`TOKENS_SQL`)."""
    return F.split(F.col("text"), " ")


def gram_hash_sql(k: int) -> str:
    """Spark SQL for the array of 60-bit k-gram fingerprints of the
    token array bound to `toks`: element p is the md5 of tokens
    p+1..p+k joined by ' ', its first 15 hex digits read as a signed
    int64. `toks` must hold at least k tokens, and must be a column or
    lambda variable, not the raw split expression (ARCHITECTURE.md)."""
    return (
        f"transform(sequence(0, size(toks) - {k}), i -> CAST(conv(substr("
        f"md5(concat_ws(' ', slice(toks, i + 1, {k}))), 1, 15), 16, 10) AS BIGINT))"
    )


# Graph substrate (ARCHITECTURE.md "Graph substrate"). Parts u < v are
# co-ordered iff some order holds both; an event type transitions to
# the next one the same user fires, in (ts, event_id) order. No helper
# checkpoints: each caller keeps its own checkpoint and storage level.


def basket_pairs(baskets: DataFrame) -> DataFrame:
    """The ordered (u, v), u < v, pairs inside each `ps` array, one row
    per pair per basket (duplicates across baskets kept)."""
    return baskets.select(F.explode("ps").alias("u"), "ps").select(
        "u", F.explode(F.filter("ps", lambda v: v > F.col("u"))).alias("v")
    )


def co_order_edges(lineitem: DataFrame) -> DataFrame:
    """The distinct (u, v), u < v, edge list of the co-order parts
    graph: one lineitem shuffle, then pairs expanded per order."""
    baskets = (
        lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("ps"))
    )
    return basket_pairs(baskets).distinct()


def event_transitions(events: DataFrame) -> DataFrame:
    """The non-null (src, dst) event-type transitions of every user,
    one row per consecutive pair of that user's events."""
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        F.lag("event_type").over(win).alias("src"),
        F.col("event_type").alias("dst"),
    ).filter(F.col("src").isNotNull())


def scalable_row_number(df, order_cols: list[str], out: str = "r"):
    """Global row_number() over `order_cols` WITHOUT a single-task sort
    (round-10 VERDICT item 5 — the distributed-rank pattern).

    A plain ``row_number().over(Window.orderBy(...))`` moves the whole
    input into one task; harmless over 25 nations, a corpus-wide
    bottleneck when the input cardinality grows with the data (nodes,
    vocab, resolvers). This helper computes the identical rank in
    three scalable steps:

      1. ``repartitionByRange(order_cols)`` — Spark's range
         partitioner (sampled boundaries) puts each key range in one
         partition, ranges ascending with partition id;
      2. per-partition ``row_number`` PARTITIONED BY the partition id
         (parallel, no global sort);
      3. the per-partition counts (one row per partition — bounded by
         ``spark.sql.shuffle.partitions``, NOT by the corpus) are
         cumulated into exclusive prefix offsets with a window over
         that tiny aggregate and broadcast-joined back.

    Row_number ties: same as the global form — `order_cols` should be
    a total order (callers here always include a unique id column).
    """
    d = df.repartitionByRange(*order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = d.withColumn(
        "_lr", F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols))
    )
    offs = (
        local.groupBy("_pid")
        .agg(F.count("*").alias("_c"))
        .select(
            "_pid",
            F.coalesce(
                F.sum("_c").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        # long, not row_number's int: 2^31 nodes is reachable at 100 TB
        .withColumn(out, F.col("_lr") + F.col("_off"))
        .drop("_pid", "_lr", "_off")
    )


def scalable_prefix_sum(df, order_cols: list[str], val_col: str, out: str = "cum"):
    """Global EXCLUSIVE running sum of ``val_col`` over ``order_cols``
    WITHOUT a single-task sort (round-11, VERDICT r10 item 4 — the
    running-sum analogue of :func:`scalable_row_number`).

    The nonparametric test family (`stats_kruskal_wallis`,
    `stats_mann_whitney`, `stats_wilcoxon_signed_rank`) cumulates a
    count histogram ordered by distinct value to turn midranks into
    exact integers. A plain
    ``sum(c).over(Window.orderBy(v).rowsBetween(unboundedPreceding, -1))``
    moves the whole histogram into one task — fine while the value
    domain is bounded (price cents), a corpus-scale bottleneck once
    the distinct-value count grows with the data. Identical result in
    three scalable steps, mirroring scalable_row_number:

      1. ``repartitionByRange(order_cols)`` — ascending key ranges,
         one per partition;
      2. per-partition exclusive running sum PARTITIONED BY the
         partition id (parallel, no global sort);
      3. per-partition totals (one row per partition) cumulated into
         exclusive offsets with a window over that tiny aggregate and
         broadcast-joined back.

    Exactness: callers sum int64 counts, and int64 addition is
    associative — the split into (local prefix + partition offset)
    reproduces the global prefix sum bit-for-bit (equality with the
    single-task window is pinned in tests/test_round11_invariants.py).
    ``order_cols`` must be a total order of the rows (callers pass the
    distinct histogram key)."""
    d = df.repartitionByRange(*order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = d.withColumn(
        "_lc",
        F.coalesce(
            F.sum(val_col).over(
                Window.partitionBy("_pid")
                .orderBy(*order_cols)
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    offs = (
        local.groupBy("_pid")
        .agg(F.sum(val_col).alias("_t"))
        .select(
            "_pid",
            F.coalesce(
                F.sum("_t").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(out, F.col("_lc") + F.col("_off"))
        .drop("_pid", "_lc", "_off")
    )
