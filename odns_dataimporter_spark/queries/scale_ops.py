"""Scale-path operators: reproducible sampling, storage layout
optimization with partition pruning, and binary frame sampling.

These are the operations a 100 TB training-data pipeline leans on
between the relational core and the model: cut a deterministic slice of
the corpus, lay data out so later scans skip irrelevant partitions, and
chunk opaque media payloads without decoding them.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odns_dataimporter_spark.queries._helpers import tokens
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


@register(
    "sample_hash_deterministic",
    oracle="""
SELECT doc_id, lang, n_chars
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
""",
    tags=("llm", "sampling"),
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 1/8 corpus sample by hashing the stable key — unlike
    ``df.sample`` (seeded per-partition RNG, result depends on
    partitioning) this is a pure function of the data: re-runs, engine
    changes, and repartitioning all yield the identical sample, which is
    what training-data lineage requires."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return docs.filter(bucket.isin("0", "1")).select("doc_id", "lang", "n_chars")


@register(
    "sample_stratified_topn",
    oracle="""
SELECT lang, doc_id, n_chars
FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 20
""",
    tags=("llm", "sampling"),
)
def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fixed-size sample: exactly 20 docs per language, chosen
    by hash order — deterministic stratified sampling (the sampleBy
    fraction API can't guarantee exact strata sizes)."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "layout_partition_prune",
    oracle="""
SELECT user_id, COUNT(*) AS n_events
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
""",
    tags=("scan", "layout"),
)
def layout_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout optimization end to end: rewrite events partitioned
    by event_type (the high-selectivity predicate column), then query one
    type — the scan reads ONLY that partition's files (PartitionFilters;
    asserted in test_plans.py). At 100 TB this layout turns a full-corpus
    scan into a 1/|types| scan for type-filtered queries."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(tempfile.mkdtemp(prefix="layout_"), "events_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # explicit schema: an EMPTY source writes no partition directories,
    # leaving nothing to infer from (legal degenerate input)
    back = spark.read.schema(ev.schema).parquet(out)
    return (
        back.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )


_N_FRAMES = 4
_FRAME_BYTES = 16


@register(
    "multimodal_frame_sample",
    oracle=f"""
SELECT doc_id, k.k AS frame_idx,
       lower(hex(encode(substring(text, CAST(k.k * {_FRAME_BYTES} + 1 AS INT),
                                  {_FRAME_BYTES})))) AS frame_hex
FROM documents
CROSS JOIN (SELECT unnest(range(0, {_N_FRAMES})) AS k) k
WHERE length(text) >= (k.k + 1) * {_FRAME_BYTES}
""",
    tags=("llm", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque binary payloads: slice N fixed-offset
    chunks per payload JVM-side (no decode, no Python) — the shape of
    video-frame / audio-window extraction where the only Python step is
    the (stubbed) per-frame decoder downstream. Emits (doc_id,
    frame_idx, frame_hex) with short payloads yielding fewer frames."""
    # frames are sliced pre-encode (char==byte on this ASCII corpus;
    # DuckDB's substring cannot slice BLOBs, so the oracle does the same)
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(_N_FRAMES - 1).cast("long"))).alias(
            "frame_idx"
        ),
    )
    return exploded.filter(
        F.length("text") >= (F.col("frame_idx") + 1) * _FRAME_BYTES
    ).select(
        "doc_id",
        "frame_idx",
        F.lower(
            F.hex(
                F.encode(
                    F.expr(f"substring(text, frame_idx * {_FRAME_BYTES} + 1, {_FRAME_BYTES})"),
                    "utf-8",
                )
            )
        ).alias("frame_hex"),
    )


@register(
    "bucketed_join_no_shuffle",
    oracle="""
SELECT o.o_orderstatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_price
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
""",
    tags=("join", "layout"),
)
def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables are saved bucketed +
    sorted on the join key, so the subsequent sort-merge join needs NO
    exchange on either side (asserted in test_plans.py) — the storage
    technique that turns the biggest recurring fact⋈fact shuffle at
    100 TB into a local merge. Values verified against the plain join."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    base = tempfile.mkdtemp(prefix="buckets_")
    for name, df, key in (
        ("bj_orders", orders, "o_orderkey"),
        ("bj_lineitem", li, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(base, name))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    o = spark.table("bj_orders")
    l = spark.table("bj_lineitem")  # noqa: E741
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    # at test SF orders fits under the auto-broadcast threshold; force the
    # merge strategy the bucketing serves (at 100 TB both sides are facts)
    return (
        o.hint("merge")
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(cents) / F.lit(100.0)).alias("total_price"),
        )
    )


@register(
    "layout_range_cluster",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n_events
FROM events
WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
GROUP BY 1
""",
    tags=("scan", "layout"),
)
def layout_range_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout optimization, range dimension: rewrite events
    range-clustered on ts (`repartitionByRange` + `sortWithinPartitions`
    → each file covers a narrow, non-overlapping time slice with tight
    parquet row-group min/max stats), then run a one-week range query.
    The pushed ts predicate (PushedFilters, asserted in test_plans.py)
    lets the parquet reader skip every row group — and effectively every
    file — outside the week. The directory-partition analog is
    `layout_partition_prune`; together they are the two halves of the
    100 TB layout story: partition on low-cardinality filter columns,
    range-cluster within partitions on the time/range key."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(tempfile.mkdtemp(prefix="layout_"), "events_by_ts")
    (
        ev.repartitionByRange(8, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.filter(
            (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        )
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "sample_source_weighted",
    oracle="""
WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
           FROM documents GROUP BY source),
u AS (SELECT doc_id, source,
        list_reduce(
          list_transform(
            regexp_extract_all(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), '.'),
            ch -> strpos('0123456789abcdef', ch) - 1),
          (a, b) -> a * 16 + b) AS u32
      FROM documents)
SELECT u.doc_id, u.source, c.n_src
FROM u JOIN c USING (source)
WHERE u.u32 < least(4294967296.0,
                    floor(12884901888.0 / sqrt(CAST(c.n_src AS DOUBLE))))
""",
    tags=("llm", "sampling"),
)
def sample_source_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (alpha = 0.5): each source
    contributes ~K*sqrt(n_src) expected documents (K=3), so large
    sources are down-weighted exactly like multilingual/multi-corpus
    alpha-sampling — without any cross-source normalization term (no
    global float sum to make deterministic). Selection is a pure
    function of doc_id: a 32-bit uniform from the md5 prefix compared
    against the per-source threshold. The per-source counts are a tiny
    partial-aggregated groupBy broadcast back onto the corpus — the
    100 TB side is scanned once, never shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_src"))
    u32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    thr = F.least(
        F.lit(4294967296.0),
        F.floor(F.lit(12884901888.0) / F.sqrt(F.col("n_src").cast("double"))),
    )
    return (
        docs.select("doc_id", "source", u32.alias("u32"))
        .join(F.broadcast(counts), "source")
        .filter(F.col("u32") < thr)
        .select("doc_id", "source", "n_src")
    )


_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def _zvalue():
    """Morton (z-order) key: interleave the low 16 bits of user_id with
    the low 16 bits of the hour index — pure integer expression work."""
    hour = F.floor(
        (F.unix_micros("ts") - F.lit(_EPOCH_2024_US)) / F.lit(3.6e9)
    ).cast("long")
    z = F.lit(0).cast("long")
    for i in range(16):
        z = z + F.shiftleft(
            F.shiftright(F.col("user_id"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        z = z + F.shiftleft(F.shiftright(hour, i).bitwiseAND(F.lit(1)), 2 * i)
    return z


@register(
    "layout_zorder",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
WHERE user_id BETWEEN 3 AND 6
  AND ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND ts <  TIMESTAMP '2024-01-11 00:00:00'
GROUP BY user_id
""",
    tags=("scan", "layout"),
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout optimization, multi-dimension: rewrite events
    clustered on a Morton (z-order) key interleaving user_id and
    hour-of-range bits (what Delta's OPTIMIZE ZORDER BY does), then run
    a query selective on BOTH dimensions. Because z-sorting co-locates
    rows close in (user_id, ts) space, each row group's min/max stats
    are tight on BOTH columns simultaneously — the pushed user_id range
    AND ts range each skip row groups, which one-dimensional range
    clustering (layout_range_cluster) can only do for its single sort
    key. The z key is sort-only scaffolding: result values come from
    the real columns, so the layout cannot affect correctness."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(tempfile.mkdtemp(prefix="layout_"), "events_zorder")
    (
        ev.withColumn("z", _zvalue())
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.filter(
            (F.col("user_id") >= 3)
            & (F.col("user_id") <= 6)
            & (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-11 00:00:00").cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
    )


@register(
    "sample_reservoir_per_key",
    oracle="""
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
WHERE rk <= 5
""",
    tags=("llm", "sampling"),
)
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-key reservoir sample (k=5 docs per source):
    rank by md5 of the key column — a uniform-but-reproducible draw,
    which is what a distributed 'reservoir' actually is at rest (the
    classic streaming reservoir is order-dependent and therefore
    unreproducible across retries; hash-rank sampling commutes with
    partitioning, survives task retries, and is auditable). One
    shuffle on source; at 100 TB the same plan with a pre-aggregated
    per-key count would switch to TakeOrderedAndProject per key via
    window + filter exactly as here."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


_ARES_K = 50


@register(
    "sample_weighted_ares",
    oracle=f"""
WITH u AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
         CAST('0x' || substr(md5('ares|' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) / 1152921504606846976.0 AS u01
  FROM documents WHERE n_chars > 0
),
k AS (
  SELECT doc_id, CAST(w AS BIGINT) AS weight,
         CAST(floor(ln(u01) / w * 1000000000.0) AS BIGINT) AS key_q9
  FROM u
)
SELECT doc_id, weight, key_q9
FROM (SELECT *, row_number() OVER (ORDER BY key_q9 DESC, doc_id) AS rn FROM k)
WHERE rn <= {_ARES_K}
""",
    tags=("llm", "sampling"),
)
def sample_weighted_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-Res): each doc draws u ~ U(0,1) from a DETERMINISTIC hash of its
    id and ranks by u^(1/w) — equivalently ln(u)/w, which is what both
    engines compute — so inclusion probability is proportional to
    weight (n_chars here, i.e. longer docs proportionally likelier)
    yet the sample is reproducible run-to-run and engine-to-engine:
    the randomness is md5, not an RNG. The ranking key is
    floor-quantized to 1e-9 BEFORE the top-k cut with doc_id as the
    tiebreak, so no boundary row ever depends on an unrounded float
    comparison. Shape: pure map work + one TakeOrderedAndProject —
    at 100 TB this is a scan plus a k-row heap per partition, the
    canonical one-pass distributed weighted sampler."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u01 = F.expr(
        "CAST(conv(substr(md5(concat('ares|', CAST(doc_id AS STRING))), 1, 15),"
        " 16, 10) AS BIGINT) / 1152921504606846976.0"
    )
    k = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.floor(F.log(u01) / F.col("n_chars").cast("double") * 1e9)
        .cast("long")
        .alias("key_q9"),
    )
    return (
        k.orderBy(F.col("key_q9").desc(), "doc_id").limit(_ARES_K)
    )


_BAL_SALT = "bal|"  # deterministic class-balancing hash seed


@register(
    "sample_balanced_classes",
    oracle=f"""
WITH c AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_orig
  FROM events GROUP BY event_type
),
mn AS (SELECT CAST(MIN(n_orig) AS BIGINT) AS n_min FROM c),
k AS (
  SELECT e.event_type, e.event_id
  FROM events e JOIN c USING (event_type) CROSS JOIN mn
  WHERE CAST('0x' || substr(md5('{_BAL_SALT}' || CAST(e.event_id AS VARCHAR)),
             1, 8) AS BIGINT) % c.n_orig < mn.n_min
)
SELECT c.event_type, c.n_orig,
       CAST(COALESCE(kk.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(kk.kept_id_sum, 0) AS BIGINT) AS kept_id_sum,
       floor(CAST(COALESCE(kk.n_kept, 0) AS DOUBLE) / c.n_orig * 1000000.0)
         / 1000000.0 AS kept_ratio_q6
FROM c LEFT JOIN (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(event_id) AS BIGINT) AS kept_id_sum
  FROM k GROUP BY event_type) kk USING (event_type)
""",
    tags=("llm", "sampling", "events"),
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class-balanced downsampling — the imbalanced-
    training-data lever (undersample every majority class to the
    minority class size) as a pure hash filter: a row of class k
    survives iff hash(id) mod n_k < n_min, giving each class an
    expected n_min kept rows with NO shuffle of the fact table, no
    per-class sort, and exact reproducibility across engines and runs
    (the same property as `sample_hash_deterministic`, extended with a
    per-class acceptance rate). Shape: one map-side-combined class
    histogram (|classes| rows, broadcast back with the 1-row minimum),
    then the keep-filter runs inside whole-stage codegen at scan
    speed; the verification summary (per class: kept count, exact
    id-sum checksum of the kept SET, acceptance ratio) is a second
    tiny aggregate. At 100 TB the sampled subset never materializes
    through a shuffle — downstream consumers chain onto the filtered
    scan."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_orig")
    ).localCheckpoint(eager=False)
    mn = c.agg(F.min("n_orig").cast("long").alias("n_min"))
    hv = F.expr(
        f"CAST(conv(substr(md5(concat('{_BAL_SALT}', CAST(event_id AS STRING))), 1, 8),"
        " 16, 10) AS BIGINT)"
    )
    kept = (
        ev.select("event_type", "event_id")
        .join(F.broadcast(c), "event_type")
        .crossJoin(mn)
        .filter((hv % F.col("n_orig")) < F.col("n_min"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("event_id").cast("long").alias("kept_id_sum"),
        )
    )
    return (
        c.join(kept, "event_type", "left")
        .select(
            "event_type",
            "n_orig",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_id_sum", F.lit(0))
            .cast("long")
            .alias("kept_id_sum"),
            (
                F.floor(
                    F.coalesce("n_kept", F.lit(0)).cast("double")
                    / F.col("n_orig")
                    * 1_000_000.0
                )
                / 1_000_000.0
            ).alias("kept_ratio_q6"),
        )
    )


@register(
    "sample_neyman_allocation",
    oracle="""
WITH s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS sv,
         CAST(SUM(CAST(floor(value * 1000.0) AS BIGINT)
                  * CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT) AS svv
  FROM events GROUP BY event_type
),
w AS (
  SELECT event_type, n_h,
         sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n_h) / n_h)
           / 1000.0 AS sigma_h,
         CAST(floor(n_h * (sqrt((CAST(svv AS DOUBLE)
                 - CAST(sv AS DOUBLE) * sv / n_h) / n_h) / 1000.0)
                 * 1000000.0) AS BIGINT) AS w_micro
  FROM s
),
t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_total FROM w)
SELECT event_type, n_h,
       floor(sigma_h * 1000000.0) / 1000000.0 AS sigma_q6,
       CAST(floor(500.0 * w_micro / w_total) AS BIGINT) AS alloc_h,
       floor(CAST(floor(500.0 * w_micro / w_total) AS BIGINT)
             * 1000000.0 / n_h) / 1000000.0 AS rate_q6
FROM w CROSS JOIN t
""",
    tags=("llm", "sampling", "stats"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation (Neyman 1934): for a
    total budget of 500 rows, each stratum (event_type) gets
    n·(N_h·σ_h)/Σ(N_h·σ_h) — the allocation that minimizes the variance
    of the stratified mean estimator, the principled upgrade of
    proportional allocation when strata dispersions differ (the exact
    lever a 100 TB curation pipeline uses to spend its labeling/eval
    budget where the data is noisy, not just where it is big).
    Scale shape: ONE map-side-combined groupBy over events computing
    exact int64 moment sums of milli-quantized values, a 1-row
    broadcast total, zero other movement — identical at any corpus
    size (strata table is event-type-sized). Determinism: σ_h comes
    from integer moments (one sqrt per stratum, identical IEEE tree);
    the cross-stratum weight total is summed as floor-quantized int64
    micros (order-independent) rather than doubles."""
    ev = load_table(spark, sf_dir, "events")
    vm = F.floor(F.col("value") * 1000.0).cast("long")
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_h"),
        F.sum(vm).cast("long").alias("sv"),
        F.sum(vm * vm).cast("long").alias("svv"),
    )
    sigma = (
        F.sqrt(
            (
                F.col("svv").cast("double")
                - F.col("sv").cast("double") * F.col("sv") / F.col("n_h")
            )
            / F.col("n_h")
        )
        / 1000.0
    )
    w = s.select(
        "event_type",
        "n_h",
        sigma.alias("sigma_h"),
        F.floor(F.col("n_h") * sigma * 1_000_000.0)
        .cast("long")
        .alias("w_micro"),
    )
    t = w.agg(F.sum("w_micro").cast("long").alias("w_total"))
    alloc = F.floor(500.0 * F.col("w_micro") / F.col("w_total")).cast("long")
    return w.crossJoin(t).select(
        "event_type",
        "n_h",
        (F.floor(F.col("sigma_h") * 1_000_000.0) / 1_000_000.0).alias(
            "sigma_q6"
        ),
        alloc.alias("alloc_h"),
        (F.floor(alloc * 1_000_000.0 / F.col("n_h")) / 1_000_000.0).alias(
            "rate_q6"
        ),
    )


_DOREMI_ETA = 1.0
_DOREMI_STEPS = 10

# DuckDB text macros for the multiplicative-weights step (recursive CTE
# below; list_reduce cannot CARRY list state, but a recursive CTE can).
_DRM_MEAN = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, len(w) + 1), "
    "i -> list_extract(w, i) * list_extract(ls, i))), (a, b) -> a + b)"
)
_DRM_W2 = (
    f"list_transform(range(1, len(w) + 1), "
    f"i -> list_extract(w, i) * exp({_DOREMI_ETA} * "
    f"(list_extract(ls, i) - {_DRM_MEAN})))"
)
_DRM_SUM2 = (
    f"list_reduce(list_prepend(CAST(0 AS DOUBLE), {_DRM_W2}), "
    "(a, b) -> a + b)"
)


@register(
    "sample_doremi_mixture",
    oracle=f"""
WITH RECURSIVE
d AS (
  SELECT source,
         CAST(SUM(n_chars) AS BIGINT) AS sc,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS st
  FROM documents GROUP BY source
),
l AS (
  SELECT list(CAST(sc AS DOUBLE) / st ORDER BY source) AS ls,
         list(source ORDER BY source) AS names,
         list(st ORDER BY source) AS toks
  FROM d
),
it(k, w) AS (
  SELECT 0, list_transform(ls, x -> 1.0 / len(ls)) FROM l
  UNION ALL
  SELECT k + 1, list_transform({_DRM_W2}, x -> x / ({_DRM_SUM2}))
  FROM it, l WHERE k < {_DOREMI_STEPS}
),
fin AS (SELECT w FROM it WHERE k = {_DOREMI_STEPS}),
tt AS (SELECT CAST(SUM(st) AS BIGINT) AS total_toks FROM d)
SELECT list_extract(names, i) AS domain,
       CAST(list_extract(toks, i) AS BIGINT) AS n_tokens,
       floor(list_extract(ls, i) * 1000000.0) / 1000000.0 AS loss_q6,
       floor(list_extract(w, i) * 1000000.0) / 1000000.0 AS weight_q6,
       CAST(floor(list_extract(w, i) * total_toks) AS BIGINT)
         AS budget_tokens
FROM (SELECT fin.w, l.names, l.ls, l.toks, tt.total_toks,
             unnest(range(1, len(l.names) + 1)) AS i
      FROM fin, l, tt)
""",
    tags=("llm", "sampling", "iterative"),
)
def sample_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain-mixture optimization (Xie et al. 2023,
    reduced to its multiplicative-weights core): per source domain, a
    deterministic hardness proxy (chars per token — stands in for the
    proxy-model excess loss), then 10 rounds of
    w ← normalize(w·exp(η·(loss − ⟨w, loss⟩))) — domains harder than
    the current mixture average get upweighted, the exact update
    Group-DRO/DoReMi uses to pick training-corpus sampling weights.
    Emits the final mixture and each domain's token budget. Scale
    shape: ONE map-side-combined groupBy over documents; the
    iteration runs on a single row holding the domain-count-sized
    arrays (a few entries no matter the corpus), so 100 TB costs one
    scan. Determinism: losses are ratios of exact int64 sums; the
    mixture mean and the normalizer are SEQUENTIAL folds over the
    source-sorted array (engine-identical IEEE trees; the oracle
    recomputes the mean per element — same deterministic value);
    η = 1.0 exact; floor-q6 outputs."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("sc"),
        F.sum(F.size(tokens())).cast("long").alias("st"),
    )
    one = d.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "source",
                    (F.col("sc").cast("double") / F.col("st")).alias("loss"),
                    "st",
                )
            )
        ).alias("p"),
        F.sum("st").cast("long").alias("total_toks"),
    ).select(
        F.transform("p", lambda x: x["source"]).alias("names"),
        F.transform("p", lambda x: x["loss"]).alias("ls"),
        F.transform("p", lambda x: x["st"]).alias("toks"),
        "total_toks",
    )

    def let(val, body):
        return F.element_at(F.transform(F.array(val), body), 1)

    ls = F.col("ls")

    def step(w, _):
        mean = F.aggregate(
            F.zip_with(w, ls, lambda a, b: a * b),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        return let(
            mean,
            lambda m: let(
                F.zip_with(
                    w, ls, lambda wi, li: wi * F.exp(_DOREMI_ETA * (li - m))
                ),
                lambda w2: let(
                    F.aggregate(w2, F.lit(0.0), lambda a, b: a + b),
                    lambda s2: F.transform(w2, lambda x: x / s2),
                ),
            ),
        )

    init = F.transform(ls, lambda _: 1.0 / F.size(ls))
    fin = one.select(
        "names",
        "ls",
        "toks",
        "total_toks",
        F.aggregate(
            F.array_repeat(F.lit(0), _DOREMI_STEPS), init, step
        ).alias("w"),
    )
    e = fin.select(
        "total_toks",
        F.explode(
            F.arrays_zip(
                F.col("names").alias("domain"),
                F.col("ls").alias("loss"),
                F.col("w").alias("wt"),
                F.col("toks").alias("n_tokens"),
            )
        ).alias("z"),
    )
    return e.select(
        F.col("z.domain").alias("domain"),
        F.col("z.n_tokens").cast("long").alias("n_tokens"),
        (F.floor(F.col("z.loss") * 1_000_000.0) / 1_000_000.0).alias(
            "loss_q6"
        ),
        (F.floor(F.col("z.wt") * 1_000_000.0) / 1_000_000.0).alias(
            "weight_q6"
        ),
        F.floor(F.col("z.wt") * F.col("total_toks"))
        .cast("long")
        .alias("budget_tokens"),
    )
