"""Scalar function surface (SURVEY.md §2.6).

REF rows reproduce the reference's actual scalar semantics — strict
``%f``-required timestamp parsing (reference fieldtypers.py:13-17),
permissive float casts (fieldtypers.py:19-23), regex date extraction
(zipFileUtils.py:25-35) — as Catalyst expressions, not Python UDFs.
EXT rows complete the string/date/math/array/JSON/conditional families.

Everything here is whole-stage-codegen'd JVM expression work: no
Python in the hot path, so the same projections run at scan speed on
a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odns_dataimporter_spark.queries._helpers import money_sum, money_sum_sql, tokens
from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table


@register(
    "fn_string_core",
    oracle="""
SELECT
  doc_id,
  length(text) AS len_chars,
  len(string_split(text, ' ')) AS n_tokens,
  upper(substring(text, 1, 10)) AS prefix10,
  list_extract(string_split(text, ' '), len(string_split(text, ' '))) AS last_word,
  CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END AS has_spark,
  length(replace(text, ' ', '')) AS len_no_spaces,
  concat(lang, ':', source) AS lang_source
FROM documents
""",
    tags=("scalar",),
)
def fn_string_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substr/length/upper/split/replace/concat string family."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("len_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.upper(F.substring("text", 1, 10)).alias("prefix10"),
        F.element_at(toks, -1).alias("last_word"),
        F.when(F.contains("text", F.lit("spark")), 1).otherwise(0).alias("has_spark"),
        F.length(F.regexp_replace("text", " ", "")).cast("long").alias("len_no_spaces"),
        F.concat_ws(":", "lang", "source").alias("lang_source"),
    )


@register(
    "fn_date_core",
    oracle="""
SELECT
  o_orderkey,
  CAST(year(o_orderdate) AS INT) AS order_year,
  CAST(month(o_orderdate) AS INT) AS order_month,
  CAST(isodow(o_orderdate) AS INT) AS order_isodow,
  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
  CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k
FROM orders
""",
    tags=("scalar",),
)
def fn_date_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc/add/diff/extract family (ISO day-of-week to sidestep the
    Spark-1=Sunday vs DuckDB-0=Sunday mismatch)."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        (F.weekday("o_orderdate") + 1).alias("order_isodow"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.date_add(d, 30).cast("timestamp").alias("due_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), d).cast("long").alias("days_to_y2k"),
    )


@register(
    "fn_math_core",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  floor(l_extendedprice / l_quantity * 10000) / 10000.0 AS unit_price,
  round(abs(l_discount - 0.05), 6) AS disc_dev,
  round(ln(l_extendedprice), 6) AS log_price,
  round(pow(1 + l_tax, 2), 6) AS tax_sq,
  CASE WHEN l_discount = 0 THEN NULL
       ELSE round(l_tax / l_discount, 6) END AS tax_per_disc,
  CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_kbucket
FROM lineitem
""",
    tags=("scalar",),
)
def fn_math_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/abs/ln/pow/safe-division/floor math family.

    Quotients of fixed-decimal operands (price/qty) can land exactly on
    round-half boundaries where Spark (HALF_UP on BigDecimal) and DuckDB
    disagree — quantize those with floor (identical IEEE op on identical
    doubles) instead of round.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 10_000) / 10_000.0).alias(
            "unit_price"
        ),
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("disc_dev"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("log_price"),
        F.round(F.pow(F.lit(1) + F.col("l_tax"), 2), 6).alias("tax_sq"),
        F.when(F.col("l_discount") == 0, F.lit(None))
        .otherwise(F.round(F.col("l_tax") / F.col("l_discount"), 6))
        .alias("tax_per_disc"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("price_kbucket"),
    )


@register(
    "fn_array_core",
    oracle="""
SELECT
  vec_id,
  len(embedding) AS dim,
  round(list_sum(list_transform(embedding[1:4], x -> CAST(x AS DOUBLE))), 6) AS head4_sum,
  round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
  len(list_filter(embedding, x -> x > 0)) AS n_positive,
  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6)
    AS sq_norm
FROM embeddings
""",
    tags=("scalar",),
)
def fn_array_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size/slice/filter/transform/aggregate higher-order array family.

    Floats are cast to double *before* any arithmetic on both engines
    (exact conversion) so the sequential fold sums are bit-identical.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = lambda arr: F.transform(arr, lambda x: x.cast("double"))  # noqa: E731
    fsum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)  # noqa: E731
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        F.size(e).cast("long").alias("dim"),
        F.round(fsum(as_double(F.slice(e, 1, 4))), 6).alias("head4_sum"),
        F.round(F.array_max(e).cast("double"), 6).alias("max_val"),
        F.size(F.filter(e, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.round(fsum(F.transform(e, lambda x: x.cast("double") * x.cast("double"))), 6).alias(
            "sq_norm"
        ),
    )


@register(
    "fn_map_json",
    oracle="""
SELECT
  event_id,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
  CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing_val
FROM events
""",
    tags=("scalar",),
)
def fn_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property access on the events.props string column (the engine's
    map/semi-structured surface; from_json → MapType works the same way)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.get_json_object("props", "$.missing").cast("long").alias("missing_val"),
    )


@register(
    "fn_case_when",
    oracle=f"""
SELECT
  CASE WHEN o_totalprice < 50000 THEN 'low'
       WHEN o_totalprice < 150000 THEN 'mid'
       ELSE 'high' END AS price_band,
  COUNT(*) AS n_orders,
  {money_sum_sql('o_totalprice')} AS total_price
FROM orders
GROUP BY 1
""",
    tags=("scalar",),
)
def fn_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN classification (the response_type-bucketing pattern)."""
    orders = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50_000, "low")
        .when(F.col("o_totalprice") < 150_000, "mid")
        .otherwise("high")
    )
    return (
        orders.groupBy(band.alias("price_band"))
        .agg(F.count("*").alias("n_orders"), money_sum("o_totalprice").alias("total_price"))
    )


@register(
    "fn_regexp_extract",
    oracle=r"""
SELECT
  o_orderkey,
  regexp_extract(
    concat('scan_tcp_', strftime(o_orderdate, '%Y-%m-%d'), '.csv.gz'),
    '\d{4}-\d{2}-\d{2}', 0) AS scan_date
FROM orders
""",
    tags=("scalar", "ref"),
)
def fn_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's filename→date regex (zipFileUtils.py:28) as a
    Catalyst expression over synthetic scan filenames."""
    orders = load_table(spark, sf_dir, "orders")
    fname = F.concat(
        F.lit("scan_tcp_"), F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit(".csv.gz")
    )
    return orders.select(
        "o_orderkey",
        F.regexp_extract(fname, r"\d{4}-\d{2}-\d{2}", 0).alias("scan_date"),
    )


@register(
    "fn_strptime_strict",
    oracle="""
SELECT
  event_id,
  strftime(try_strptime(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'),
                        '%Y-%m-%d %H:%M:%S.%f'),
           '%Y-%m-%d %H:%M:%S.%f') AS reparsed,
  try_strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S.%f') AS no_frac
FROM events
""",
    tags=("scalar", "ref"),
)
def fn_strptime_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's strict typer semantics (fieldtypers.py:13-17): a
    timestamp string WITHOUT fractional seconds must parse to NULL.
    Round-trips events.ts through format→strict-parse on both engines;
    `no_frac` is NULL everywhere, proving the strictness."""
    ev = load_table(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    full = F.date_format("ts", fmt)
    no_frac = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    return ev.select(
        "event_id",
        F.date_format(F.try_to_timestamp(full, F.lit(fmt)), fmt).alias("reparsed"),
        F.try_to_timestamp(no_frac, F.lit(fmt)).alias("no_frac"),
    )


@register(
    "fn_cast_permissive",
    oracle="""
SELECT
  doc_id,
  TRY_CAST(source AS DOUBLE) AS bad_double,
  TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) AS good_double,
  CASE WHEN lang = '' THEN NULL ELSE lang END AS lang_nullified
FROM documents
""",
    tags=("scalar", "ref"),
)
def fn_cast_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's permissive float cast (fieldtypers.py:19-23,
    null-on-failure) and empty-string→NULL rule (dataimporter.py:152-155)
    as try_cast / nullif expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("try_cast(source AS DOUBLE)").alias("bad_double"),
        F.expr("try_cast(CAST(n_chars AS STRING) AS DOUBLE)").alias("good_double"),
        F.nullif(F.col("lang"), F.lit("")).alias("lang_nullified"),
    )


@register(
    "filter_compound",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 10000 AND 200000
  AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
  AND o_custkey IS NOT NULL
""",
    tags=("filter",),
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/IN/BETWEEN/LIKE/IS NULL predicate algebra (SURVEY §2.2) —
    all pushed to the parquet scan by Catalyst (visible as PushedFilters)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(10_000, 200_000)
        & (F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%"))
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@register(
    "fn_null_handling",
    oracle="""
SELECT
  c_custkey,
  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_nonneg,
  COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal_or_zero,
  CAST(c_acctbal IS NULL AS BOOLEAN) AS bal_missing,
  ifnull(NULLIF(c_name, ''), 'anon') AS name_or_anon
FROM customer
""",
    tags=("scalar",),
)
def fn_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling family: coalesce / nullif / ifnull / IS NULL — the
    relational completion of the reference's ''→NULL rule."""
    customer = load_table(spark, sf_dir, "customer")
    bal_nonneg = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    return customer.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "segment_masked"
        ),
        bal_nonneg.alias("bal_nonneg"),
        F.coalesce(bal_nonneg, F.lit(0.0)).alias("bal_or_zero"),
        F.isnull("c_acctbal").alias("bal_missing"),
        F.ifnull(F.nullif("c_name", F.lit("")), F.lit("anon")).alias("name_or_anon"),
    )


@register(
    "fn_bitwise",
    oracle="""
SELECT event_id,
       event_id & 255 AS low_byte,
       event_id >> 4 AS shifted,
       xor(event_id, 255) AS xored,
       CAST(bit_count(event_id) AS INT) AS popcount
FROM events
""",
    tags=("scalar",),
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family (AND/shift/XOR/popcount) — the primitives under
    bucketing, bloom filters, and SimHash-style signatures."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.shiftright("event_id", 4).alias("shifted"),
        F.col("event_id").bitwiseXOR(F.lit(255)).alias("xored"),
        F.bit_count("event_id").alias("popcount"),
    )


@register(
    "fn_levenshtein_block",
    oracle="""
WITH p AS (
  SELECT p_partkey, p_name, string_split(p_name, ' ')[-1] AS noun FROM part),
pairs AS (
  SELECT a.noun,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
  FROM p a JOIN p b ON a.noun = b.noun AND a.p_partkey < b.p_partkey)
SELECT noun,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
       CAST(SUM(dist) AS BIGINT) AS sum_dist,
       floor(CAST(SUM(dist) AS DOUBLE) * 1e6 / CAST(COUNT(*) AS DOUBLE)) / 1e6
         AS avg_dist_q6
FROM pairs GROUP BY noun
""",
    tags=("scalar", "llm"),
)
def fn_levenshtein_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching with blocking — the entity-
    resolution primitive: candidate part-name pairs share a blocking
    key (last name token), get scored with exact Levenshtein distance
    JVM-side (no UDF), and the result is the per-block match profile
    (pair count, near-matches within distance 2, exact int64 distance
    sum, quantized mean). Blocking turns all-pairs O(n²) into
    per-block quadratic work, and the aggregate output keeps the
    result |blocks|-sized no matter the input — the raw pair stream
    stays distributed (at sf0.1 it is ~25M pairs; materializing it was
    a driver-collect bomb, which is exactly why entity resolution at
    scale reports block statistics and emits only accepted matches).
    At 100 TB the blocking key must be tightened (noun+brand or an
    LSH bucket, cf. `dedup_near_minhash`) so block sizes stay bounded;
    the plan shape — equi-join, never a cartesian — is pinned by
    test."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("noun"),
    )
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    pairs = a.join(
        b,
        (F.col("a.noun") == F.col("b.noun"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(F.col("a.noun").alias("noun"), dist.cast("long").alias("dist"))
    return pairs.groupBy("noun").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("dist") <= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_close"),
        F.sum("dist").alias("sum_dist"),
        (
            F.floor(
                F.sum("dist").cast("double") * 1e6
                / F.count("*").cast("double")
            )
            / 1e6
        ).alias("avg_dist_q6"),
    )


@register(
    "fn_datetime_arith",
    oracle="""
SELECT o_orderkey,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS due_date,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS days_to_2025,
       strftime(CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE),
                '%Y-%m-%d') AS quarter_start,
       (year(o_orderdate) * 12 + month(o_orderdate)) AS month_index
FROM orders
WHERE o_orderkey % 10 = 0
""",
    tags=("fn", "date"),
)
def fn_datetime_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar interval arithmetic: month addition (with end-of-month
    clamping — 2024-01-31 + 1 month = 2024-02-29 on BOTH engines),
    last_day, day differences, quarter truncation, and a linear month
    index (year*12+month — the portable alternative to the
    engine-specific months_between fraction rules). Dates render as
    strings so type plumbing can't perturb the hash."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("2025-01-01").cast("date"), d).cast("long").alias("days_to_2025"),
        F.date_format(F.date_trunc("quarter", d), "yyyy-MM-dd").alias("quarter_start"),
        (F.year(d) * 12 + F.month(d)).cast("long").alias("month_index"),
    )


@register(
    "fn_variant_json",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
""",
    tags=("fn", "json"),
)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: parse_json
    once into the binary variant encoding, then typed path extraction
    with try_variant_get — the modern replacement for repeated
    get_json_object string re-parsing (VARIANT parses once and pushes
    typed access into the engine, the right cost model when a 100 TB
    events table is probed for a handful of keys). Oracle mirrors with
    DuckDB's json_extract + cast.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).cast("long").alias("max_k"),
    )


_URL_SQL = (
    "'https://cdn' || CAST(doc_id % 20 AS VARCHAR) || '.example.org/'"
    " || source || '/doc/' || CAST(doc_id AS VARCHAR)"
    " || '?ref=' || lang || '&v=2'"
)


@register(
    "fn_url_parse",
    oracle=f"""
WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents)
SELECT doc_id,
       regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/]+([^?]*)', 1) AS path,
       regexp_extract(url, '[?&]ref=([^&]*)', 1) AS ref_param
FROM u
""",
    tags=("scalar", "fn"),
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with Spark's parse_url (HOST / PATH / QUERY
    key lookup) over deterministic synthetic URLs (the corpus carries
    no real ones — same synthesis discipline as text_pii_redact). This
    is the first stage of every web-corpus pipeline: host-level dedup,
    domain mixing, and robots policy all key on exactly these parts.
    Zero-shuffle per-row codegen; the oracle mirrors with anchored
    regexes since DuckDB has no parse_url."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://cdn"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.org/"),
        F.col("source"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="),
        F.col("lang"),
        F.lit("&v=2"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    )


@register(
    "dedup_url_host",
    oracle=f"""
WITH u AS (SELECT doc_id, n_chars, {_URL_SQL} AS url FROM documents),
h AS (SELECT doc_id, n_chars,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host FROM u)
SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keeper,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM h GROUP BY host
""",
    tags=("llm", "dedup", "scalar"),
)
def dedup_url_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level corpus rollup over the parsed URLs (composes
    fn_url_parse): docs per host, the kept representative, and the
    char mass — the table behind host-level dedup caps, per-domain
    mixing weights, and robots/blocklist joins in web-corpus
    pipelines. One map-side-combined groupBy on host; at 100 TB the
    host table is millions of rows against billions of docs, which is
    why crawl curation keys on it."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://cdn"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.org/"),
        F.col("source"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="),
        F.col("lang"),
        F.lit("&v=2"),
    )
    h = docs.select(
        "doc_id", "n_chars", F.parse_url(url, F.lit("HOST")).alias("host")
    )
    return h.groupBy("host").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("keeper"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "fn_edit_distance",
    oracle="""
WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 30)
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS lev,
       CAST(levenshtein(CAST(a.c_custkey AS VARCHAR),
                        CAST(b.c_custkey AS VARCHAR)) AS INTEGER) AS lev_key,
       a.c_name = b.c_name AS exact_match
FROM c a JOIN c b ON a.c_custkey < b.c_custkey
""",
    tags=("scalar", "dedup"),
)
def fn_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance over a bounded candidate-pair set —
    the fuzzy-match scalar behind entity resolution (typo'd names,
    OCR'd records). The pair set here is a 30-key block (bounded by
    construction — at scale the pairs come from a blocking join like
    dedup_containment's, never a raw cross join; this op pins the
    SCALAR's cross-engine semantics: both engines implement unit-cost
    Levenshtein, so the integer distances hash-match exactly)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 30)
    a = cust.select(F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a"))
    b = cust.select(F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b"))
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").alias("lev"),
            F.levenshtein(
                F.col("key_a").cast("string"), F.col("key_b").cast("string")
            ).alias("lev_key"),
            (F.col("name_a") == F.col("name_b")).alias("exact_match"),
        )
    )


@register(
    "fn_map_core",
    oracle="""
SELECT event_id,
       CAST(3 AS INTEGER) AS n_keys,
       -- mirrors Spark exactly (round-6 ADVICE): transform_values
       -- upper-cases EVERY value incl. $.k, and concat_ws SKIPS a
       -- NULL value (entry renders as bare 'k' / 'type', never NULL)
       ('k' || COALESCE('=' || upper(json_extract_string(props, '$.k')), ''))
         || ','
         || ('type' || COALESCE('=' || upper(event_type), '')) AS entries,
       upper(event_type) = 'PURCHASE' AS is_purchase
FROM events
""",
    tags=("scalar",),
)
def fn_map_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType function family end to end — create_map, map_concat,
    transform_values, map_filter, map_entries — with the final map
    rendered as canonical sorted `k=v` entries so the oracle (which
    needs no maps: it recomputes the surviving entries from the base
    columns directly) pins every intermediate's semantics. The uid
    entry is filtered out by key, values are upper-cased by
    transform_values, and the entry order comes from array_sort over
    map_entries — all pure codegen row work, no shuffle."""
    ev = load_table(spark, sf_dir, "events")
    m = F.map_concat(
        F.create_map(
            F.lit("type"), F.col("event_type"),
            F.lit("uid"), F.col("user_id").cast("string"),
        ),
        F.create_map(F.lit("k"), F.get_json_object("props", "$.k")),
    )
    mt = F.transform_values(m, lambda k, v: F.upper(v))
    mf = F.map_filter(mt, lambda k, v: k != F.lit("uid"))
    entries = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.map_entries(mf)),
            lambda e: F.concat_ws("=", e["key"], e["value"]),
        ),
    )
    return ev.select(
        "event_id",
        F.size(m).alias("n_keys"),
        entries.alias("entries"),
        (F.element_at(mt, "type") == "PURCHASE").alias("is_purchase"),
    )


@register(
    "fn_xml_core",
    oracle="""
SELECT event_id,
       event_type AS t,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       event_type = 'purchase' AS is_purchase
FROM events
""",
    tags=("scalar",),
)
def fn_xml_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scalar family (Spark 4's built-in spark-xml merge): render
    each event as an XML fragment, parse it BACK with from_xml against
    an explicit schema, and cross-check one field through the xpath
    accessor — the feed-ingestion surface (sitemaps, RSS, SOAP-era
    enterprise exports). The oracle recomputes the expected fields from
    the base columns directly (the ground-truth-construction pattern
    every fn_* entry uses), so a parser regression — entity handling,
    type coercion, xpath axis — breaks the hash. All JVM codegen, one
    projection, no shuffle."""
    ev = load_table(spark, sf_dir, "events")
    # coalesce the json value: a missing/NULL $.k must render an EMPTY
    # <k></k> element (parsed back as NULL BIGINT, matching the
    # oracle's CAST(NULL)) — plain concat would NULL the whole XML and
    # silently change t/is_purchase too (the fn_map_core ADVICE class)
    k_str = F.coalesce(F.get_json_object("props", "$.k"), F.lit(""))
    xml = F.concat(
        F.lit("<e><t>"),
        F.col("event_type"),
        F.lit("</t><k>"),
        k_str,
        F.lit("</k></e>"),
    )
    parsed = F.from_xml(xml, "STRUCT<t: STRING, k: BIGINT>")
    return ev.select(
        "event_id",
        parsed["t"].alias("t"),
        # xpath_string + try_cast, NOT xpath_long: the long variant
        # returns 0 for an absent text node, indistinguishable from a
        # legal k=0 (probed; from_xml/oracle both say NULL there)
        F.expr(
            "try_cast(xpath_string(concat('<e><t>', event_type, '</t><k>', "
            "coalesce(get_json_object(props, '$.k'), ''), '</k></e>'), "
            "'/e/k/text()') AS BIGINT)"
        ).alias("k"),
        (parsed["t"] == "purchase").alias("is_purchase"),
    )
