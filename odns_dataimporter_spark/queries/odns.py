"""ODNS reference-parity queries (SURVEY §2.1-§2.2 REF rows), registered
against the committed golden fixtures so the driver's DuckDB oracle
verifies the exact reference semantics: native .csv.gz scan, strict-%f
timestamp typing, permissive float ASNs, ''→NULL, literal protocol /
filename-derived scan_date, tcp∪udp union, snapshot-replace sink.

Timestamps are emitted as formatted strings so both engines hash the
same canonical values regardless of timezone/type plumbing.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odns_dataimporter_spark.odns.ingest import ingest_file
from odns_dataimporter_spark.odns.schema import SINK_COLUMNS
from odns_dataimporter_spark.odns.sinks import write_snapshot_partitioned
from odns_dataimporter_spark.registry import register

_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "odns",
)
_TCP_FILE = os.path.join(_FIXTURES, "2026", "tcp", "tcp_dns_scan_2026-01-15.csv.gz")
_UDP_FILE = os.path.join(_FIXTURES, "2026", "udp", "udp_dns_scan_2026-01-16.csv.gz")

_DUCK_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"


def _duck_typed_select(protocol: str, path: str, scan_date: str) -> str:
    """DuckDB projection mirroring odns.ingest.typed_projection."""
    exprs = []
    for name in SINK_COLUMNS:
        if name == "protocol":
            exprs.append(f"'{protocol}' AS protocol")
        elif name == "scan_date":
            exprs.append(f"'{scan_date}' AS scan_date")
        elif protocol == "udp" and name == "timestamp_response":
            exprs.append("CAST(NULL AS VARCHAR) AS timestamp_response")
        elif name.startswith("timestamp_"):
            # Python's %f right-pads short fractions ('.1' → 100000 µs);
            # DuckDB's %f left-pads ('.1' → 1 µs). The reference uses
            # Python semantics (fieldtypers.py:15), so gate the format
            # with a regex and pad the fraction before parsing.
            pat = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{1,6}$"
            padded = (
                f"split_part({name}, '.', 1) || '.' || rpad(split_part({name}, '.', 2), 6, '0')"
            )
            exprs.append(
                f"CASE WHEN regexp_matches({name}, '{pat}') THEN "
                f"strftime(try_strptime({padded}, '{_DUCK_TS_FMT}'), '{_DUCK_TS_FMT}') "
                f"ELSE NULL END AS {name}"
            )
        elif name.startswith("asn_"):
            exprs.append(f"TRY_CAST({name} AS DOUBLE) AS {name}")
        else:
            exprs.append(name)
    cols = ", ".join(exprs)
    return (
        f"SELECT {cols} FROM read_csv('{path}', delim=';', header=true, "
        f"all_varchar=true, null_padding=true)"
    )


_ODNS_ORACLE = (
    _duck_typed_select("tcp", _TCP_FILE, "2026-01-15")
    + "\nUNION ALL BY NAME\n"
    + _duck_typed_select("udp", _UDP_FILE, "2026-01-16")
)


def _ingest_both(spark: SparkSession) -> DataFrame:
    """tcp ∪ udp typed ingest with timestamps stringified for hashing."""
    tcp = ingest_file(spark, _TCP_FILE, "tcp", "2026-01-15")
    udp = ingest_file(spark, _UDP_FILE, "udp", "2026-01-16")
    df = tcp.unionByName(udp)
    for c in ("timestamp_request", "timestamp_response"):
        df = df.withColumn(c, F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    return df


@register("odns_scan_csv_gz", oracle=_ODNS_ORACLE, tags=("odns", "ref"))
def odns_scan_csv_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entire ingest dataflow (dataimporter.py:131-184) as
    one declarative plan over the golden fixtures — every typing edge
    case (strict %f, 'AS3320'→NULL, ''→NULL, short rows, UDP's missing
    timestamp_response) hash-checked against DuckDB's independent CSV
    pipeline. (sf_dir unused: this surface reads scan files, not the
    synthetic tables.)"""
    return _ingest_both(spark)


@register(
    "odns_protocol_summary",
    oracle=f"""
WITH ingested AS ({_ODNS_ORACLE})
SELECT protocol, scan_date, COUNT(*) AS n_rows,
       COUNT(timestamp_request) AS n_ts_ok,
       COUNT(asn_request) AS n_asn_ok,
       COUNT(DISTINCT response_type) AS n_response_types
FROM ingested
GROUP BY protocol, scan_date
""",
    tags=("odns", "ref"),
)
def odns_protocol_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The natural ODNS sanity aggregation (rows per protocol×scan_date
    with typing-success counts) over the ingested snapshot."""
    return (
        _ingest_both(spark)
        .groupBy("protocol", "scan_date")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("timestamp_request").alias("n_ts_ok"),
            F.count("asn_request").alias("n_asn_ok"),
            F.countDistinct("response_type").alias("n_response_types"),
        )
    )


@register(
    "odns_sink_snapshot_replace",
    oracle=f"""
WITH ingested AS ({_ODNS_ORACLE})
SELECT protocol, COUNT(*) AS n_rows
FROM ingested
WHERE protocol = 'udp' OR timestamp_request IS NOT NULL
GROUP BY protocol
""",
    tags=("odns", "ref"),
)
def odns_sink_snapshot_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-replace semantics end to end: write both protocols to a
    partitioned sink, then overwrite ONLY the tcp partition with a
    re-scan subset (dynamic partition overwrite = the reference's
    DELETE WHERE protocol + reload, dataimporter.py:187-200), read back
    per-protocol counts. The oracle predicts the post-replace state
    relationally: udp untouched, tcp = the replacement subset."""
    sink = os.path.join(tempfile.mkdtemp(prefix="odns_sink_"), "snapshot")
    tcp = ingest_file(spark, _TCP_FILE, "tcp", "2026-01-15")
    udp = ingest_file(spark, _UDP_FILE, "udp", "2026-01-16")
    write_snapshot_partitioned(tcp, sink)
    write_snapshot_partitioned(udp, sink)
    # the "next scan" drops rows whose timestamp failed typing
    write_snapshot_partitioned(tcp.filter(F.col("timestamp_request").isNotNull()), sink)
    got = spark.read.parquet(sink)
    return got.groupBy("protocol").agg(F.count("*").alias("n_rows"))


@register(
    "odns_archive_scan",
    oracle=f"""
WITH ingested AS ({_ODNS_ORACLE})
SELECT protocol, scan_date,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT ip_request) AS n_resolvers
FROM ingested
GROUP BY protocol, scan_date
""",
    tags=("odns", "ref"),
)
def odns_archive_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-archive globbed read (every year x protocol in one plan),
    protocol/scan_date derived from each file path — the archive as a
    queryable partitioned table rather than a newest-file-only source.
    The oracle enumerates the same files explicitly; with exactly one
    file per protocol in the fixtures the results coincide, proving the
    path-derivation logic."""
    from odns_dataimporter_spark.odns.archive import scan_archive

    df = scan_archive(spark, _FIXTURES)
    return df.groupBy("protocol", "scan_date").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("ip_request").alias("n_resolvers"),
    )


@register(
    "odns_top_resolvers",
    oracle=f"""
WITH ingested AS ({_ODNS_ORACLE})
SELECT country_request, ip_request, n_queries
FROM (
  SELECT country_request, ip_request, COUNT(*) AS n_queries,
         row_number() OVER (PARTITION BY country_request
                            ORDER BY COUNT(*) DESC, ip_request) AS rn
  FROM ingested
  WHERE ip_request IS NOT NULL
  GROUP BY country_request, ip_request
) WHERE rn <= 3
""",
    tags=("odns", "ref", "domain"),
)
def odns_top_resolvers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain analytics: top-3 open resolvers per country by query count —
    the first question an ODNS measurement analyst asks of the table the
    reference merely loads."""
    from pyspark.sql.window import Window as W

    df = _ingest_both(spark).filter(F.col("ip_request").isNotNull())
    counts = df.groupBy("country_request", "ip_request").agg(
        F.count("*").alias("n_queries")
    )
    w = W.partitionBy("country_request").orderBy(
        F.col("n_queries").desc(), F.col("ip_request")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("country_request", "ip_request", "n_queries")
    )


@register(
    "odns_hijack_indicator",
    oracle=f"""
WITH ingested AS ({_ODNS_ORACLE})
SELECT protocol,
       COUNT(*) AS n_answered,
       CAST(COUNT(CASE WHEN country_arecord IS NOT NULL
                        AND country_response IS NOT NULL
                        AND country_arecord != country_response THEN 1 END) AS BIGINT)
         AS n_cross_country,
       CAST(COUNT(CASE WHEN asn_arecord IS NOT NULL AND asn_response IS NOT NULL
                        AND asn_arecord != asn_response THEN 1 END) AS BIGINT)
         AS n_cross_asn
FROM ingested
WHERE a_record IS NOT NULL
GROUP BY protocol
""",
    tags=("odns", "ref", "domain"),
)
def odns_hijack_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain analytics: answer-manipulation indicator — answered queries
    whose A-record geolocates to a different country/ASN than the
    responding resolver (the classic open-resolver rewriting signal in
    ODNS measurement studies)."""
    df = _ingest_both(spark).filter(F.col("a_record").isNotNull())
    cross_country = F.when(
        F.col("country_arecord").isNotNull()
        & F.col("country_response").isNotNull()
        & (F.col("country_arecord") != F.col("country_response")),
        1,
    )
    cross_asn = F.when(
        F.col("asn_arecord").isNotNull()
        & F.col("asn_response").isNotNull()
        & (F.col("asn_arecord") != F.col("asn_response")),
        1,
    )
    return df.groupBy("protocol").agg(
        F.count("*").alias("n_answered"),
        F.count(cross_country).alias("n_cross_country"),
        F.count(cross_asn).alias("n_cross_asn"),
    )


def _ip_to_long_spark(col: str):
    """Dotted-quad IPv4 -> uint32-as-long, pure Catalyst expressions."""
    oct_ = lambda i: F.get(F.split(F.col(col), r"\."), i).cast("long")  # noqa: E731
    return (oct_(0) * 16777216 + oct_(1) * 65536 + oct_(2) * 256 + oct_(3))


def _ip_to_long_duck(expr: str) -> str:
    parts = f"string_split({expr}, '.')"
    return (
        f"(CAST(list_extract({parts}, 1) AS BIGINT) * 16777216 + "
        f"CAST(list_extract({parts}, 2) AS BIGINT) * 65536 + "
        f"CAST(list_extract({parts}, 3) AS BIGINT) * 256 + "
        f"CAST(list_extract({parts}, 4) AS BIGINT))"
    )


@register(
    "odns_cidr_membership",
    oracle=f"""
WITH ingested AS ({_ODNS_ORACLE}),
parsed AS (
  SELECT protocol, ip_request, prefix_request,
         {_ip_to_long_duck('ip_request')} AS ip_l,
         {_ip_to_long_duck("string_split(prefix_request, '/')[1]")} AS net_l,
         CAST(string_split(prefix_request, '/')[2] AS BIGINT) AS masklen
  FROM ingested
  WHERE ip_request IS NOT NULL AND prefix_request IS NOT NULL
)
SELECT protocol,
       COUNT(*) AS n_checked,
       CAST(COUNT(CASE WHEN (ip_l >> (32 - masklen)) = (net_l >> (32 - masklen))
                       THEN 1 END) AS BIGINT) AS n_in_prefix
FROM parsed
GROUP BY protocol
""",
    tags=("odns", "ref", "domain"),
)
def odns_cidr_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4/CIDR arithmetic over the scan's enrichment columns: does the
    resolver IP actually fall inside its announced prefix? Dotted-quad →
    uint32 and mask-shift comparison, entirely in Catalyst expressions —
    the network-analytics primitive (subnet joins, prefix aggregation)
    ODNS users need constantly."""
    df = _ingest_both(spark).filter(
        F.col("ip_request").isNotNull() & F.col("prefix_request").isNotNull()
    )
    net = F.get(F.split(F.col("prefix_request"), "/"), 0)
    masklen = F.get(F.split(F.col("prefix_request"), "/"), 1).cast("long")
    df = df.withColumn("ip_l", _ip_to_long_spark("ip_request")).withColumn(
        "net_l",
        F.get(F.split(net, r"\."), 0).cast("long") * 16777216
        + F.get(F.split(net, r"\."), 1).cast("long") * 65536
        + F.get(F.split(net, r"\."), 2).cast("long") * 256
        + F.get(F.split(net, r"\."), 3).cast("long"),
    ).withColumn("masklen", masklen)
    # F.shiftright needs a literal bit count; the SQL form takes expressions
    in_prefix = F.when(
        F.expr("shiftright(ip_l, CAST(32 - masklen AS INT))")
        == F.expr("shiftright(net_l, CAST(32 - masklen AS INT))"),
        1,
    )
    return df.groupBy("protocol").agg(
        F.count("*").alias("n_checked"),
        F.count(in_prefix).alias("n_in_prefix"),
    )


@register(
    "odns_cidr_rollup",
    oracle=f"""
WITH ingested AS ({_ODNS_ORACLE}),
o AS (SELECT CAST(split_part(ip_request, '.', 1) AS BIGINT) AS o1,
             CAST(split_part(ip_request, '.', 2) AS BIGINT) AS o2,
             ip_response
      FROM ingested WHERE ip_request IS NOT NULL)
SELECT CASE WHEN GROUPING(o2) = 1
            THEN CAST(o1 AS VARCHAR) || '.0.0.0/8'
            ELSE CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.0.0/16'
       END AS prefix,
       CAST(CASE WHEN GROUPING(o2) = 1 THEN 8 ELSE 16 END AS BIGINT) AS masklen,
       COUNT(*) AS n_requests,
       COUNT(DISTINCT ip_response) AS n_resolvers
FROM o GROUP BY GROUPING SETS ((o1), (o1, o2))
""",
    tags=("odns", "analytics"),
)
def odns_cidr_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical CIDR aggregation over the scan: requests and distinct
    responding resolvers per /8 and /16 prefix in ONE scan via GROUPING
    SETS (one Expand ×2 + one shuffle, partial-aggregated map-side) —
    the network-level rollup an ODNS measurement study reports
    (resolvers per prefix), generalized from the reference's flat
    per-protocol counts. GROUPING() distinguishes the levels, never
    NULL-sentinels (a real NULL octet would corrupt those)."""
    ing = _ingest_both(spark).filter(F.col("ip_request").isNotNull())
    parts = F.split("ip_request", "\\.")
    o = ing.select(
        parts.getItem(0).cast("long").alias("o1"),
        parts.getItem(1).cast("long").alias("o2"),
        "ip_response",
    )
    g = o.groupingSets([["o1"], ["o1", "o2"]], "o1", "o2").agg(
        F.count("*").alias("n_requests"),
        F.countDistinct("ip_response").alias("n_resolvers"),
        F.grouping("o2").alias("g2"),
    )
    is8 = F.col("g2") == 1
    return g.select(
        F.when(is8, F.concat(F.col("o1").cast("string"), F.lit(".0.0.0/8"))).otherwise(
            F.concat(
                F.col("o1").cast("string"),
                F.lit("."),
                F.col("o2").cast("string"),
                F.lit(".0.0/16"),
            )
        ).alias("prefix"),
        F.when(is8, 8).otherwise(16).cast("long").alias("masklen"),
        "n_requests",
        "n_resolvers",
    )


_CHURN_ORACLE = f"""
WITH tcp AS (
  SELECT DISTINCT ip_request FROM ({_duck_typed_select("tcp", _TCP_FILE, "2026-01-15")})
  WHERE ip_request IS NOT NULL),
udp AS (
  SELECT DISTINCT ip_request FROM ({_duck_typed_select("udp", _UDP_FILE, "2026-01-16")})
  WHERE ip_request IS NOT NULL)
SELECT ip_request, 'tcp_only' AS presence FROM tcp
WHERE ip_request NOT IN (SELECT ip_request FROM udp)
UNION ALL
SELECT ip_request, 'udp_only' AS presence FROM udp
WHERE ip_request NOT IN (SELECT ip_request FROM tcp)
"""


@register("odns_resolver_churn", oracle=_CHURN_ORACLE, tags=("odns",))
def odns_resolver_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolver churn between the two protocol scans: open resolvers
    (ip_request) answering on exactly one of tcp/udp — the
    measurement-study question the reference's snapshot table exists to
    answer (its users would run this as SQL on Postgres; here it is two
    anti joins over the typed scans). At archive scale each side is a
    distinct on the scan partition followed by a broadcast anti join —
    no full-table shuffle of the wide rows."""
    tcp = (
        ingest_file(spark, _TCP_FILE, "tcp", "2026-01-15")
        .select("ip_request")
        .filter(F.col("ip_request").isNotNull())
        .distinct()
    )
    udp = (
        ingest_file(spark, _UDP_FILE, "udp", "2026-01-16")
        .select("ip_request")
        .filter(F.col("ip_request").isNotNull())
        .distinct()
    )
    tcp_only = tcp.join(udp, "ip_request", "left_anti").select(
        "ip_request", F.lit("tcp_only").alias("presence")
    )
    udp_only = udp.join(tcp, "ip_request", "left_anti").select(
        "ip_request", F.lit("udp_only").alias("presence")
    )
    return tcp_only.unionByName(udp_only)


_HHI_ORACLE = f"""
WITH both_scans AS (
  SELECT protocol, asn_request
  FROM ({_duck_typed_select("tcp", _TCP_FILE, "2026-01-15")})
  UNION ALL BY NAME
  SELECT protocol, asn_request
  FROM ({_duck_typed_select("udp", _UDP_FILE, "2026-01-16")})),
c AS (
  SELECT protocol, asn_request, CAST(COUNT(*) AS BIGINT) AS n
  FROM both_scans WHERE asn_request IS NOT NULL
  GROUP BY protocol, asn_request),
s AS (
  SELECT protocol,
         CAST(COUNT(*) AS BIGINT) AS n_asns,
         CAST(SUM(n) AS BIGINT) AS total,
         CAST(SUM(n * n) AS BIGINT) AS sum_sq
  FROM c GROUP BY protocol)
SELECT protocol, n_asns, total,
       floor(CAST(sum_sq AS DOUBLE) * 1e6
             / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE))) / 1e6
         AS hhi_q6
FROM s
"""


@register("odns_asn_concentration", oracle=_HHI_ORACLE, tags=("odns",))
def odns_asn_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of open resolvers across
    origin ASNs, per protocol — the centralization metric ODNS
    measurement studies report (how much of the open-resolver
    population sits in a few networks). HHI = Σ(nᵢ/N)² computed as
    Σnᵢ²/N²: both sums stay exact int64, so the only float op is one
    final division, floor-quantized. Scale shape: a map-side-combined
    (protocol, asn) count, then a per-protocol rollup of the tiny ASN
    table — the same two-level aggregate as `stats_linear_trend`."""
    tcp = ingest_file(spark, _TCP_FILE, "tcp", "2026-01-15")
    udp = ingest_file(spark, _UDP_FILE, "udp", "2026-01-16")
    both = tcp.unionByName(udp).select("protocol", "asn_request").filter(
        F.col("asn_request").isNotNull()
    )
    c = both.groupBy("protocol", "asn_request").agg(
        F.count("*").cast("long").alias("n")
    )
    s = c.groupBy("protocol").agg(
        F.count("*").cast("long").alias("n_asns"),
        F.sum("n").alias("total"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )
    return s.select(
        "protocol",
        "n_asns",
        "total",
        (
            F.floor(
                F.col("sum_sq").cast("double")
                * 1e6
                / (F.col("total").cast("double") * F.col("total").cast("double"))
            )
            / 1e6
        ).alias("hhi_q6"),
    )


@register(
    "odns_geo_mismatch",
    oracle=f"""
WITH ingested AS ({_ODNS_ORACLE})
SELECT org_response,
       CAST(COUNT(*) AS BIGINT) AS n_geolocated,
       CAST(COUNT(CASE WHEN country_response != country_arecord THEN 1 END)
            AS BIGINT) AS n_mismatch,
       floor(COUNT(CASE WHEN country_response != country_arecord THEN 1 END)
             * 10000.0 / COUNT(*)) / 10000.0 AS mismatch_rate_q4
FROM ingested
WHERE org_response IS NOT NULL
  AND country_response IS NOT NULL AND country_arecord IS NOT NULL
GROUP BY org_response
""",
    tags=("odns", "ref", "domain"),
)
def odns_geo_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain analytics: per resolver organisation, the share of answers
    whose A record geolocates to a different country than the resolver
    itself — the aggregate view of the hijack indicator, normalised per
    org. Rate is exact integer counts with one floored float division,
    so both engines quantize identically."""
    df = _ingest_both(spark).filter(
        F.col("org_response").isNotNull()
        & F.col("country_response").isNotNull()
        & F.col("country_arecord").isNotNull()
    )
    mism = F.when(F.col("country_response") != F.col("country_arecord"), 1)
    return df.groupBy("org_response").agg(
        F.count("*").cast("long").alias("n_geolocated"),
        F.count(mism).cast("long").alias("n_mismatch"),
        (F.floor(F.count(mism) * 10000.0 / F.count("*")) / 10000.0).alias(
            "mismatch_rate_q4"
        ),
    )


@register(
    "join_null_safe",
    oracle=f"""
WITH ingested AS ({_ODNS_ORACLE}),
t AS (SELECT country_request AS c, COUNT(*) AS n_tcp
      FROM ingested WHERE protocol = 'tcp' GROUP BY country_request),
u AS (SELECT country_request AS c, COUNT(*) AS n_udp
      FROM ingested WHERE protocol = 'udp' GROUP BY country_request)
SELECT COALESCE(t.c, u.c, '<null>') AS country_label,
       (t.c IS NULL AND u.c IS NULL) AS is_null_key,
       COALESCE(n_tcp, 0) AS n_tcp,
       COALESCE(n_udp, 0) AS n_udp
FROM t FULL JOIN u ON t.c IS NOT DISTINCT FROM u.c
""",
    tags=("odns", "join"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): tcp vs udp
    resolver counts per request country where the UNKNOWN country
    (NULL, from the reference's ''→NULL rule) is a real matchable key
    instead of silently dropping from the equi join. Spark's eqNullSafe
    stays a hash-partitionable join key (NULLs hash to one partition —
    at 100 TB a heavy null key would take the salting path like any
    other hot key)."""
    df = _ingest_both(spark)
    t = (
        df.filter(F.col("protocol") == "tcp")
        .groupBy(F.col("country_request").alias("tc"))
        .agg(F.count("*").alias("n_tcp_raw"))
    )
    u = (
        df.filter(F.col("protocol") == "udp")
        .groupBy(F.col("country_request").alias("uc"))
        .agg(F.count("*").alias("n_udp_raw"))
    )
    return t.join(u, t.tc.eqNullSafe(u.uc), "full").select(
        F.coalesce("tc", "uc", F.lit("<null>")).alias("country_label"),
        (F.col("tc").isNull() & F.col("uc").isNull()).alias("is_null_key"),
        F.coalesce("n_tcp_raw", F.lit(0)).alias("n_tcp"),
        F.coalesce("n_udp_raw", F.lit(0)).alias("n_udp"),
    )


_LATENCY_ORACLE = f"""
WITH t AS (
  SELECT country_request,
         epoch_us(CAST(timestamp_response AS TIMESTAMP))
           - epoch_us(CAST(timestamp_request AS TIMESTAMP)) AS lat_us
  FROM ({_duck_typed_select("tcp", _TCP_FILE, "2026-01-15")})
  WHERE timestamp_request IS NOT NULL
    AND timestamp_response IS NOT NULL
    AND epoch_us(CAST(timestamp_response AS TIMESTAMP))
        >= epoch_us(CAST(timestamp_request AS TIMESTAMP))
),
r AS (
  SELECT country_request, lat_us,
         CAST(row_number() OVER (PARTITION BY country_request
                                 ORDER BY lat_us) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY country_request) AS BIGINT) AS n,
         CAST(SUM(lat_us) OVER (PARTITION BY country_request) AS BIGINT)
           AS s
  FROM t
)
SELECT country_request,
       CAST(MAX(n) AS BIGINT) AS n_pairs,
       CAST(MAX(s) AS BIGINT) / CAST(MAX(n) AS DOUBLE) / 1000.0
         AS mean_ms,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN lat_us END) AS BIGINT)
         / 1000.0 AS median_ms,
       CAST(MAX(CASE WHEN rn = greatest(1, (n * 9) // 10) THEN lat_us END)
            AS BIGINT) / 1000.0 AS p90_ms
FROM r GROUP BY country_request
"""


@register("odns_resolver_latency", oracle=_LATENCY_ORACLE, tags=("odns",))
def odns_resolver_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TCP resolver response latency per country —
    timestamp_response − timestamp_request (the pair of columns the
    reference types strictly at dataimporter.py:23-42 but never
    analyzes): count, mean, exact median and p90 in milliseconds,
    negative/NULL pairs excluded. This is the first performance
    question an ODNS measurement study asks of the snapshot table.
    Shape: one typed scan, per-country rank windows over the country
    partitions (exact order statistics via row_number = (n+1)//2 and
    (9n)//10 — no approx-percentile sketch, so the oracle hash-matches
    exactly). Determinism: latencies are exact int64 microsecond
    diffs; mean is one late division."""
    from pyspark.sql.window import Window as W

    t = (
        ingest_file(spark, _TCP_FILE, "tcp", "2026-01-15")
        .filter(
            F.col("timestamp_request").isNotNull()
            & F.col("timestamp_response").isNotNull()
        )
        .select(
            "country_request",
            (
                F.unix_micros("timestamp_response")
                - F.unix_micros("timestamp_request")
            ).alias("lat_us"),
        )
        .filter(F.col("lat_us") >= 0)
    )
    wr = W.partitionBy("country_request").orderBy("lat_us")
    wa = W.partitionBy("country_request")
    r = t.select(
        "country_request",
        "lat_us",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count("*").over(wa).cast("long").alias("n"),
        F.sum("lat_us").over(wa).cast("long").alias("s"),
    )
    return r.groupBy("country_request").agg(
        F.max("n").cast("long").alias("n_pairs"),
        (F.max("s").cast("long") / F.max("n").cast("double") / 1000.0).alias(
            "mean_ms"
        ),
        (
            F.max(
                F.when(
                    F.col("rn") == F.floor((F.col("n") + 1) / 2),
                    F.col("lat_us"),
                )
            ).cast("long")
            / 1000.0
        ).alias("median_ms"),
        (
            F.max(
                F.when(
                    F.col("rn")
                    == F.greatest(
                        F.lit(1), F.floor(F.col("n") * 9 / 10)
                    ),
                    F.col("lat_us"),
                )
            ).cast("long")
            / 1000.0
        ).alias("p90_ms"),
    )


_ANY_MIN_COUNTRIES = 2  # resolver-country spread threshold


@register(
    "odns_anycast_spread",
    oracle=f"""
WITH ingested AS ({_ODNS_ORACLE})
SELECT a_record,
       CAST(COUNT(*) AS BIGINT) AS n_answers,
       CAST(COUNT(DISTINCT country_response) AS BIGINT)
         AS n_resolver_countries,
       CAST(COUNT(DISTINCT org_response) AS BIGINT) AS n_resolver_orgs,
       CAST(COUNT(DISTINCT protocol) AS BIGINT) AS n_protocols
FROM ingested
WHERE a_record IS NOT NULL AND country_response IS NOT NULL
GROUP BY a_record
HAVING COUNT(DISTINCT country_response) >= {_ANY_MIN_COUNTRIES}
ORDER BY a_record
""",
    tags=("odns", "ref", "domain"),
    # the golden fixture's six answer IPs are each seen from exactly one
    # resolver country, so an empty result IS the correct answer there —
    # the HAVING threshold is the operator's semantics, not a bug
    # (spread>=2 rows appear as soon as a multi-country answer exists)
    min_rows=0,
)
def odns_anycast_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain analytics: A records answered by resolvers spread across
    ≥2 countries — the anycast / CDN-content
    indicator (one answer IP visible from many vantage countries) and
    the complement of `odns_geo_mismatch`'s per-org view. Pure
    grouped COUNT DISTINCT over the tcp∪udp ingest with an integer
    HAVING threshold — at 100 TB this is one map-side-combined
    aggregate keyed on a_record; the distinct counts are per-group
    expand-and-count, which Catalyst plans as two-phase partial
    aggregation (no extra corpus pass)."""
    df = _ingest_both(spark).filter(
        F.col("a_record").isNotNull() & F.col("country_response").isNotNull()
    )
    return (
        df.groupBy("a_record")
        .agg(
            F.count("*").cast("long").alias("n_answers"),
            F.countDistinct("country_response")
            .cast("long")
            .alias("n_resolver_countries"),
            F.countDistinct("org_response").cast("long").alias("n_resolver_orgs"),
            F.countDistinct("protocol").cast("long").alias("n_protocols"),
        )
        .filter(F.col("n_resolver_countries") >= _ANY_MIN_COUNTRIES)
    )
