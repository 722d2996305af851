"""Geospatial operators (EXT surface): grid rollups, nearest-hub
assignment, grid-blocked nearest-neighbor self-join, and bounding-box
containment — the spatial analytics a scan-telemetry pipeline needs
once resolver/client coordinates enter the picture (the reference's
dataimporter feeds a geo-enriched downstream schema; cf.
/root/reference/dataimporter.py's resolver-table CSV columns).

The testdata has no coordinate columns, so every op derives
DETERMINISTIC synthetic coordinates from integer keys with Knuth
multiplicative hashing in exact int64 micro-degrees:

    lat_u = (key * 2654435761) % 180000001 - 90000000   in [-9e7, 9e7]
    lon_u = (key * 2246822519) % 360000001 - 180000000  in [-1.8e8, 1.8e8]

Both engines evaluate the same integer arithmetic (products stay below
2^62 for any key the tiers generate), so the point set is bit-identical
— the geo op itself is what the oracle exercises.

Scale design notes:
- Grid rollups are one hash aggregate keyed by O(1)-computable integer
  cell ids — a single map-side-combined shuffle at any corpus size.
- Nearest-hub is a BROADCAST cross join against a bounded hub table
  (|nations|) followed by an integer-packed argmin — the big side
  never shuffles (same rule as decontam_ngram).
- The kNN self-join blocks by coarse grid cell and probes only the
  3×3 neighborhood (the standard spatial-grid equi-join rewrite), so
  candidate volume tracks point density, never corpus²  — same design
  grammar as the MinHash/SimHash band buckets.
- Containment against a bounded box table is a broadcast theta join;
  at 100 TB the box predicate additionally partition-prunes when the
  point table is stored cell-bucketed (see layout_partition_prune).

Every distance that feeds a decision is either exact integer
(equirectangular micro-degree metric) or a floored-quantized double
computed by one identical expression sequence on both engines
(haversine) — the repo-wide determinism discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from odns_dataimporter_spark.registry import register
from odns_dataimporter_spark.tables import load_table

_LAT_MULT = 2654435761  # Knuth's 2^32 golden-ratio multiplier
_LON_MULT = 2246822519  # xxhash's PRIME32_2 — independent lane
_LAT_MOD = 180_000_001
_LON_MOD = 360_000_001
_LAT_OFF = 90_000_000
_LON_OFF = 180_000_000
_EARTH_KM = 6371.0


def _lat_u(key: Column) -> Column:
    return (key.cast("long") * _LAT_MULT) % _LAT_MOD - _LAT_OFF


def _lon_u(key: Column) -> Column:
    return (key.cast("long") * _LON_MULT) % _LON_MOD - _LON_OFF


def _lat_u_sql(key: str) -> str:
    return f"(CAST({key} AS BIGINT) * {_LAT_MULT}) % {_LAT_MOD} - {_LAT_OFF}"


def _lon_u_sql(key: str) -> str:
    return f"(CAST({key} AS BIGINT) * {_LON_MULT}) % {_LON_MOD} - {_LON_OFF}"


# --- multi-resolution grid rollup ------------------------------------------------


@register(
    "geo_grid_rollup",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey,
         {_lat_u_sql('c_custkey')} AS lat_u,
         {_lon_u_sql('c_custkey')} AS lon_u,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
), cells AS (
  SELECT (lat_u + {_LAT_OFF}) // 10000000 AS cell_lat10,
         (lon_u + {_LON_OFF}) // 10000000 AS cell_lon10,
         bal_cents
  FROM pts
)
SELECT CAST(cell_lat10 AS BIGINT) AS cell_lat10,
       CAST(cell_lon10 AS BIGINT) AS cell_lon10,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents
FROM cells GROUP BY 1, 2
""",
    tags=("geo", "aggregate"),
)
def geo_grid_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density rollup on a 10° integer grid: customers hashed
    to deterministic coordinates, bucketed by (cell_lat10, cell_lon10),
    counted with exact account-balance cent sums. The cell id is pure
    integer arithmetic on the row (no UDF, no geohash library), so the
    whole query is ONE map-side-combined hash aggregate — the same
    plan shape at 1 GB and 100 TB, with shuffle bounded by the 18×36
    cell grid, not the point count."""
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        _lat_u(F.col("c_custkey")).alias("lat_u"),
        _lon_u(F.col("c_custkey")).alias("lon_u"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    cells = pts.select(
        F.expr(f"(lat_u + {_LAT_OFF}) DIV 10000000").alias("cell_lat10"),
        F.expr(f"(lon_u + {_LON_OFF}) DIV 10000000").alias("cell_lon10"),
        "bal_cents",
    )
    return cells.groupBy("cell_lat10", "cell_lon10").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("bal_cents").cast("long").alias("sum_bal_cents"),
    )


# --- broadcast nearest-hub assignment --------------------------------------------


_HAVERSINE_SQL = """
floor(2.0 * {r} * asin(sqrt(
    sin(radians((hlat - plat) / 2e6)) * sin(radians((hlat - plat) / 2e6))
  + cos(radians(plat / 1e6)) * cos(radians(hlat / 1e6))
    * sin(radians((hlon - plon) / 2e6)) * sin(radians((hlon - plon) / 2e6))
)) * 1e6)"""


def _haversine_q6(plat: Column, plon: Column, hlat: Column, hlon: Column) -> Column:
    """floor(haversine_km * 1e6) as int64 — one identical expression
    sequence on both engines. PLATFORM-VERIFIED ONLY: sin/cos/asin/sqrt
    agree bitwise between the JVM's libm and DuckDB's on this
    container, but a value landing within an ulp of a 1e-6 floor
    boundary could quantize differently on a foreign libm (the floor
    does NOT absorb ulp divergence at boundaries — round-9 ADVICE).
    Consumers must therefore never let this value DECIDE anything:
    geo_nearest_hub selects by exact integer d2 and only REPORTS this
    quantity."""
    dlat = (hlat - plat) / 2e6
    dlon = (hlon - plon) / 2e6
    a = (
        F.sin(F.radians(dlat)) * F.sin(F.radians(dlat))
        + F.cos(F.radians(plat / 1e6))
        * F.cos(F.radians(hlat / 1e6))
        * F.sin(F.radians(dlon))
        * F.sin(F.radians(dlon))
    )
    return F.floor(2.0 * _EARTH_KM * F.asin(F.sqrt(a)) * 1e6).cast("long")


@register(
    "geo_nearest_hub",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey,
         {_lat_u_sql('c_custkey')} AS plat,
         {_lon_u_sql('c_custkey')} AS plon
  FROM customer
), hubs AS (
  SELECT n_nationkey,
         {_lat_u_sql('n_nationkey + 1')} AS hlat,
         {_lon_u_sql('n_nationkey + 1')} AS hlon
  FROM nation
), d AS (
  SELECT c_custkey, n_nationkey,
         (hlat - plat) * (hlat - plat)
           + (hlon - plon) * (hlon - plon) AS d2,
         CAST({_HAVERSINE_SQL.format(r=_EARTH_KM)} AS BIGINT) AS d_q6
  FROM pts CROSS JOIN hubs
), best AS (
  SELECT c_custkey,
         MIN(d2 * 32 + n_nationkey) AS packed,
         arg_min(d_q6, d2 * 32 + n_nationkey) AS dist_q6
  FROM d GROUP BY 1
)
SELECT CAST(packed % 32 AS BIGINT) AS hub_key,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(SUM(dist_q6) AS BIGINT) AS sum_dist_q6,
       CAST(MAX(dist_q6) AS BIGINT) AS max_dist_q6
FROM best GROUP BY 1
""",
    tags=("geo", "join"),
)
def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub assignment: every customer point is assigned to the
    closest of |nations| hub points, then rolled up per hub (count,
    summed/max floored micro-km great-circle distance to the chosen
    hub). The DECISION metric is the exact integer equirectangular
    d2 = Δlat² + Δlon² in micro-degrees (the same pure-integer metric
    geo_grid_knn pins), packed as min(d2*32 + hubkey) — distance in
    the high bits, hub key as the deterministic tiebreaker in the low
    5 bits — so WHICH hub wins is exact int64 comparison on any
    platform; no float enters the assignment (round-9 ADVICE: the
    earlier floor(haversine) decision could flip across libms when the
    true distance landed within an ulp of a 1e-6 boundary). The
    REPORTED distance is the haversine q6 of the selected pair,
    carried through the argmin with min_by/arg_min; those value
    columns depend on sin/cos/asin/sqrt agreeing between the JVM and
    DuckDB libms — verified bitwise on this container, and a foreign
    platform could shift a reported sum by ±1 micro-km without
    affecting the assignment or row set. Scale shape: the hub table is
    broadcast (bounded at 25 rows); the customer side is scanned once,
    never shuffled until the per-customer argmin's keyed aggregate —
    the canonical broadcast-refine pattern for nearest-facility joins
    at 100 TB. (Hub keys are offset by +1 so hub 0 doesn't sit at the
    hash origin shared with no customer key.)"""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pts = c.select(
        "c_custkey",
        _lat_u(F.col("c_custkey")).alias("plat"),
        _lon_u(F.col("c_custkey")).alias("plon"),
    )
    hubs = n.select(
        "n_nationkey",
        _lat_u(F.col("n_nationkey") + 1).alias("hlat"),
        _lon_u(F.col("n_nationkey") + 1).alias("hlon"),
    )
    d = pts.crossJoin(hubs).select(
        "c_custkey",
        "n_nationkey",
        (
            (F.col("hlat") - F.col("plat")) * (F.col("hlat") - F.col("plat"))
            + (F.col("hlon") - F.col("plon")) * (F.col("hlon") - F.col("plon"))
        ).alias("d2"),
        _haversine_q6(
            F.col("plat"), F.col("plon"), F.col("hlat"), F.col("hlon")
        ).alias("d_q6"),
    )
    # packed keys are unique per (customer, hub) — the low-bit hub key
    # disambiguates — so min_by never sees ties
    best = d.groupBy("c_custkey").agg(
        F.min(F.col("d2") * 32 + F.col("n_nationkey")).alias("packed"),
        F.expr("min_by(d_q6, d2 * 32 + n_nationkey)").alias("dist_q6"),
    )
    return best.groupBy((F.col("packed") % 32).cast("long").alias("hub_key")).agg(
        F.count("*").cast("long").alias("n_assigned"),
        F.sum("dist_q6").cast("long").alias("sum_dist_q6"),
        F.max("dist_q6").cast("long").alias("max_dist_q6"),
    )


# --- grid-blocked nearest-neighbor self-join --------------------------------------


@register(
    "geo_grid_knn",
    oracle=f"""
WITH gov AS (
  SELECT LEAST(CAST(10000000 AS BIGINT), GREATEST(CAST(500000 AS BIGINT),
           CAST(floor(10000000.0 * sqrt(1500.0 / COUNT(*))) AS BIGINT)))
           AS w
  FROM customer
), pts AS (
  SELECT c_custkey AS k,
         {_lat_u_sql('c_custkey')} AS lat_u,
         {_lon_u_sql('c_custkey')} AS lon_u,
         gov.w AS w
  FROM customer CROSS JOIN gov
), cells AS (
  SELECT k, lat_u, lon_u, w,
         (lat_u + {_LAT_OFF}) // w AS cl,
         (lon_u + {_LON_OFF}) // w AS cn
  FROM pts
), probes AS (
  SELECT c.k, c.lat_u, c.lon_u, c.cl + d.dl AS cl, c.cn + d.dn AS cn
  FROM cells c CROSS JOIN (
    SELECT dl, dn FROM (VALUES (-1),(0),(1)) a(dl), (VALUES (-1),(0),(1)) b(dn)
  ) d
), cand AS (
  SELECT p.k, o.k AS ok,
         (p.lat_u - o.lat_u) * (p.lat_u - o.lat_u)
       + (p.lon_u - o.lon_u) * (p.lon_u - o.lon_u) AS d2
  FROM probes p JOIN cells o ON o.cl = p.cl AND o.cn = p.cn AND o.k <> p.k
), md AS (
  SELECT k, MIN(d2) AS d2 FROM cand GROUP BY 1
), nn AS (
  SELECT c.k, MIN(c.ok) AS nn_key, MIN(m.d2) AS d2
  FROM cand c JOIN md m ON m.k = c.k AND m.d2 = c.d2
  GROUP BY c.k
)
SELECT CAST(k AS BIGINT) AS custkey, CAST(nn_key AS BIGINT) AS nn_custkey,
       CAST(d2 AS BIGINT) AS d2_u
FROM nn
""",
    tags=("geo", "join", "similarity"),
)
def geo_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor SELF-join under grid blocking: each customer
    point probes its own 10° cell plus the 8 surrounding cells (the
    3×3 spatial-grid rewrite that turns a quadratic all-pairs scan
    into an equi-join on cell id) and keeps its closest blockmate in
    the exact integer equirectangular metric (cell width density-
    governed at max(0.5°, 10°·sqrt(1500/n)) so expected occupancy — and
    with it candidate volume per point — is scale-invariant) d² = Δlat_u² + Δlon_u²
    (micro-degrees; products stay < 2^63). Points whose 3×3 block
    holds no other point drop out — exactly the candidate semantics a
    production radius-bounded kNN ships (the block IS the radius
    bound). Ties on d² break to the smaller key via an exact
    min-over-equals join (no float argmin). Scale: candidate volume is
    Σ(cell occupancy²) over 648 cells — density-bound, like the LSH
    bucket-join family; at 100 TB the same query runs with a finer
    grid chosen from the profiled density (dedup_lsh_bucket_stats is
    the analogous monitor)."""
    c = load_table(spark, sf_dir, "customer")
    # density-governed cell width (the geo_dbscan_grid eps rule): a
    # FIXED 10-degree grid holds ~n/648 points per cell, so the 3x3
    # candidate volume grows QUADRATICALLY with the corpus (at sf1 the
    # fixed grid emitted ~312M candidate pairs and ground for minutes
    # materializing them); w ~ 1/sqrt(n) keeps expected cell occupancy
    # constant, so candidates stay ~9*occupancy*n — linear forever
    gov = c.agg(
        F.least(
            F.lit(10_000_000).cast("long"),
            F.greatest(
                F.lit(500_000).cast("long"),
                F.floor(10_000_000 * F.sqrt(1500.0 / F.count("*"))).cast(
                    "long"
                ),
            ),
        ).alias("w")
    )
    pts = c.crossJoin(gov).select(
        F.col("c_custkey").alias("k"),
        _lat_u(F.col("c_custkey")).alias("lat_u"),
        _lon_u(F.col("c_custkey")).alias("lon_u"),
        "w",
    )
    cells = pts.select(
        "k",
        "lat_u",
        "lon_u",
        "w",
        F.expr(f"(lat_u + {_LAT_OFF}) DIV w").alias("cl"),
        F.expr(f"(lon_u + {_LON_OFF}) DIV w").alias("cn"),
    ).localCheckpoint(eager=False)  # probe and build sides share one scan
    offs = spark.createDataFrame(
        [(dl, dn) for dl in (-1, 0, 1) for dn in (-1, 0, 1)], "dl int, dn int"
    )
    probes = cells.crossJoin(F.broadcast(offs)).select(
        "k",
        "lat_u",
        "lon_u",
        (F.col("cl") + F.col("dl")).alias("cl"),
        (F.col("cn") + F.col("dn")).alias("cn"),
    )
    o = cells.select(
        F.col("k").alias("ok"),
        F.col("lat_u").alias("olat"),
        F.col("lon_u").alias("olon"),
        "cl",
        "cn",
    )
    cand = (
        probes.join(o, ["cl", "cn"])
        .filter(F.col("ok") != F.col("k"))
        .select(
            "k",
            "ok",
            (
                (F.col("lat_u") - F.col("olat")) * (F.col("lat_u") - F.col("olat"))
                + (F.col("lon_u") - F.col("olon"))
                * (F.col("lon_u") - F.col("olon"))
            ).alias("d2"),
        )
        .localCheckpoint(eager=False)  # feeds both the min and the tie-resolve
    )
    md = cand.groupBy("k").agg(F.min("d2").alias("d2"))
    nn = (
        cand.join(md, ["k", "d2"])
        .groupBy("k")
        .agg(F.min("ok").alias("nn_key"), F.min("d2").alias("d2"))
    )
    return nn.select(
        F.col("k").cast("long").alias("custkey"),
        F.col("nn_key").cast("long").alias("nn_custkey"),
        F.col("d2").cast("long").alias("d2_u"),
    )


# --- bounding-box containment ----------------------------------------------------


@register(
    "geo_point_in_box",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey,
         {_lat_u_sql('c_custkey')} AS lat_u,
         {_lon_u_sql('c_custkey')} AS lon_u,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
), boxes AS (
  SELECT r_regionkey,
         CAST(r_regionkey * 30000000 - 90000000 AS BIGINT) AS lat_lo,
         CAST(r_regionkey * 30000000 - 30000000 AS BIGINT) AS lat_hi,
         CAST(r_regionkey * 50000000 - 180000000 AS BIGINT) AS lon_lo,
         CAST(r_regionkey * 50000000 + 30000000 AS BIGINT) AS lon_hi
  FROM region
)
SELECT CAST(b.r_regionkey AS BIGINT) AS box_key,
       CAST(COUNT(p.c_custkey) AS BIGINT) AS n_inside,
       CAST(COALESCE(SUM(p.bal_cents), 0) AS BIGINT) AS sum_bal_cents
FROM boxes b LEFT JOIN pts p
  ON p.lat_u >= b.lat_lo AND p.lat_u < b.lat_hi
 AND p.lon_u >= b.lon_lo AND p.lon_u < b.lon_hi
GROUP BY 1
""",
    tags=("geo", "join"),
)
def geo_point_in_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-rectangle containment against a bounded box table (one
    overlapping 60°-tall × 80°-wide window per region key): counts and
    exact cent sums per box, boxes with no points kept at zero via the
    LEFT join. The box table broadcasts, so the theta-range predicate
    evaluates map-side against every point partition — no shuffle of
    the point table at all (the aggregate's 5-row groupBy is the only
    exchange). This is the degenerate-but-load-bearing base case of
    spatial containment: with a real polygon layer the same plan holds
    with boxes as the polygon bounding-box prefilter."""
    c = load_table(spark, sf_dir, "customer")
    r = load_table(spark, sf_dir, "region")
    pts = c.select(
        "c_custkey",
        _lat_u(F.col("c_custkey")).alias("lat_u"),
        _lon_u(F.col("c_custkey")).alias("lon_u"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    boxes = r.select(
        "r_regionkey",
        (F.col("r_regionkey").cast("long") * 30_000_000 - 90_000_000).alias("lat_lo"),
        (F.col("r_regionkey").cast("long") * 30_000_000 - 30_000_000).alias("lat_hi"),
        (F.col("r_regionkey").cast("long") * 50_000_000 - 180_000_000).alias(
            "lon_lo"
        ),
        (F.col("r_regionkey").cast("long") * 50_000_000 + 30_000_000).alias(
            "lon_hi"
        ),
    )
    joined = F.broadcast(boxes).join(
        pts,
        (F.col("lat_u") >= F.col("lat_lo"))
        & (F.col("lat_u") < F.col("lat_hi"))
        & (F.col("lon_u") >= F.col("lon_lo"))
        & (F.col("lon_u") < F.col("lon_hi")),
        "left",
    )
    return joined.groupBy(
        F.col("r_regionkey").cast("long").alias("box_key")
    ).agg(
        F.count("c_custkey").cast("long").alias("n_inside"),
        F.coalesce(F.sum("bal_cents"), F.lit(0)).cast("long").alias("sum_bal_cents"),
    )


# --- grid-blocked DBSCAN -----------------------------------------------------

_DB_EPS_U = 4_000_000  # eps = 4 degrees in micro-degrees (= one grid cell)
_DB_MINPTS = 4  # core point: >= 4 points (incl. itself) within eps


def _dbscan_pair_sql() -> str:
    """Shared CTE chain: derived points, 3x3 grid-blocked neighbor
    pairs within eps (exact integer metric), per-point degree."""
    return f"""
gov AS (
  SELECT GREATEST(CAST(30 AS BIGINT), CAST(COUNT(*) AS BIGINT) // 150) AS m,
         LEAST(CAST({_DB_EPS_U} AS BIGINT), GREATEST(CAST(100000 AS BIGINT),
           CAST(floor({_DB_EPS_U}.0 * sqrt(1500.0 / COUNT(*))) AS BIGINT)))
           AS eps
  FROM customer
), pts AS (
  SELECT c_custkey AS k,
         CASE WHEN c_custkey % 37 < 30 THEN
           GREATEST(CAST(-90000000 AS BIGINT), LEAST(CAST(90000000 AS BIGINT),
             ({_lat_u_sql('(c_custkey // 37) % gov.m + 1')})
             + (CAST(c_custkey AS BIGINT) * 1779033703) % 4000001 - 2000000))
         ELSE {_lat_u_sql('c_custkey')} END AS lat_u,
         CASE WHEN c_custkey % 37 < 30 THEN
           GREATEST(CAST(-180000000 AS BIGINT), LEAST(CAST(180000000 AS BIGINT),
             ({_lon_u_sql('(c_custkey // 37) % gov.m + 1')})
             + (CAST(c_custkey AS BIGINT) * 3144134277) % 4000001 - 2000000))
         ELSE {_lon_u_sql('c_custkey')} END AS lon_u,
         gov.eps AS eps
  FROM customer CROSS JOIN gov
), cells AS (
  SELECT k, lat_u, lon_u, eps,
         (lat_u + {_LAT_OFF}) // eps AS cl,
         (lon_u + {_LON_OFF}) // eps AS cn
  FROM pts
), probes AS (
  SELECT c.k, c.lat_u, c.lon_u, c.cl + d.dl AS cl, c.cn + d.dn AS cn
  FROM cells c CROSS JOIN (
    SELECT dl, dn FROM (VALUES (-1),(0),(1)) a(dl), (VALUES (-1),(0),(1)) b(dn)
  ) d
), nbr AS (
  SELECT p.k AS u, o.k AS v
  FROM probes p JOIN cells o ON o.cl = p.cl AND o.cn = p.cn AND o.k <> p.k
  WHERE (p.lat_u - o.lat_u) * (p.lat_u - o.lat_u)
      + (p.lon_u - o.lon_u) * (p.lon_u - o.lon_u)
      <= p.eps * p.eps
), deg AS (
  SELECT u AS k, CAST(COUNT(*) + 1 AS BIGINT) AS n_in_eps FROM nbr GROUP BY u
), core AS (
  SELECT k FROM deg WHERE n_in_eps >= {_DB_MINPTS}
)"""


@register(
    "geo_dbscan_grid",
    oracle="WITH RECURSIVE "
    + _dbscan_pair_sql()
    + f"""
, ce AS (
  SELECT n.u, n.v FROM nbr n
  JOIN core a ON a.k = n.u JOIN core b ON b.k = n.v
),
reach(u, v) AS (
  SELECT u, v FROM ce
  UNION
  SELECT r.u, e.v FROM reach r JOIN ce e ON e.u = r.v
),
comp AS (
  SELECT c.k AS k,
         LEAST(c.k, COALESCE(MIN(r.v), c.k)) AS cluster_id
  FROM core c LEFT JOIN reach r ON r.u = c.k
  GROUP BY c.k
),
border AS (
  SELECT n.u AS k, CAST(MIN(cc.cluster_id) AS BIGINT) AS cluster_id
  FROM nbr n JOIN comp cc ON cc.k = n.v
  WHERE n.u NOT IN (SELECT k FROM core)
  GROUP BY n.u
)
SELECT p.k AS custkey,
       CASE WHEN cc.k IS NOT NULL THEN 'core'
            WHEN b.k IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(cc.cluster_id, b.cluster_id) AS BIGINT) AS cluster_id
FROM pts p
LEFT JOIN comp cc ON cc.k = p.k
LEFT JOIN border b ON b.k = p.k
""",
    tags=("geo", "dedup", "iterative"),
)
def geo_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering (DBSCAN, exact semantics) in the
    integer micro-degree metric over a point set WITH deterministic
    density structure: 30/37 of customers belong to one of max(30, n/150) hashed
    "cities" (city center from the key lattice, per-point jitter
    ±2° from independent multiplicative lanes, clamped to the
    coordinate box), the rest scatter over the full box as background
    noise — the plain key-lattice coordinates the other geo ops use
    are a LOW-DISCREPANCY Weyl sequence with no density clumps at all
    (measured: zero 4°-neighbors at sf0.01), which would make every
    density-based op vacuously all-noise. a point is
    CORE if ≥ 4 points (itself included) sit within
    eps = 4° — SUBCRITICAL for the tested densities, the way a
    production run picks eps at the k-distance knee: a supercritical
    eps merges the corpus into one giant cluster whose label
    propagation costs O(log diameter) rounds for no informational
    value (measured: eps=10° at sf0.01 put 99% of points in ONE
    cluster and ran 51 s; 4° yields real cluster structure in
    seconds); clusters are connected components of the core-core
    eps-graph (labels pinned to the component's minimum key — DBSCAN
    leaves border assignment order-dependent, we make it
    deterministic); non-core points within eps of a core become
    BORDER (joining the minimum-labeled such cluster), everything else
    NOISE. Every customer emits exactly one row. Scale design: eps
    equals the grid cell width, so the 3×3 block probe provably covers
    every eps-neighborhood (the textbook grid rewrite — candidate
    volume is Σ occupancy², density-bound like the LSH buckets); the
    component step reuses `_min_label_components`' pointer-halving
    join-iterate (O(log diameter) rounds, lineage-cut per round) — the
    same machinery as dedup_cluster_components, which is exactly the
    point: spatial dedup IS near-dup dedup in a 2-d metric. All
    distances and degrees are exact int64; no float enters the
    algorithm at all."""
    from odns_dataimporter_spark.queries.llm_dedup import _min_label_components

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    in_city = F.col("c_custkey") % 37 < 30
    # cluster-size governor (the SemDeDup rule applied spatially): the
    # number of cities grows with the corpus so expected city
    # population stays ~120 — within-eps neighbor pairs are quadratic
    # IN CLUSTER SIZE, so a fixed city count would make this op
    # quadratic in the corpus (measured: one sf1 city of ~400 points
    # put a 272-second single task in the neighbor aggregate)
    gov = c.agg(
        F.greatest(
            F.lit(30).cast("long"), (F.count("*") / 150).cast("long")
        ).alias("m"),
        # density-normalized eps (fixed expected degree): the spatial
        # box is fixed, so a constant eps percolates as the corpus
        # grows — eps ~ 1/sqrt(n) keeps E[neighbors within eps]
        # constant, which is what bounds the candidate volume AND the
        # component diameter at any scale
        F.least(
            F.lit(_DB_EPS_U).cast("long"),
            F.greatest(
                F.lit(100_000).cast("long"),
                F.floor(
                    _DB_EPS_U * F.sqrt(1500.0 / F.count("*"))
                ).cast("long"),
            ),
        ).alias("eps"),
    )
    c = c.crossJoin(gov)
    city = F.expr("(c_custkey DIV 37)") % F.col("m") + 1
    clat = F.greatest(
        F.lit(-90_000_000).cast("long"),
        F.least(
            F.lit(90_000_000).cast("long"),
            _lat_u(city) + (k * 1779033703) % 4000001 - 2000000,
        ),
    )
    clon = F.greatest(
        F.lit(-180_000_000).cast("long"),
        F.least(
            F.lit(180_000_000).cast("long"),
            _lon_u(city) + (k * 3144134277) % 4000001 - 2000000,
        ),
    )
    pts = c.select(
        F.col("c_custkey").alias("k"),
        F.when(in_city, clat).otherwise(_lat_u(F.col("c_custkey"))).alias("lat_u"),
        F.when(in_city, clon).otherwise(_lon_u(F.col("c_custkey"))).alias("lon_u"),
        "eps",
    )
    cells = pts.select(
        "k",
        "lat_u",
        "lon_u",
        "eps",
        F.expr(f"(lat_u + {_LAT_OFF}) DIV eps").alias("cl"),
        F.expr(f"(lon_u + {_LON_OFF}) DIV eps").alias("cn"),
    ).localCheckpoint(eager=False)  # probe and build sides share one scan
    offs = spark.createDataFrame(
        [(dl, dn) for dl in (-1, 0, 1) for dn in (-1, 0, 1)], "dl int, dn int"
    )
    probes = cells.crossJoin(F.broadcast(offs)).select(
        "k",
        "lat_u",
        "lon_u",
        "eps",
        (F.col("cl") + F.col("dl")).alias("cl"),
        (F.col("cn") + F.col("dn")).alias("cn"),
    )
    o = cells.select(
        F.col("k").alias("ok"),
        F.col("lat_u").alias("olat"),
        F.col("lon_u").alias("olon"),
        "cl",
        "cn",
    )
    d2 = (F.col("lat_u") - F.col("olat")) * (F.col("lat_u") - F.col("olat")) + (
        F.col("lon_u") - F.col("olon")
    ) * (F.col("lon_u") - F.col("olon"))
    nbr = (
        probes.join(o, ["cl", "cn"])
        .filter(
            (F.col("ok") != F.col("k"))
            & (d2 <= F.col("eps") * F.col("eps"))
        )
        .select(F.col("k").alias("u"), F.col("ok").alias("v"))
        .localCheckpoint(eager=False)  # feeds degree, core edges, border
    )
    deg = nbr.groupBy(F.col("u").alias("k")).agg(
        (F.count("*") + 1).cast("long").alias("n_in_eps")
    )
    core = deg.filter(F.col("n_in_eps") >= _DB_MINPTS).select("k")
    ca = core.select(F.col("k").alias("u"))
    cb = core.select(F.col("k").alias("v"))
    ce = nbr.join(ca, "u").join(cb, "v").select("u", "v")
    # components over core-core edges (nodes = cores that HAVE a core
    # neighbor; isolated cores fall back to their own key below)
    labels, _r = _min_label_components(ce.localCheckpoint(eager=False))
    comp = (
        core.join(labels, core.k == labels.node, "left")
        .select(
            "k", F.coalesce(F.least("k", "lbl"), F.col("k")).alias("cluster_id")
        )
        .localCheckpoint(eager=False)  # feeds border and the final join
    )
    border = (
        nbr.join(comp.select(F.col("k").alias("v"), "cluster_id"), "v")
        .join(core.select(F.col("k").alias("u")), "u", "left_anti")
        .groupBy(F.col("u").alias("k"))
        .agg(F.min("cluster_id").cast("long").alias("b_cluster"))
    )
    return (
        pts.select(F.col("k").alias("custkey"))
        .join(comp.select(F.col("k").alias("custkey"), "cluster_id"), "custkey", "left")
        .join(
            border.select(F.col("k").alias("custkey"), "b_cluster"),
            "custkey",
            "left",
        )
        .select(
            "custkey",
            F.when(F.col("cluster_id").isNotNull(), F.lit("core"))
            .when(F.col("b_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("cluster_id", "b_cluster").cast("long").alias("cluster_id"),
        )
    )
