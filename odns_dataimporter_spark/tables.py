"""Loaders for the synthetic testdata tables (TESTDATA.md / FIXTURES.md §B).

All tables are plain parquet scans — Catalyst pushes filters and prunes
columns at the scan (verify with ``df.explain``: ``PushedFilters`` /
``ReadSchema``). Timestamp normalization: the testdata parquet stores
naive ``timestamp[us]`` (no UTC adjustment), which Spark 4 infers as
``TIMESTAMP_NTZ`` while DuckDB reads it as its (naive) ``TIMESTAMP``.
NTZ breaks instant-based functions (``unix_micros``, ``to_utc_timestamp``)
and its comparison/arithmetic semantics differ subtly from LTZ, so we
pin the session timezone to UTC and cast every NTZ column to
``TIMESTAMP`` (LTZ) at load: under UTC the wall-clock digits are
preserved bit-for-bit, every downstream op works, and rendered values
match the DuckDB oracle exactly. Older generations of the testdata used
INT64(TIMESTAMP_NANOS); the ``nanosAsLong`` + ``DIV 1000`` fallback for
that layout is kept (exact integer truncation, matching DuckDB's ns→µs).

Schema inference is a Spark job (a parquet footer read), so each table's
inferred schema is cached and later loads read with it, starting no job.
The cache key is every file under the table path with its size and
mtime, plus the session confs that change what inference returns; a
rewritten table or a changed conf therefore infers afresh.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame."""
    # timestamp rendering (date_format / cast-to-date) is session-tz
    # dependent; pin UTC so results match the (naive-timestamp) DuckDB
    # oracle even under a host with a non-UTC default. The conf is
    # runtime-settable, so set it unconditionally and verify: silently
    # proceeding with a non-UTC zone would skew every NTZ->LTZ cast.
    if spark.conf.get("spark.sql.session.timeZone") not in ("UTC", "Etc/UTC"):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        got = spark.conf.get("spark.sql.session.timeZone")
        if got not in ("UTC", "Etc/UTC"):
            raise RuntimeError(
                f"session timezone must be UTC for NTZ normalization, got {got!r}"
            )
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        try:  # runtime conf; harmless if already set by the session factory
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = _read_parquet(spark, path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return _ntz_to_utc_ltz(df)


# session confs that change the schema parquet inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# path -> (key, schema). One entry per table path, replaced when its key
# changes, so it holds at most one schema per path ever loaded. A schema
# is a pure function of its key, so sharing it across sessions is safe.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    path's files or the inference confs changed since the last read."""
    files = _file_stats(path)
    if not files:  # not a local path: nothing to key an entry on
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def _file_stats(path: str) -> tuple[tuple[str, int, int], ...]:
    """(path, size, mtime_ns) of every file at or under a local path."""
    if os.path.isfile(path):
        paths = [path]
    else:
        paths = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    stats = []
    for p in sorted(paths):
        st = os.stat(p)
        stats.append((p, st.st_size, st.st_mtime_ns))
    return tuple(stats)


def _ntz_to_utc_ltz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (session tz is UTC)."""
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL API path)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
