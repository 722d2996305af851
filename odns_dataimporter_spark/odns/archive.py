"""Whole-archive scan (SURVEY §2.1 source_partition_path, scaled up).

The reference only ever reads the single newest file per protocol; the
archive layout ``<root>/<yyyy>/<proto>/*.csv.gz`` supports much more:
one globbed read per protocol covering every year, with ``protocol``
and ``scan_date`` derived from each file's path — turning the file
archive into a queryable partitioned table (time-travel over scans).
Each .gz file is one non-splittable task, so a full-archive read
parallelizes across files — exactly how a 100 TB scan archive would be
consumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from odns_dataimporter_spark.odns.files import file_scan_date
from odns_dataimporter_spark.odns.ingest import scan_csv_gz, typed_projection


def scan_archive(spark: SparkSession, archive_root: str, protocols=("tcp", "udp")) -> DataFrame:
    """Read every scan file of every year for the given protocols, with
    per-file ``protocol``/``scan_date`` derived from the path (the
    file-level analog of Hive partition columns)."""
    parts = [
        typed_projection(
            scan_csv_gz(spark, f"{archive_root}/*/{proto}/*.csv.gz", proto),
            proto,
            file_scan_date(),
        )
        for proto in protocols
    ]
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out
