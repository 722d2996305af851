"""End-to-end ODNS ingest run (SURVEY §3.1, entry point 1).

Per protocol: resolve the year/protocol archive dir, pick the newest
scan file by mtime, derive scan_date from its name, run the typed
ingest plan, snapshot-replace that protocol's partition in the sink.
The reference's temp-gunzip/delete steps vanish (native .gz read), and
the processed-file move (zipFileUtils.py:60-69, dead code there) is an
optional post-action here.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass

from pyspark.sql import SparkSession

from odns_dataimporter_spark.odns.files import (
    extract_file_date_from_name,
    get_data_path,
    most_recent_file_with_prefix,
)
from odns_dataimporter_spark.odns.ingest import ingest_file
from odns_dataimporter_spark.odns.sinks import write_snapshot_partitioned

PROTOCOLS = ("tcp", "udp")


@dataclass
class IngestResult:
    protocol: str
    source_file: str | None
    scan_date: str | None
    rows: int


def run_ingest(
    spark: SparkSession,
    archive_root: str,
    sink_path: str,
    year: int | None = None,
    protocols: tuple[str, ...] = PROTOCOLS,
    repartition: int | None = None,
    move_processed_to: str | None = None,
    stage_dir: str | None = None,
) -> list[IngestResult]:
    """The reference's main() loop (dataimporter.py:252-296), Spark-first.

    Row counts come from ``Observation`` metrics collected DURING the
    sink write (the Spark analog of the reference's running bulkCount,
    dataimporter.py:141,158) — no second scan of the sink."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    results: list[IngestResult] = []
    for proto in protocols:
        directory = get_data_path(archive_root, proto, year)
        path = most_recent_file_with_prefix(directory, proto, "csv.gz")
        if path is None:
            results.append(IngestResult(proto, None, None, 0))
            continue
        scan_date = extract_file_date_from_name(path)
        df = ingest_file(
            spark, path, proto, scan_date, repartition=repartition, stage_dir=stage_dir
        )
        obs = Observation(f"ingest_{proto}")
        write_snapshot_partitioned(df.observe(obs, F.count(F.lit(1)).alias("rows")), sink_path)
        rows = int(obs.get["rows"])
        if rows == 0:
            # dynamic overwrite replaces only partitions that got rows; the
            # reference deletes the protocol's rows before it inserts
            # (dataimporter.py:187-200), so an empty scan empties the snapshot
            df.drop("protocol").write.mode("overwrite").parquet(f"{sink_path}/protocol={proto}")
        results.append(IngestResult(proto, path, scan_date, rows))
        if move_processed_to is not None:
            shutil.move(path, move_processed_to)
    return results
