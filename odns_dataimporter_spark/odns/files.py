"""Archive-file selection (SURVEY §2.1: source_latest_file,
source_partition_path, derive_scan_date).

Driver-side path logic mirroring the reference's behavior
(zipFileUtils.py:7-35, dataimporter.py:109-115): a year/protocol
partitioned archive, newest-mtime file wins, scan date regex-extracted
from the basename (per file here, per row in :func:`file_scan_date`).
Spark never needs the temp-gunzip step — the CSV reader decompresses
``.csv.gz`` natively.
"""

from __future__ import annotations

import datetime as _dt
import glob
import os
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}")


def get_data_path(archive_root: str, protocol: str, year: int | None = None) -> str:
    """Resolve ``<root>/<yyyy>/<proto>/`` (reference dataimporter.py:109-115)."""
    if year is None:
        year = _dt.datetime.now().year
    return os.path.join(archive_root, str(year), protocol)


def most_recent_file_with_prefix(directory: str, prefix: str, extension: str) -> str | None:
    """Newest-mtime file matching ``<prefix>*.<extension>`` (reference
    zipFileUtils.py:7-17); None when nothing matches."""
    candidates = glob.glob(os.path.join(directory, f"{prefix}*.{extension}"))
    if not candidates:
        return None
    return max(candidates, key=os.path.getmtime)


def extract_file_date_from_name(path: str) -> str | None:
    """First ``YYYY-MM-DD`` in the basename (reference zipFileUtils.py:25-35);
    None when the name carries no date."""
    m = _DATE_RE.search(os.path.basename(path))
    return m.group(0) if m else None


def file_scan_date() -> Column:
    """Per-row twin of :func:`extract_file_date_from_name`: the first
    ``YYYY-MM-DD`` in the basename of the row's source file, NULL when
    the name carries no date. For reads that span many scan files."""
    basename = F.element_at(F.split(F.input_file_name(), "/"), -1)
    date = F.regexp_extract(basename, _DATE_RE.pattern, 0)
    return F.when(date != "", date)


def list_archive_files_distributed(spark, archive_root: str):
    """Distributed archive listing via the binaryFile source: exposes
    (path, modificationTime, length) as a DataFrame — the cluster-scale
    analog of the driver-side newest-file pick for archives too large to
    glob on one machine (SURVEY §2.1 source_latest_file note). Content
    is NOT read: with a projection of metadata columns only, Spark skips
    the bytes."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.csv.gz")
        .option("recursiveFileLookup", "true")
        .load(archive_root)
        .select("path", "modificationTime", "length")
    )
