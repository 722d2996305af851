"""Golden-fixture tests for the ODNS reference-parity surface
(FIXTURES.md §A.3 edge cases; SURVEY §2.1-§2.2 REF rows)."""

from __future__ import annotations

import datetime as dt
import gzip
import os
import shutil
import time
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from odns_dataimporter_spark.odns.archive import scan_archive
from odns_dataimporter_spark.odns.files import (
    extract_file_date_from_name,
    get_data_path,
    most_recent_file_with_prefix,
)
from odns_dataimporter_spark.odns.ingest import ingest_file
from odns_dataimporter_spark.odns.pipeline import run_ingest
from odns_dataimporter_spark.odns.sinks import delete_by_protocol_sql, write_snapshot_partitioned

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "odns")
TCP_FILE = os.path.join(FIXTURES, "2026", "tcp", "tcp_dns_scan_2026-01-15.csv.gz")
UDP_FILE = os.path.join(FIXTURES, "2026", "udp", "udp_dns_scan_2026-01-16.csv.gz")


def _archive(root, *files: tuple[str, bytes]) -> str:
    """Lay out ``<root>/2026/<proto>/<name>`` for (name, content) pairs,
    each later file with a newer mtime, so run_ingest picks the last one."""
    now = time.time()
    for i, (name, content) in enumerate(files):
        path = os.path.join(str(root), "2026", name.split("_", 1)[0], name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(content)
        os.utime(path, (now - 1000 + i, now - 1000 + i))
    return str(root)


def _sink_rows(spark, sink: str) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = {}
    for r in spark.read.parquet(sink).collect():
        out.setdefault(r.protocol, []).append(tuple(str(v) for v in r))
    return {k: sorted(v) for k, v in out.items()}


def test_path_resolution():
    assert get_data_path("/data", "tcp", 2026) == "/data/2026/tcp"


def test_extract_file_date():
    assert extract_file_date_from_name("/x/tcp_dns_scan_2026-01-15.csv.gz") == "2026-01-15"
    assert extract_file_date_from_name("/x/tcp_dns_scan_undated.csv.gz") is None


def test_most_recent_by_mtime(tmp_path):
    # FIXTURES.md §A.3 case 8: older mtime must lose, regardless of name
    new = tmp_path / "tcp_b_2026-01-02.csv.gz"
    old = tmp_path / "tcp_a_2026-01-01.csv.gz"
    for p in (old, new):
        shutil.copy(TCP_FILE, p)
    now = time.time()
    os.utime(old, (now - 1000, now - 1000))
    os.utime(new, (now, now))
    assert most_recent_file_with_prefix(str(tmp_path), "tcp", "csv.gz") == str(new)
    assert most_recent_file_with_prefix(str(tmp_path), "udp", "csv.gz") is None


def test_tcp_typing_golden(spark):
    rows = {
        r.ip_request: r
        for r in ingest_file(spark, TCP_FILE, "tcp", "2026-01-15").collect()
    }
    full = rows["203.0.113.7"]
    assert full.timestamp_request == dt.datetime(2026, 1, 15, 1, 2, 3, 456789)
    assert full.asn_request == 3320.0 and full.protocol == "tcp"
    assert full.scan_date == "2026-01-15"

    # strict %f: no fraction -> NULL; 1-digit fraction parses (Python %f ditto)
    nofrac = rows["203.0.113.8"]
    assert nofrac.timestamp_request is None
    assert nofrac.timestamp_response == dt.datetime(2026, 1, 15, 1, 2, 4, 100000)

    garbage = rows["203.0.113.9"]
    assert garbage.timestamp_request is None
    assert garbage.asn_request is None  # 'AS3320' -> NULL (permissive float)
    assert garbage.asn_response == 15169.5

    # empty strings -> NULL everywhere
    empties = rows[None] if None in rows else None
    assert empties is not None
    assert empties.ip_request is None and empties.response_type is None

    # short row: missing trailing fields -> NULL
    short = rows["203.0.113.11"]
    assert short.timestamp_request == dt.datetime(2026, 1, 15, 3, 0, 0, 123456)
    assert short.response_type is None and short.org_arecord is None


def test_udp_missing_timestamp_response(spark):
    rows = ingest_file(spark, UDP_FILE, "udp", "2026-01-16").collect()
    assert all(r.timestamp_response is None for r in rows)
    assert {r.protocol for r in rows} == {"udp"}
    assert len(rows[0].__fields__) == 20


def test_snapshot_replace_per_protocol(spark, tmp_path):
    """Dynamic partition overwrite == the reference's delete-then-insert
    per protocol, but atomic: re-ingesting tcp must not touch udp."""
    sink = str(tmp_path / "sink")
    tcp = ingest_file(spark, TCP_FILE, "tcp", "2026-01-15")
    udp = ingest_file(spark, UDP_FILE, "udp", "2026-01-16")
    write_snapshot_partitioned(tcp, sink)
    write_snapshot_partitioned(udp, sink)
    before = spark.read.parquet(sink).groupBy("protocol").count().collect()
    counts = {r.protocol: r["count"] for r in before}
    assert counts == {"tcp": 5, "udp": 2}

    # replace tcp snapshot with a 1-row subset; udp must survive
    write_snapshot_partitioned(tcp.limit(1), sink)
    after = {r.protocol: r["count"] for r in spark.read.parquet(sink).groupBy("protocol").count().collect()}
    assert after == {"tcp": 1, "udp": 2}


def test_full_pipeline_run(spark, tmp_path):
    sink = str(tmp_path / "sink")
    results = run_ingest(spark, FIXTURES, sink, year=2026)
    by_proto = {r.protocol: r for r in results}
    assert by_proto["tcp"].rows == 5 and by_proto["tcp"].scan_date == "2026-01-15"
    assert by_proto["udp"].rows == 2 and by_proto["udp"].scan_date == "2026-01-16"
    assert os.path.basename(by_proto["tcp"].source_file) == "tcp_dns_scan_2026-01-15.csv.gz"


def test_delete_sql_composition():
    sql, params = delete_by_protocol_sql('odns"entries', "tcp")
    assert sql == 'DELETE FROM "odns""entries" WHERE "protocol" = %s'
    assert params == ("tcp",)


def test_distributed_archive_listing(spark):
    from odns_dataimporter_spark.odns.files import list_archive_files_distributed

    df = list_archive_files_distributed(spark, FIXTURES)
    rows = {os.path.basename(r.path): r.length for r in df.collect()}
    assert set(rows) == {
        "tcp_dns_scan_2026-01-15.csv.gz",
        "udp_dns_scan_2026-01-16.csv.gz",
        "tcp_dns_scan_undated.csv.gz",
    }
    for name, length in rows.items():
        disk = os.path.getsize(
            next(
                os.path.join(dp, name)
                for dp, _, fs in os.walk(FIXTURES)
                if name in fs
            )
        )
        assert length == disk


def test_stage_decompress_equals_native_gz_read(spark, tmp_path):
    """The staged (splittable) ingest path must produce exactly the rows
    of the native .gz read — staging changes the physical scan, never
    the data."""
    from odns_dataimporter_spark.odns.ingest import ingest_file

    native = ingest_file(spark, TCP_FILE, "tcp", "2026-01-15")
    staged = ingest_file(
        spark, TCP_FILE, "tcp", "2026-01-15", stage_dir=str(tmp_path / "stage")
    )
    assert staged.columns == native.columns
    from collections import Counter

    assert Counter(map(tuple, staged.collect())) == Counter(map(tuple, native.collect()))
    # idempotent: a second call reuses the cached staged file
    staged2 = ingest_file(
        spark, TCP_FILE, "tcp", "2026-01-15", stage_dir=str(tmp_path / "stage")
    )
    assert staged2.count() == native.count()


def test_archive_scan_equals_batch_ingest(spark):
    """The whole-archive scan types every row exactly as the per-file
    batch ingest does, with scan_date taken from each file's name."""
    got = scan_archive(spark, FIXTURES)
    want = ingest_file(spark, TCP_FILE, "tcp", "2026-01-15").unionByName(
        ingest_file(spark, UDP_FILE, "udp", "2026-01-16")
    )
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, want.collect()), key=str
    )


def test_undated_file_name_gives_null_scan_date(spark, tmp_path):
    """A scan file whose name has no date gets a NULL scan_date, as
    extract_file_date_from_name gives None, from both the archive scan and
    the streaming ingest. The date in the directory name is not the file's."""
    from odns_dataimporter_spark.streaming.jobs import stream_odns_archive_ingest

    name = "tcp_dns_scan_latest.csv.gz"
    assert extract_file_date_from_name(name) is None
    root = _archive(tmp_path / "copy_2026-03-01", (name, Path(TCP_FILE).read_bytes()))

    archived = scan_archive(spark, root, protocols=("tcp",))
    assert [r.scan_date for r in archived.collect()] == [None] * 5

    streamed = stream_odns_archive_ingest(
        spark, os.path.join(root, "2026", "tcp"), "tcp", str(tmp_path / "snapshot")
    )
    assert [r.scan_date for r in streamed.collect()] == [None] * 5


def test_stream_ingest_resumes_on_the_same_out_dir(spark, tmp_path):
    """A later call on the same out_dir lands the scan file that arrived
    since the last call, and a call with no new file lands nothing. The
    sink's batch log lives in out_dir, so the checkpoint must too: with a
    fresh checkpoint per call the sink skipped the second call's batch."""
    from odns_dataimporter_spark.streaming.jobs import stream_odns_archive_ingest

    data = Path(TCP_FILE).read_bytes()
    root = _archive(tmp_path / "archive", ("tcp_dns_scan_2026-01-15.csv.gz", data))
    watch, out = os.path.join(root, "2026", "tcp"), str(tmp_path / "snapshot")

    def scan_dates() -> list[str]:
        rows = stream_odns_archive_ingest(spark, watch, "tcp", out).collect()
        return sorted(r.scan_date for r in rows)

    assert scan_dates() == ["2026-01-15"] * 5
    _archive(root, ("tcp_dns_scan_2026-02-01.csv.gz", data))
    assert scan_dates() == ["2026-01-15"] * 5 + ["2026-02-01"] * 5
    assert len(scan_dates()) == 10


def test_header_only_scan_empties_protocol_snapshot(spark, tmp_path):
    """A newest scan file with a header and no rows leaves the protocol
    with 0 rows, as the reference's delete-then-insert does; the other
    protocol's snapshot is untouched."""
    sink = str(tmp_path / "sink")
    root = _archive(
        tmp_path / "archive",
        ("tcp_dns_scan_2026-01-15.csv.gz", Path(TCP_FILE).read_bytes()),
        ("udp_dns_scan_2026-01-16.csv.gz", Path(UDP_FILE).read_bytes()),
    )
    run_ingest(spark, root, sink, year=2026)
    before = _sink_rows(spark, sink)
    assert {k: len(v) for k, v in before.items()} == {"tcp": 5, "udp": 2}

    header = gzip.decompress(Path(TCP_FILE).read_bytes()).split(b"\n", 1)[0] + b"\n"
    _archive(root, ("tcp_dns_scan_2026-02-01.csv.gz", gzip.compress(header)))
    (res,) = run_ingest(spark, root, sink, year=2026, protocols=("tcp",))
    assert (res.rows, res.scan_date) == (0, "2026-02-01")

    after = _sink_rows(spark, sink)
    assert "tcp" not in after
    assert after["udp"] == before["udp"]


@pytest.mark.parametrize("staged", [False, True], ids=["native_gz", "stage_dir"])
def test_truncated_gz_keeps_prior_snapshot(spark, tmp_path, staged):
    """Fault matrix, truncated .gz: the ingest fails as a whole and the
    prior tcp snapshot stays in place; staging leaves no partial file."""
    sink = str(tmp_path / "sink")
    stage_dir = str(tmp_path / "stage") if staged else None
    tcp = Path(TCP_FILE).read_bytes()
    root = _archive(tmp_path / "archive", ("tcp_dns_scan_2026-01-15.csv.gz", tcp))
    run_ingest(spark, root, sink, year=2026, protocols=("tcp",), stage_dir=stage_dir)
    before = _sink_rows(spark, sink)
    assert len(before["tcp"]) == 5

    _archive(root, ("tcp_dns_scan_2026-02-01.csv.gz", tcp[: len(tcp) // 2]))
    with pytest.raises(EOFError if staged else Py4JJavaError):
        run_ingest(spark, root, sink, year=2026, protocols=("tcp",), stage_dir=stage_dir)

    assert _sink_rows(spark, sink) == before
    if staged:
        assert sorted(os.listdir(stage_dir)) == ["tcp_dns_scan_2026-01-15.csv"]
