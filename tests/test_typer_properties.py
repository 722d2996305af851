"""Property tests (SURVEY §5.2 item 2): the typed projection must be
total — ANY input string parses or becomes NULL, never throws — matching
the reference's bare-except typers (fieldtypers.py:13-23), and the
strict/permissive semantics must agree with Python's own strptime/float.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from odns_dataimporter_spark.odns.ingest import typed_projection

_TS_STRATEGY = st.one_of(
    st.text(max_size=30),
    st.from_regex(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d{1,6})?", fullmatch=True),
)
_TS_COLUMNS = ("timestamp_request", "timestamp_response")
_ASN_COLUMNS = ("asn_request", "asn_response", "asn_arecord")

_ASN_STRATEGY = st.one_of(
    st.text(max_size=15),
    st.floats(allow_nan=False, allow_infinity=False).map(str),
    st.integers().map(str),
)


def _python_ts(val: str) -> dt.datetime | None:
    try:
        return dt.datetime.strptime(val, "%Y-%m-%d %H:%M:%S.%f")
    except Exception:
        return None


def _python_float(val: str) -> float | None:
    try:
        return float(val)
    except Exception:
        return None


@settings(
    max_examples=30, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck)
)
@given(ts=_TS_STRATEGY, asn=_ASN_STRATEGY)
def test_typers_total_and_python_equivalent(spark, ts, asn):
    from odns_dataimporter_spark.odns.schema import raw_csv_schema

    schema = raw_csv_schema("tcp")
    row = {f.name: None for f in schema.fields}
    for name in _TS_COLUMNS:
        row[name] = ts
    for name in _ASN_COLUMNS:
        row[name] = asn
    df = spark.createDataFrame([row], schema=schema)
    out = typed_projection(df, "tcp", "2026-01-01").collect()[0]

    for name in _TS_COLUMNS:
        assert out[name] == _python_ts(ts), name

    want_asn = _python_float(asn)
    for name in _ASN_COLUMNS:
        if want_asn is None:
            assert out[name] is None, name
        elif want_asn != want_asn:  # NaN
            assert out[name] != out[name], name
        else:
            assert out[name] == want_asn, name


def test_typed_rows_round_trip_through_reference_text(spark, tmp_path):
    """Typed rows written back as scan-CSV text in the reference's formats
    (``%f`` timestamps, ``str(float)`` ASNs, '' for NULL) re-type to the
    same rows: the typer loses nothing it accepted."""
    import csv
    import gzip
    import os

    from odns_dataimporter_spark.odns.ingest import ingest_file
    from odns_dataimporter_spark.odns.schema import TCP_COLUMNS

    src = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "fixtures", "odns", "2026", "tcp", "tcp_dns_scan_2026-01-15.csv.gz",
    )
    typed = ingest_file(spark, src, "tcp", "2026-01-15").collect()
    names = [n for n, _ in TCP_COLUMNS]

    def cell(v) -> str:
        if v is None:
            return ""
        return v.strftime("%Y-%m-%d %H:%M:%S.%f") if isinstance(v, dt.datetime) else str(v)

    out = str(tmp_path / "tcp_dns_scan_2026-01-15.csv.gz")
    with gzip.open(out, "wt", encoding="utf-8", newline="") as fh:
        w = csv.writer(fh, delimiter=";")
        w.writerow(names)
        w.writerows([cell(r[n]) for n in names] for r in typed)
    back = ingest_file(spark, out, "tcp", "2026-01-15").collect()
    assert sorted(back, key=str) == sorted(typed, key=str)
