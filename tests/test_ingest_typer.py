"""Ratchet: odns/ingest.py is the only place the engine spells the
reference's typer (strict-%f timestamps, permissive-double ASNs,
fieldtypers.py:13-31) — ARCHITECTURE.md "odns/".

The archive scan and the streaming ingest call `typed_projection`
instead. The DuckDB oracle in queries/odns.py is the independent
reference and is not scanned for.
"""

from __future__ import annotations

import pathlib
import re

import pytest

import odns_dataimporter_spark
from odns_dataimporter_spark.odns import ingest

PACKAGE = pathlib.Path(odns_dataimporter_spark.__file__).parent

# spellings of the typer that belong in odns/ingest.py only
TYPER = {
    "timestamp typer": re.compile(r"try_to_timestamp\("),
    "timestamp format": re.compile(r"\bTS_FORMAT\b"),
    "strptime format": re.compile(r"%H:%M:%S\.%f"),
    "double typer": re.compile(r"\bAS DOUBLE\b"),
}
DATASOURCE = re.compile(r"^\s*(?:from|import)\s+pyspark\.sql\.datasource\b", re.M)


def _sites(src: str) -> list[tuple[str, int]]:
    """(kind, line number) of every typer spelling in `src`."""
    return [
        (kind, src.count("\n", 0, m.start()) + 1)
        for kind, rx in TYPER.items()
        for m in rx.finditer(src)
    ]


def test_patterns_see_the_typer():
    """The patterns match the definition they guard, so a rename in
    ingest.py cannot leave the ratchet scanning for nothing."""
    seen = {kind for kind, _ in _sites(pathlib.Path(ingest.__file__).read_text())}
    assert {"timestamp typer", "timestamp format", "double typer"} <= seen
    assert _sites("x = 1\ny = F.expr('try_cast(a AS DOUBLE)')\n") == [("double typer", 2)]
    assert _sites('FMT = "%Y-%m-%d %H:%M:%S.%f"\n') == [("strptime format", 1)]
    assert DATASOURCE.search("from pyspark.sql.datasource import DataSource\n")
    assert not DATASOURCE.search("# pyspark.sql.datasource\n")


@pytest.mark.parametrize(
    "path",
    sorted(
        p
        for d in ("odns", "streaming")
        for p in (PACKAGE / d).glob("*.py")
        if p.name != "ingest.py"
    ),
    ids=lambda p: f"{p.parent.name}/{p.name}",
)
def test_no_inline_typer(path):
    src = path.read_text()
    lines = src.splitlines()
    bad = [f"{path.name}:{i}: {kind}: {lines[i - 1].strip()}" for kind, i in _sites(src)]
    assert not bad, "call odns.ingest.typed_projection instead:\n" + "\n".join(bad)


def test_no_python_datasource():
    """The archive is read by the JVM csv source only; the package
    imports no Python DataSource API."""
    bad = [
        str(p.relative_to(PACKAGE))
        for p in sorted(PACKAGE.rglob("*.py"))
        if DATASOURCE.search(p.read_text())
    ]
    assert not bad, bad
