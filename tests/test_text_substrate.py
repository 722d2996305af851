"""Ratchet: the text substrate in queries/_helpers.py is the only place
the engine spells its tokenizer or its k-gram fingerprint
(ARCHITECTURE.md "Text substrate").

Query modules call `tokens()`, `TOKENS_SQL` and `gram_hash_sql(k)`
instead. DuckDB oracle SQL (`string_split`, `list_slice`) is the
independent reference and is not scanned for.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from odns_dataimporter_spark.queries import _helpers

QUERIES = pathlib.Path(_helpers.__file__).parent

# Spark-side spellings that belong in _helpers.py only
FORBIDDEN = {
    "Column tokenizer": re.compile(
        r"""F\.split\(\s*(?:F\.col\(\s*)?["']text["']\s*\)?\s*,\s*["'] ["']"""
    ),
    "SQL tokenizer": re.compile(r"(?<![\w.])split\(\s*text\s*,\s*' '\s*\)"),
    "gram hash": re.compile(r"md5\(\s*concat_ws\(\s*' '\s*,\s*slice\("),
    "_toks definition": re.compile(r"^\s*def _toks\(", re.M),
}


def _sites(src: str) -> list[tuple[str, int]]:
    """(kind, line number) of every forbidden spelling in `src`."""
    return [
        (kind, src.count("\n", 0, m.start()) + 1)
        for kind, rx in FORBIDDEN.items()
        for m in rx.finditer(src)
    ]


def _kinds(src: str) -> list[str]:
    return [kind for kind, _ in _sites(src)]


def test_patterns_see_the_helpers():
    """The patterns match the definitions they guard, so a rename in
    _helpers.py cannot leave the ratchet scanning for nothing."""
    src = pathlib.Path(_helpers.__file__).read_text()
    assert {"Column tokenizer", "SQL tokenizer"} <= set(_kinds(src))
    assert _kinds(_helpers.gram_hash_sql(3)) == ["gram hash"]
    assert _sites("x = 1\ny = F.split(\n  F.col('text'), ' ')\ndef _toks():\n") == [
        ("Column tokenizer", 2),
        ("_toks definition", 4),
    ]
    assert _kinds("string_split(text, ' ') d.split(text, ' ')") == []


@pytest.mark.parametrize(
    "path",
    sorted(p for p in QUERIES.glob("*.py") if p.name != "_helpers.py"),
    ids=lambda p: p.name,
)
def test_no_inline_text_substrate(path):
    src = path.read_text()
    lines = src.splitlines()
    bad = [
        f"{path.name}:{i}: {kind}: {lines[i - 1].strip()}"
        for kind, i in _sites(src)
    ]
    assert not bad, "use queries/_helpers.py instead:\n" + "\n".join(bad)
