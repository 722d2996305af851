"""Ratchet: the graph substrate in queries/_helpers.py is the only place
the engine spells the co-order parts graph or the event-type
transition stream, and graph_ops.py spells the label-propagation round
once (ARCHITECTURE.md "Graph substrate").

Query modules call `co_order_edges(lineitem)`, `basket_pairs(baskets)`
and `event_transitions(events)` instead; label propagation and
modularity call `graph_ops._lpa_labels`. DuckDB oracle SQL (the
lineitem self-join, `lag(event_type) OVER ...`) is the independent
reference and is not scanned for.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from odns_dataimporter_spark.queries import _helpers, graph_ops

QUERIES = pathlib.Path(_helpers.__file__).parent

# Spark-side spellings that belong in _helpers.py only
FORBIDDEN = {
    "basket pair expansion": re.compile(
        r"""F\.filter\(\s*["']ps["']\s*,\s*lambda\s+(\w+)\s*:\s*\1\s*>\s*F\.col\(\s*["']u["']"""
    ),
    "co-order grouping": re.compile(r"""collect_set\(\s*["']pk["']\s*\)"""),
    "transition lag": re.compile(r"""F\.lag\(\s*["']event_type["']"""),
}

# the min-struct argmax of one label-propagation round
LPA_ARGMAX = re.compile(
    r"""F\.min\(\s*F\.struct\(\s*\(\s*-\s*F\.col\(\s*["']c["']\s*\)\s*\)"""
    r"""\.alias\(\s*["']nc["']\s*\)\s*,\s*F\.col\(\s*["']lbl["']\s*\)"""
)


def _sites(src: str) -> list[tuple[str, int]]:
    """(kind, line number) of every forbidden spelling in `src`."""
    return [
        (kind, src.count("\n", 0, m.start()) + 1)
        for kind, rx in FORBIDDEN.items()
        for m in rx.finditer(src)
    ]


def test_patterns_see_the_helpers():
    """The patterns match the definitions they guard, so a rename in
    _helpers.py or graph_ops.py cannot leave the ratchet scanning for
    nothing."""
    src = pathlib.Path(_helpers.__file__).read_text()
    assert sorted({kind for kind, _ in _sites(src)}) == sorted(FORBIDDEN)
    assert _sites(
        'x = 1\nb.select("u", F.explode(F.filter(\n  "ps", lambda w: w > F.col("u"))))\n'
        "F.lag('event_type', 2)\n"
    ) == [("basket pair expansion", 2), ("transition lag", 4)]
    assert _sites("lag(event_type) OVER (PARTITION BY user_id)") == []
    assert len(LPA_ARGMAX.findall(pathlib.Path(graph_ops.__file__).read_text())) == 1


@pytest.mark.parametrize(
    "path",
    sorted(p for p in QUERIES.glob("*.py") if p.name != "_helpers.py"),
    ids=lambda p: p.name,
)
def test_no_inline_graph_substrate(path):
    src = path.read_text()
    lines = src.splitlines()
    bad = [
        f"{path.name}:{i}: {kind}: {lines[i - 1].strip()}"
        for kind, i in _sites(src)
    ]
    assert not bad, "use queries/_helpers.py instead:\n" + "\n".join(bad)


def test_one_lpa_round_in_graph_ops():
    """Label propagation and modularity share `_lpa_labels`; a second
    copy of the round's argmax in graph_ops.py is a second schedule."""
    src = pathlib.Path(graph_ops.__file__).read_text()
    lines = [src.count("\n", 0, m.start()) + 1 for m in LPA_ARGMAX.finditer(src)]
    assert len(lines) <= 1, f"graph_ops.py spells the LPA argmax at lines {lines}"
