"""`QuerySpec.doc` is the query function's docstring, stored as written.
A docstring is not an f-string, so a `{_CONST}` in it reaches every
reader of `REGISTRY[n].doc` as literal braces; write the value instead."""

from __future__ import annotations

import re

from odns_dataimporter_spark.registry import REGISTRY, all_queries

all_queries()

PLACEHOLDER = re.compile(r"\{_?[A-Z][A-Z0-9_]*\}")


def test_no_unformatted_placeholder_in_query_docs():
    bad = [
        f"{name}: {', '.join(sorted(set(PLACEHOLDER.findall(spec.doc))))}"
        for name, spec in sorted(REGISTRY.items())
        if PLACEHOLDER.search(spec.doc)
    ]
    assert not bad, "literal placeholders in query docstrings:\n" + "\n".join(bad)
