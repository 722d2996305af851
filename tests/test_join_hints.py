"""Ratchet: no `F.broadcast` hint on a join side the planner already
sizes as tiny (ARCHITECTURE.md plan-reuse item 8, "Join hints").

Spark broadcasts any join side whose static size estimate is under
`spark.sql.autoBroadcastJoinThreshold`. A side whose optimized plan has
a bounded `maxRows` (a global aggregate, a `limit`, a `range`) is sized
that way at every scale, so a hint on it repeats the planner's choice.
It does more only when the other side is small too: then the hint also
fixes which side the planner, or AQE at run time, builds. The build
test wraps `F.broadcast` while every registered query is built and
fails any hinted side with a defined `maxRows` whose `file:line` is not
in ALLOWLIST, which names what changes without the hint. The count test
pins the package-wide number of `F.broadcast(` calls, so a new hint is
a reviewed change.
"""

from __future__ import annotations

import pathlib
import re
import sys

from pyspark.sql import functions as F

import odns_dataimporter_spark
from odns_dataimporter_spark.registry import REGISTRY, all_queries

all_queries()

PACKAGE = pathlib.Path(odns_dataimporter_spark.__file__).parent

# `F.broadcast(` calls under the package. Lower it when a hint goes; a
# new hint needs a side the planner cannot size (ARCHITECTURE.md).
BROADCAST_CALLS = 128

_CROSS_PLAN = (
    "1-row side, but without the hint the planner builds the other side of "
    "the cross join, so the plan changes at sf0.001 and sf0.1"
)

# file:line (relative to the package) -> why a bounded side keeps its hint
ALLOWLIST: dict[str, str] = {
    "queries/aggregates.py:603": (
        "agg_histogram_equidepth: 1-row side, but without the hint AQE broadcasts "
        "the orders scan once it fits under the threshold at run time (sf0.001, "
        "sf0.1), which changes the final plan and the job count"
    ),
    "queries/graph_ops.py:974": (
        "graph_modularity: 1-row side, but without the hint AQE broadcasts ncom "
        "at sf0.1, so m's broadcast is no longer reused and the run takes one "
        "more job"
    ),
    "queries/growth_ops.py:1997": f"events_bass_diffusion: {_CROSS_PLAN}",
    "queries/growth_ops.py:2019": f"events_bass_diffusion: {_CROSS_PLAN}",
    "queries/growth_ops.py:2030": f"events_bass_diffusion: {_CROSS_PLAN}",
    "queries/joins.py:836": (
        "join_bloom_prefilter: 1-row side, but without the hint AQE broadcasts "
        "the lineitem scan at sf0.001, which changes the final plan and the "
        "job count"
    ),
    "queries/stats_ops.py:1050": f"stats_bootstrap_ci: {_CROSS_PLAN}",
    "queries/stats_ops.py:1051": f"stats_bootstrap_ci: {_CROSS_PLAN}",
}


def test_no_hint_on_a_bounded_side(spark, sf_dir, monkeypatch):
    hint = F.broadcast
    bounded: dict[tuple[str, int], set[str]] = {}
    current = [""]

    def recording_broadcast(df):
        caller = sys._getframe(1)
        path = pathlib.Path(caller.f_code.co_filename)
        if path.is_relative_to(PACKAGE):
            site = (str(path.relative_to(PACKAGE)), caller.f_lineno)
            if df._jdf.queryExecution().optimizedPlan().maxRows().isDefined():
                bounded.setdefault(site, set()).add(current[0])
        return hint(df)

    monkeypatch.setattr(F, "broadcast", recording_broadcast)
    failed: list[str] = []
    for name in sorted(REGISTRY):
        current[0] = name
        try:
            REGISTRY[name].fn(spark, sf_dir)
        except Exception as ex:  # noqa: BLE001 — an unbuilt query hides its hints
            failed.append(f"{name}: build failed: {str(ex)[:120]}")

    sites = {f"{path}:{line}": qs for (path, line), qs in sorted(bounded.items())}
    bad = [
        f"{site} ({', '.join(sorted(qs))})"
        for site, qs in sites.items()
        if site not in ALLOWLIST
    ]
    stale = sorted(set(ALLOWLIST) - set(sites))
    assert not failed, "\n".join(failed)
    assert not bad, (
        "F.broadcast on a side with a bounded maxRows; the planner already "
        "broadcasts it, drop the hint:\n" + "\n".join(bad)
    )
    assert not stale, "ALLOWLIST sites no longer hint a bounded side:\n" + "\n".join(stale)


def test_broadcast_hint_count_is_pinned():
    n = sum(
        len(re.findall(r"F\.broadcast\(", p.read_text()))
        for p in PACKAGE.rglob("*.py")
    )
    assert n == BROADCAST_CALLS, (
        f"{n} F.broadcast( calls under the package, pinned at {BROADCAST_CALLS}: "
        "hint only a side the planner cannot size (ARCHITECTURE.md "
        "plan-reuse item 8), and move the pin with the change"
    )
