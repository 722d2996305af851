#!/usr/bin/env python
"""Dump `explain("formatted")` physical plans of registry queries.

Without --out, the plans of the named queries (default: every bench
headline query) go into PLANS.md of --repo, the human-readable companion
to tests/test_plans.py: a reviewer can audit pushdown, pruning,
broadcast and exchange shapes without running Spark.

With --out, each named query gets its own file ``<out>/<name><suffix>.txt``,
for committing a change's before/after plans. ``--repo`` is the source
tree to import (a checkout of the parent commit for "before"), so the
same script captures both sides without code drift.

Usage:
    python tools/dump_plans.py [--sf-dir DIR] [name ...]
    python tools/dump_plans.py --repo CHECKOUT --out plans/r10 \\
        --suffix _after --sf-dir DIR name1 name2 ...
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--repo", default=REPO)
    p.add_argument("--out")
    p.add_argument("--suffix", default="")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("names", nargs="*")
    a = p.parse_args()

    sys.path.insert(0, a.repo)
    import bench  # headline list
    from odns_dataimporter_spark.registry import REGISTRY, all_queries
    from odns_dataimporter_spark.session import get_spark

    all_queries()
    names = a.names or [n for n in bench.HEADLINE if n in REGISTRY]
    spark = get_spark(app_name="dump_plans")
    plans = {}
    for name in names:
        if name not in REGISTRY:
            print(f"SKIP {name}: not in registry of {a.repo}")
            continue
        spark.sparkContext.setJobDescription(f"dump_plans {name}")
        plans[name] = formatted_plan(REGISTRY[name].fn(spark, a.sf_dir))
    spark.stop()

    if a.out:
        os.makedirs(a.out, exist_ok=True)
        for name, plan in plans.items():
            path = os.path.join(a.out, f"{name}{a.suffix}.txt")
            with open(path, "w") as f:
                f.write(f"# {name} — explain('formatted') @ {a.sf_dir}, repo={a.repo}\n")
                f.write(plan + "\n")
            print(f"wrote {path}")
        return 0
    with open(os.path.join(a.repo, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — formatted physical plans for the bench headline queries\n\n"
            f"Generated by `tools/dump_plans.py` at `{a.sf_dir}`. The shapes\n"
            "asserted in tests/test_plans.py (pushed filters, pruned schemas,\n"
            "broadcast dims, partial aggregates, exchange counts) are visible\n"
            "here verbatim; regenerate after plan-affecting changes.\n"
        )
        for name, plan in plans.items():
            f.write(f"\n## {name}\n\n```\n{plan.rstrip()}\n```\n")
    print(f"wrote PLANS.md ({len(plans)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
