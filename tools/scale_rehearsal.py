#!/usr/bin/env python
"""Round-6 scale rehearsal: measure the headline query set at sf0.1 AND
sf1 (10x) in one session and report per-query scaling ratios.

The 100-TB design claims in ARCHITECTURE.md are arguments; this is the
measurement. Data growth is 10x, so a query whose runtime scales ~<=10x
is at-worst-linear; >15x earns a root-cause note (VERDICT r5 item 1).
Ratios use the min-of-N end-to-end (build + plan + execute) time of
warm `registry.run_query` runs (min is the stable estimator under the
+-2x machine-load noise measured in round 5); medians and the
write-only `execute_min` are recorded too.

sf1 data: python tools/gen_sf.py --sf 1 --out .sfdata/sf1  (shape-
faithful to the driver testdata; see the gen_sf docstring).

Output: SCALING.json (raw min/median per query per sf + ratios).
Usage: python tools/scale_rehearsal.py [--runs 3] [--only name,...]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from odns_dataimporter_spark.registry import REGISTRY, QueryRun, all_queries, run_query  # noqa: E402
from odns_dataimporter_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".sfdata", "sf1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--only", default="")
    # round-8 generalization (VERDICT item 2): measure ANY pair of
    # scale tiers, e.g. --base .sfdata/sf1 --target .sfdata/sf10
    # --base-label sf1 --target-label sf10 --out SCALING_SF10.json
    ap.add_argument("--base", default=SF01)
    ap.add_argument("--target", default=SF1)
    ap.add_argument("--base-label", default="sf0.1")
    ap.add_argument("--target-label", default="sf1")
    ap.add_argument("--out", default="SCALING.json")
    a = ap.parse_args()

    # Heap discipline (round 10): do NOT oversize the driver heap.
    # This host services first-touch page faults pathologically slowly
    # (measured ~100x normal cost; PERFORMANCE.md round 10), so a 48g
    # heap that G1 happily expands into costs tens of kernel-bound
    # minutes of page faults + concurrent-GC thrash before any query
    # work shows up. A modest ceiling keeps the JVM collecting instead
    # of expanding; per-op session restarts (below) stop cross-op
    # localCheckpoint blocks from ratcheting the heap up.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    spark = get_spark(app_name="scale_rehearsal", cpus="32")
    all_queries()
    names = [n for n in HEADLINE if n in REGISTRY]
    if a.only:
        # --only accepts ANY registered query (the sf10 rehearsal
        # targets the ANN family, which is not a bench headliner)
        names = [n for n in a.only.split(",") if n in REGISTRY]

    def run_once(name: str, sf_dir: str) -> QueryRun:
        run = run_query(spark, name, sf_dir)
        # run_query keeps no plan handle: collect the dropped py4j
        # handles NOW so ContextCleaner can release this run's
        # lazy-localCheckpoint blocks before the next run allocates its
        # own — at the sf10 tier three runs' worth of retained
        # checkpoint RDDs OOM'd a 16g driver (each run of a
        # checkpoint-heavy graph op pins several GB until Python GC
        # drops the DataFrame reference)
        gc.collect()
        # py4j-only accessor: absent under Spark Connect, and the JVM
        # may ignore the hint — degrade to Python-side gc (the
        # recycle_session path is the reliable heap relief)
        jvm = getattr(spark, "_jvm", None)
        if jvm is not None:
            try:
                jvm.System.gc()
            except Exception:
                pass
        return run

    def recycle_session():
        # per-op context restart: releases every retained block
        # (lazy localCheckpoints pin their RDD blocks for the
        # lifetime of the context, and six runs per op at the sf10
        # tier otherwise ratchet the heap into G1 thrash). The JVM
        # survives (py4j gateway), so JIT state persists; only the
        # block manager and scheduler are rebuilt (~5 s).
        nonlocal spark
        spark.stop()
        spark = get_spark(app_name="scale_rehearsal", cpus="32")

    def measure(name: str, sf_dir: str) -> dict:
        run_once(name, sf_dir)  # warm (plan cache, file listing, JIT)
        runs = [run_once(name, sf_dir) for _ in range(a.runs)]
        ts = sorted(r.e2e_s for r in runs)
        return {
            "min": round(ts[0], 4),
            "median": round(ts[len(ts) // 2], 4),
            # the write-only min that SCALING artifacts before the
            # switch to end-to-end recorded as "min"
            "execute_min": round(min(r.execute_s for r in runs), 4),
        }

    out: dict[str, dict] = {}
    for i, name in enumerate(names):
        # drop py4j handles so ContextCleaner can evict prior queries'
        # lazy localCheckpoint blocks — at sf1 forty queries' worth of
        # retained checkpoint RDDs otherwise exhaust the driver heap

        gc.collect()
        r01 = measure(name, a.base)
        # fresh block manager between tiers: the base tier's surviving
        # checkpoint blocks must not shrink the target tier's headroom
        recycle_session()
        r1 = measure(name, a.target)
        ratio = round(r1["min"] / r01["min"], 2) if r01["min"] > 0 else None
        out[name] = {a.base_label: r01, a.target_label: r1, "ratio": ratio}
        print(
            f"[{i + 1}/{len(names)}] {name}: {a.base_label} {r01['min']}s -> "
            f"{a.target_label} {r1['min']}s ({ratio}x)",
            flush=True,
        )
        if i + 1 < len(names):
            recycle_session()

    # --only reruns merge into the existing file instead of clobbering
    # the full table
    path = os.path.join(REPO, a.out)
    merged = out
    if a.only and os.path.exists(path):
        with open(path) as f:
            merged = {**json.load(f).get("queries", {}), **out}
    payload = {
        "data_growth": 10.0,
        "base": a.base_label,
        "target": a.target_label,
        "runs_per_point": a.runs,
        "queries": merged,
        "worst": sorted(
            ((n, v["ratio"]) for n, v in merged.items() if v["ratio"]),
            key=lambda t: -t[1],
        )[:10],
    }
    with open(path, "w") as f:
        json.dump(payload, f, indent=1)
    print(f"WROTE {a.out}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
