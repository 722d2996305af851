"""Per-query budget gates at sf0.001 / sf0.01 (VERDICT r3 item 7,
steal-immunity redesign r10 — VERDICT r9 item 2).

The driver samples ~50 of the registered queries per round at sf0.01;
one accidentally-expensive registration (a lost broadcast hint, an
unintended cartesian, a driver-side loop) could blow the whole
CORRECTNESS run. These gates time every registered query end-to-end
(plan build + noop-sink execution) and fail any single query over
budget.

Why not plain wall-clock: this host has documented bursty CPU steal
(PERFORMANCE.md round-9 item 8 — 3x swings between windows). Round 9's
only pytest failures were these gates tripping under suite-length
load, with all four passing in 66 s when re-run isolated. A fixed
wall-clock budget conflates "the query is structurally slow" with "the
host was busy".

r10 design — wall-clock fast path, two steal-free fallbacks on trip:

1. FAST PATH (common case, zero overhead): one wall-clock run under
   budget passes. On a quiet host this is the whole gate, exactly as
   strict as the r3-r9 versions.
2. On trip, the query re-runs once and passes if EITHER
   a. re-run wall <= budget x host-slowdown, where host-slowdown is a
      CO-MEASURED SENTINEL (Arrow applyInPandas + JVM agg — the mix of
      the heaviest registered queries) vs the session's best sentinel
      sample: steal inflates sentinel and query together, a structural
      regression inflates only the query; or
   b. the re-run's EXECUTOR CPU TIME (AppStatusStore stage metrics —
      on-CPU nanoseconds, which external spinners cannot inflate)
      fits the budget at full parallelism: cpu/cores <= budget. A
      query that needs more than budget x cores CPU seconds cannot
      meet the budget on ANY host, loaded or not.

   (b) undercounts Python-worker CPU (the JVM task thread blocks,
   unbilled, while pandas works), so (a) is the primary check for the
   UDF-heavy family and (b) the decisive one for JVM-side plans.
   Because (b) would also exonerate a DRIVER-SIDE loop (no executor
   CPU at all), it only applies when /proc/stat shows the host was
   demonstrably busy with EXTERNAL work during the re-run (external
   non-idle fraction > 0.35 after subtracting our own driver+executor
   CPU) or the sentinel itself reports >1.5x slowdown. On a quiet
   host, therefore, the gate is exactly as strict as the r3-r9
   wall-clock versions for all three structural failure classes:
   fast path fails, (a) fails at scale ~1, and (b) is switched off.
"""

from __future__ import annotations

import time

import pytest

from odns_dataimporter_spark.registry import REGISTRY, all_queries, run_query

all_queries()

_BUDGET_SEC = 10.0  # sf0.001: ~20x observed p99 (<0.5 s)
_BUDGET01_SEC = 20.0  # sf0.01: ~15x observed p99 (~1.3 s)
_CORES = 8  # conftest get_spark(cpus=8)

# Every sentinel measurement this session; min() is the intrinsic-cost
# estimator (same philosophy as bench.py's best-of-N).
_SENTINEL_TIMES: list[float] = []


def _measure_sentinel(spark) -> float:
    """Fixed reference workload, registry-independent: one Arrow
    applyInPandas stage (python-worker + Arrow transfer, the profile of
    the minhash/simhash family that tripped in r9) feeding a JVM
    aggregate. ~0.2-0.4 s intrinsic on this host."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    def work(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf["id"].to_numpy(dtype=np.int64)
        m = np.outer(a[:256] % 97, a[:256] % 89)
        return pd.DataFrame({"s": [int(m.sum()) + int(a.sum())]})

    t0 = time.perf_counter()
    (
        spark.range(0, 400_000, 1, 8)
        .withColumn("g", F.col("id") % 8)
        .groupBy("g")
        .applyInPandas(work, "s long")
        .agg(F.sum("s").alias("t"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    dt = time.perf_counter() - t0
    _SENTINEL_TIMES.append(dt)
    return dt


def _total_stage_cpu_ns(spark) -> int:
    """Sum of executorCpuTime over every stage the AppStatusStore
    retains. Used as a before/after DIFF around one query run; stage
    eviction (spark.ui.retainedStages) can only remove OLD small
    stages from both snapshots, so the diff of a structurally-slow
    run stays large."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stages = store.stageList(
        jvm.java.util.ArrayList(),  # all statuses
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    return sum(stages.apply(i).executorCpuTime() for i in range(stages.size()))


def _settled_stage_cpu_ns(spark) -> int:
    """The status store is fed by an async listener bus: poll until two
    consecutive reads agree (or 3 s) so the diff doesn't race the last
    stage's metrics."""
    prev = _total_stage_cpu_ns(spark)
    deadline = time.perf_counter() + 3.0
    while time.perf_counter() < deadline:
        time.sleep(0.1)
        cur = _total_stage_cpu_ns(spark)
        if cur == prev:
            return cur
        prev = cur
    return prev


@pytest.fixture(scope="session")
def sentinel_baseline(spark) -> float:
    """Warm the sentinel and record session-start samples. The running
    min over ALL samples (start + every trip re-measure) is the
    intrinsic estimate; if the whole session runs under load the min is
    inflated and the scale factor conservatively approaches 1 — the
    sentinel path never gets LOOSER than wall-clock on a quiet host."""
    _measure_sentinel(spark)  # warmup: python worker + noop sink init
    _measure_sentinel(spark)
    _measure_sentinel(spark)
    return min(_SENTINEL_TIMES)


def _proc_stat_jiffies() -> tuple[int, int]:
    """(total, idle+iowait) aggregate jiffies from /proc/stat line 1."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[3] + vals[4]


def _driver_cpu_sec() -> float:
    import resource

    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def _gate(spark, name: str, one_run, budget: float, tier: str) -> None:
    import os

    elapsed = one_run()
    if elapsed <= budget:
        return
    # trip path: co-measure host slowdown, re-run once with CPU + host
    # metering around the run window
    scale = _measure_sentinel(spark) / min(_SENTINEL_TIMES)
    cpu0 = _settled_stage_cpu_ns(spark)
    drv0 = _driver_cpu_sec()
    try:
        tot0, idle0 = _proc_stat_jiffies()
    except OSError:  # non-linux fallback: no external-load evidence
        tot0 = idle0 = None
    t0 = time.perf_counter()
    rerun = one_run()
    window = time.perf_counter() - t0
    cpu_sec = (_settled_stage_cpu_ns(spark) - cpu0) / 1e9
    our_cpu = cpu_sec + (_driver_cpu_sec() - drv0)
    external_busy = 0.0
    if tot0 is not None:
        tot1, idle1 = _proc_stat_jiffies()
        dtot = max(1, tot1 - tot0)
        busy_frac = 1.0 - (idle1 - idle0) / dtot
        # subtract our own share (driver python + executor task CPU;
        # python workers stay billed as "external", which only makes
        # this estimate CONSERVATIVE — less relief, never more)
        ncpu = os.cpu_count() or 1
        our_frac = our_cpu / max(window * ncpu, 1e-9)
        external_busy = max(0.0, busy_frac - our_frac)
    elapsed = min(elapsed, rerun)
    allowed = budget * max(1.0, scale)
    cpu_equivalent_wall = cpu_sec / _CORES
    host_demonstrably_loaded = external_busy > 0.35 or scale > 1.5
    ok = elapsed <= allowed or (
        host_demonstrably_loaded and cpu_equivalent_wall <= budget
    )
    assert ok, (
        f"{name} took {elapsed:.1f}s at {tier} (budget {budget}s; "
        f"host-steal scale {scale:.2f} => allowed {allowed:.1f}s; "
        f"steal-free executor CPU {cpu_sec:.1f}s / {_CORES} cores = "
        f"{cpu_equivalent_wall:.1f}s wall-equivalent; external host "
        f"busy fraction {external_busy:.2f}) — neither the co-measured "
        "sentinel nor the host meters blame external load; look for a "
        "lost broadcast, an accidental cartesian, superlinear work "
        "(re-evaluated HOF lambda, quadratic pair blowup), or "
        "driver-side iteration"
    )


def test_gate_still_fails_structural_slowness(spark, sentinel_baseline):
    """Meta-test: a driver-side stall (the structural class CPU meters
    can't see) must still FAIL the gate on a quiet host. Skipped when
    the host is demonstrably loaded, because granting relief is then
    the designed behavior, not a bug."""
    t, i = _proc_stat_jiffies()
    time.sleep(0.5)
    t1, i1 = _proc_stat_jiffies()
    busy = 1.0 - (i1 - i) / max(1, t1 - t)
    if busy > 0.5:
        pytest.skip(f"host busy fraction {busy:.2f} — relief is correct here")

    def stalled_run() -> float:
        time.sleep(0.12)
        return 0.3  # reported wall over a 0.1 budget, every attempt

    with pytest.raises(AssertionError, match="driver-side iteration"):
        _gate(spark, "meta_stall", stalled_run, 0.1, "meta")


@pytest.mark.slow
@pytest.mark.budget
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_within_budget(name, spark, sf_dir, sentinel_baseline):
    def one_run() -> float:
        return run_query(spark, name, sf_dir).e2e_s

    _gate(spark, name, one_run, _BUDGET_SEC, "sf0.001")


# --- sf0.01 tier (round-6 VERDICT item 4) -----------------------------------
# The driver samples at sf0.01, 10x the tier above. A query that is
# accidentally SUPERLINEAR (the CollapseProject-in-HOF O(n^2) class
# round 5 caught at 20 s/sf0.001) can pass the small gate and still
# blow the driver's run — this tier times every query at the driver's
# own scale.


@pytest.mark.slow
@pytest.mark.budget01
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_within_budget_sf001(name, spark, sentinel_baseline):
    def one_run() -> float:
        return run_query(spark, name, "/root/testdata/sf0.01").e2e_s

    _gate(spark, name, one_run, _BUDGET01_SEC, "sf0.01")
