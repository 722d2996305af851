"""Skew rehearsal for the single-key window family (round-6 VERDICT
item 5).

`sessionize_lag_cumsum`, `scd2_build`, and the events_* per-user
windows all shuffle on user_id. The salted patterns exist for joins and
aggregations (join_skew_salted, agg_skew_salted), but a window over
PARTITION BY user_id cannot be salted without changing semantics — a
pathological key lands its whole partition on one task. This test feeds
exactly that: ONE user owning 50% of all events, and pins two facts:

1. every user-window operator COMPLETES and matches its DuckDB oracle
   on the skewed fixture (correctness under skew), and
2. the skewed run stays within a small multiple of the balanced run on
   an equal-size fixture (no super-linear degradation — per-row window
   work is O(1) amortized for the lag/cumsum/row_number class, so a hot
   key costs serial time proportional to its row share, bounded at 2x
   the balanced wall-clock on 32 cores, asserted loosely at 5x per the
   VERDICT bar).

Mitigation documented here (and in ARCHITECTURE.md): for the
lag/cumsum class, a hot key is latency-bound by its own row count —
the fix at 100 TB is range-partitioning WITHIN the hot key by time
window and stitching boundaries (two-pass), or pre-aggregating events
to (user, session-candidate) granularity before the window. None of
the shipped ops needs it at a 50%-hot-key share: the measured
degradation stays under the trip-wire because Spark assigns one task
per partition and the other 31 cores absorb the remaining keys.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from odns_dataimporter_spark.oracle import compare
from odns_dataimporter_spark.registry import REGISTRY, all_queries, run_query

all_queries()

_WINDOW_OPS = [
    "sessionize_lag_cumsum",
    "scd2_build",
    "events_rolling_distinct_7d",
    "events_attribution_touch",
    "events_time_to_convert",
    "events_funnel",
]
_N = 40_000


def _events_frame(user_ids: np.ndarray, seed: int = 7) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n = len(user_ids)
    ts = (
        np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]")
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": user_ids.astype(np.int64),
            "event_type": rng.choice(
                ["signup", "purchase", "view", "click", "error"], n
            ),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n).astype("U3")), "}"
            ),
        }
    )


@pytest.fixture(scope="module")
def skew_dirs(tmp_path_factory):
    rng = np.random.default_rng(11)
    base = tmp_path_factory.mktemp("skew")
    # balanced: ~600 users uniformly
    bal = str(base / "balanced")
    os.makedirs(bal)
    _events_frame(rng.integers(0, 600, _N)).to_parquet(
        os.path.join(bal, "events.parquet"), index=False
    )
    # skewed: user 0 owns 50% of all events, rest uniform over 600
    skw = str(base / "skewed")
    os.makedirs(skw)
    half = rng.integers(1, 600, _N // 2)
    ids = np.concatenate([np.zeros(_N // 2, dtype=np.int64), half])
    rng.shuffle(ids)
    _events_frame(ids).to_parquet(os.path.join(skw, "events.parquet"), index=False)
    return bal, skw


def _run(spark, name: str, d: str) -> float:
    return run_query(spark, name, d).e2e_s


@pytest.mark.parametrize("name", _WINDOW_OPS)
def test_window_op_correct_and_bounded_under_skew(name, spark, skew_dirs):
    bal, skw = skew_dirs
    spec = REGISTRY[name]

    # correctness under skew: the driver's exact oracle comparison
    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{skw}/events.parquet')"
        )
        res = compare(name, spec.fn(spark, skw), con, spec.oracle)
    finally:
        con.close()
    assert res.ok, f"{name} wrong under 50%-hot-key skew: {res.detail}"

    # degradation bound: warm both, then best-of-2 each
    _run(spark, name, bal), _run(spark, name, skw)
    t_bal = min(_run(spark, name, bal), _run(spark, name, bal))
    t_skw = min(_run(spark, name, skw), _run(spark, name, skw))
    # 5x trip-wire per VERDICT r5 item 5, with an absolute floor so
    # sub-100ms jitter can't trip it
    assert t_skw <= max(5.0 * t_bal, t_bal + 1.0), (
        f"{name}: skewed {t_skw:.2f}s vs balanced {t_bal:.2f}s — "
        "hot-key degradation exceeds the 5x trip-wire; consider "
        "two-pass windowing (range-split the hot key by time, stitch "
        "boundaries) or pre-aggregation before the window"
    )


def test_aqe_splits_skewed_join_partition(spark, skew_dirs, tmp_path):
    """AQE skew-join evidence: with a 50%-hot-key fact side, Spark's
    adaptive OptimizeSkewedJoin must split the hot partition into
    multiple reader splits (plan tagged `SortMergeJoin(skew=true)` /
    `AQEShuffleRead ... skewed`) instead of serializing the whole key
    on one task. This is the AUTOMATIC half of the skew story —
    join_skew_salted pins the manual half.

    Three preconditions, all probed empirically (round 6), each a
    production lesson in its own right:
    1. the skewed side needs MULTIPLE MAP TASKS — AQE splits a skewed
       reduce partition by mapper ranges, so a single-file/-task input
       CANNOT be split (the fixture repartitions to 8 files);
    2. only ONE join side may be skewed on the partition — a self-join
       skews both sides identically and the rule skips it;
    3. the join output must not require hashpartitioning on the join
       key downstream (a groupBy on the key would add a shuffle, which
       the rule refuses by default) — asserted with a global agg.
    Thresholds are lowered to engage at test scale (prod defaults:
    256 MB / factor 5); broadcast disabled to force the shuffle join.
    The payload column rides THROUGH the join so pruning can't shrink
    the hot partition below threshold."""
    bal, skw = skew_dirs
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        # skewed side with an unprunable payload, split across 8 files
        src = str(tmp_path / "skew8")
        (
            spark.read.parquet(f"{skw}/events.parquet")
            .withColumn("pay", F.concat(F.lit("p"), F.repeat(F.col("props"), 20)))
            .select("user_id", "event_id", "pay")
            .repartition(8)
            .write.mode("overwrite")
            .parquet(src)
        )
        a = spark.read.parquet(src)
        b = spark.read.parquet(f"{bal}/events.parquet").select(
            F.col("user_id").alias("u2"), F.col("event_id").alias("e2")
        )
        j = a.join(b, a.user_id == b.u2).agg(F.sum(F.length("pay")).alias("n"))
        # execute through the DataFrame's OWN plan: a sink write runs a
        # clone, leaving this plan isFinalPlan=false with no AQE result
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, (
            "AQE did not mark the hot partition as skewed — "
            "OptimizeSkewedJoin regressed or a precondition drifted:\n"
            + plan[:2000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
