"""Round-11 optimization invariants.

1. `scalable_prefix_sum` (the running-sum analogue of
   scalable_row_number, VERDICT r10 item 4) reproduces the single-task
   global window EXACTLY — int64 prefix sums are associative, so the
   (local prefix + partition offset) split is bit-identical.
2. The nonparametric family's size tier
   (size_hints.derived_prefix_distributed) only ever moves the plan:
   both branches of stats_kruskal_wallis / stats_mann_whitney /
   stats_wilcoxon_signed_rank produce identical rows.
3. graph_clustering_coefficient's r11 hub-local rewrite (VERDICT r10
   item 1) keeps its plan free of the structures that OOM'd the sf10
   rehearsal: no collect_list adjacency arrays in the closing path, no
   unpartitioned window, and hub selection stays a
   TakeOrderedAndProject.
"""

from __future__ import annotations

import pytest

from odns_dataimporter_spark.registry import REGISTRY, all_queries

all_queries()


def test_scalable_prefix_sum_equals_global_window(spark, sf_dir):
    """Helper-level equality on the real price-cents histogram (ties,
    gaps, long tails included)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from odns_dataimporter_spark.queries._helpers import scalable_prefix_sum
    from odns_dataimporter_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    t = (
        o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("long").alias("ct"))
    )
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    old = {
        (r["cents"], r["cum"])
        for r in t.select(
            "cents",
            F.coalesce(F.sum("ct").over(w), F.lit(0)).cast("long").alias("cum"),
        ).collect()
    }
    new = {
        (r["cents"], int(r["cum"]))
        for r in scalable_prefix_sum(t, ["cents"], "ct", out="cum")
        .select("cents", "cum")
        .collect()
    }
    assert old == new and len(old) > 0


@pytest.mark.parametrize(
    "name",
    ["stats_kruskal_wallis", "stats_mann_whitney", "stats_wilcoxon_signed_rank"],
)
def test_prefix_tier_branches_identical(name, spark, sf_dir, monkeypatch):
    """Forcing the distributed branch at the small tier must reproduce
    the single-task branch's rows exactly — the tier moves the plan,
    never the statistic."""
    import odns_dataimporter_spark.size_hints as sh

    fn = REGISTRY[name].fn
    monkeypatch.setattr(sh, "derived_prefix_distributed", lambda *a, **k: False)
    single = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    monkeypatch.setattr(sh, "derived_prefix_distributed", lambda *a, **k: True)
    dist = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert single == dist and len(single) > 0


def test_clustering_coefficient_plan_is_hub_local(spark, sf_dir, monkeypatch):
    """Ratchet for the r11 rewrite: the plan must not reintroduce the
    adjacency-array closing (collect_list / array_intersect) or a
    global window; hub selection stays TakeOrderedAndProject."""
    df = REGISTRY["graph_clustering_coefficient"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert "array_intersect" not in plan
    assert "Window" not in plan
    # The checkpoints hide their subtrees (the hub TakeOrderedAndProject
    # among them) behind ExistingRDD scans, so build the query again with
    # localCheckpoint as identity and assert on the whole plan.
    monkeypatch.setattr(type(df), "localCheckpoint", lambda self, *a, **k: self)
    whole = REGISTRY["graph_clustering_coefficient"].fn(spark, sf_dir)
    plan = whole._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "collect_set" in plan  # sees the edge build
    assert "collect_list" not in plan
    assert "array_intersect" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan
