"""``registry.run_query``: one query run, timed by phase (build, plan,
execute) under a job group of its own, with the caller's job group put
back afterwards."""

from __future__ import annotations

import contextlib

import pytest

from odns_dataimporter_spark.registry import REGISTRY, QuerySpec, all_queries, run_query

all_queries()


def test_phases_add_up_to_end_to_end(spark, sf_dir):
    run = run_query(spark, "agg_hash_group", sf_dir)
    assert run.name == "agg_hash_group"
    assert run.e2e_s == run.build_s + run.plan_s + run.execute_s
    assert run.e2e_s >= run.execute_s
    assert run.jobs >= max(run.build_jobs, 1)


def test_checkpointing_query_runs_jobs_while_built(spark, sf_dir):
    """Under AQE the edge checkpoint of graph_label_propagation runs its
    shuffle stages while the DataFrame is built, before any write (2 jobs
    at sf0.001 on local[4]); a write-only timing misses them."""
    run_query(spark, "graph_label_propagation", sf_dir)
    run = run_query(spark, "graph_label_propagation", sf_dir)
    assert run.build_jobs >= 1
    assert run.jobs > run.build_jobs


def test_second_run_builds_without_jobs(spark, sf_dir):
    """The first build's job is parquet schema inference, which
    load_table caches. A job group shared between runs would count the
    first run's jobs again."""
    run_query(spark, "agg_hash_group", sf_dir)
    assert run_query(spark, "agg_hash_group", sf_dir).build_jobs == 0


def _boom(spark, sf_dir):
    raise RuntimeError("boom")


@pytest.mark.parametrize("caller", [("caller-group", "caller work"), (None, None)])
@pytest.mark.parametrize("name, raises", [("agg_hash_group", False), ("test_run_query_raises", True)])
def test_callers_job_group_is_restored(spark, sf_dir, monkeypatch, caller, name, raises):
    monkeypatch.setitem(
        REGISTRY, "test_run_query_raises", QuerySpec("test_run_query_raises", _boom, None)
    )
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    for k, v in zip(keys, caller):
        sc.setLocalProperty(k, v)
    try:
        with pytest.raises(RuntimeError, match="boom") if raises else contextlib.nullcontext():
            run_query(spark, name, sf_dir)
        assert tuple(sc.getLocalProperty(k) for k in keys) == caller
    finally:
        for k in keys:
            sc.setLocalProperty(k, None)


def test_unknown_name_raises_key_error(spark, sf_dir):
    with pytest.raises(KeyError):
        run_query(spark, "no_such_query", sf_dir)
