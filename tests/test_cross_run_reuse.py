"""A repeated query run in one session reuses what the last run built.

1. Generated classes: the session's codegen cache holds a run's working
   set, so running the nine llm_graph queries again compiles almost
   nothing. Janino's compile count is read from Spark's
   ``CodegenMetrics`` over py4j; it only moves on a cache miss.
2. Parquet schemas: ``load_table`` infers a table's schema once. A
   second load starts no Spark job, gives the same schema and rows as
   an uncached read, and a table rewritten with a new schema is
   inferred afresh.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import odns_dataimporter_spark.tables as tables
from odns_dataimporter_spark.registry import all_queries, run_query
from odns_dataimporter_spark.tables import TABLES, load_table

all_queries()

# the perfbench llm_graph workload
LLM_GRAPH = (
    "llm_curation_pipeline_v2",
    "text_strip_dup_spans",
    "text_dup_span_coverage",
    "text_importance_dsir",
    "text_boilerplate_ngrams",
    "text_winnow_fingerprints",
    "dedup_winnow_pairs",
    "graph_label_propagation",
    "graph_clustering_coefficient",
)


def test_repeated_run_reuses_generated_classes(spark, sf_dir):
    """Measured at sf0.001 on local[8]: 231 then 224 compiles with Spark's
    default 100-entry cache; 220 then 12-24 with a 2000-entry cache and
    stage ids in class names; 186 then 0 with the session's settings."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = []
    for _ in range(2):
        before = compiles.getCount()
        for name in LLM_GRAPH:
            run_query(spark, name, sf_dir)
        counts.append(compiles.getCount() - before)
    first, second = counts
    assert second <= 0.1 * first, f"compiled {first} classes, then {second}"


def test_second_load_starts_no_job(spark, sf_dir):
    sc = spark.sparkContext
    load_table(spark, sf_dir, "lineitem")
    group = "test_second_load_starts_no_job"
    sc.setJobGroup(group, "second load_table of one table")
    try:
        load_table(spark, sf_dir, "lineitem")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("name", TABLES)
def test_cached_load_matches_uncached(name, spark, sf_dir, monkeypatch):
    load_table(spark, sf_dir, name)
    cached = load_table(spark, sf_dir, name)
    monkeypatch.setattr(tables, "_read_parquet", lambda s, path: s.read.parquet(path))
    fresh = load_table(spark, sf_dir, name)
    assert cached.schema == fresh.schema
    rows = sorted(cached.collect(), key=repr)
    assert rows == sorted(fresh.collect(), key=repr) and rows


def test_rewritten_table_is_inferred_afresh(spark, tmp_path):
    root = str(tmp_path)
    path = f"{root}/t.parquet"
    spark.range(3).write.parquet(path)
    assert load_table(spark, root, "t").columns == ["id"]
    spark.range(3).withColumn("tag", F.lit("x")).write.mode("overwrite").parquet(path)
    df = load_table(spark, root, "t")
    assert df.columns == ["id", "tag"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "x"), (1, "x"), (2, "x")]
