"""SparkSession factory with scale-appropriate defaults.

Local mode is the test bed; the config values are chosen so the same
logical plans survive a multi-executor cluster at 100 TB:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting).
- ``shuffle.partitions`` sized to the local core count instead of the
  200 default (on a real cluster this is tuned to ~2-3x total cores or
  left to AQE's coalescing).
- Arrow enabled for the Pandas-UDF slow path.
- Session timezone pinned to UTC so timestamp semantics are
  deterministic and match the DuckDB oracle.
- ``nanosAsLong`` because the driver's ``events`` parquet carries
  INT64(TIMESTAMP_NANOS), which vanilla Spark 4 refuses to read; see
  :mod:`odns_dataimporter_spark.tables` for the µs conversion.
- A generated-class cache that holds a repeated query run's working
  set, and class names free of codegen stage ids, so the second run
  reuses the first run's compiled classes (ARCHITECTURE.md,
  "Plan-reuse conventions").
- The checkout root on the Python workers' ``PYTHONPATH``: UDF closures
  pickle by reference to this package, so a worker started from any
  cwd must be able to import it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the package: Python workers import it from here
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "odns-dataimporter-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cpus in ("*", None) else int(cpus)
        shuffle_partitions = max(int(n), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # static, JVM-wide LRU of Janino-compiled classes, keyed by the
        # generated source. One pass of the nine perfbench llm_graph
        # queries needs about 220 distinct classes; an LRU smaller than
        # that cyclic working set (the default is 100) never hits, so every
        # run would recompile and re-JIT them all.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # keep the whole-stage codegen stage id out of the class name, so
        # it is not part of the source either: AQE's re-planning numbers
        # stages differently from run to run, and with the id in the name a
        # repeated llm_graph pass still compiled 12-24 classes that differed
        # from cached ones only in that id. Explain output keeps the ids.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
