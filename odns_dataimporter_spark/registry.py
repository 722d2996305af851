"""Query registry: one entry per operator from SURVEY.md §2.

Each operator is a pure function ``(spark, sf_dir) -> DataFrame``
registered together with the ANSI SQL a DuckDB oracle can run over the
same parquet tables. ``__spark_entry__.queries()`` / ``oracle_sql()``
are thin views over this registry, and the local parity test
(tests/test_oracle_parity.py) replays the driver's comparison.
``run_query`` is the one timed run of a registered query (bench.py,
tools/scale_rehearsal.py and the tests time queries through it).

Determinism conventions (so order-insensitive value hashes match):

- Alias every computed column identically in Spark and SQL.
- Never emit raw floating sums: either sum exact integer cents/micros
  and divide once (``money_sum``), or round the aggregate.
- Integer sums in DuckDB return HUGEINT — always CAST to BIGINT.
- Top-k / row_number orderings always carry a unique tiebreaker column.
- Timestamps in output are formatted to strings (or cast to dates);
  time deltas are exact integer microseconds (unix_micros / epoch_us).
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver records a weaker rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    # Parity guard: an oracle match on two EMPTY results is vacuous (a
    # mistyped filter can silently null a query). Queries that may
    # legitimately return zero rows at tiny scale declare min_rows=0.
    min_rows: int = 1


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    min_rows: int = 1,
):
    """Decorator: register a query implementation under a SURVEY §2 op id."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        REGISTRY[name] = QuerySpec(
            name, fn, oracle, tuple(tags), (fn.__doc__ or "").strip(), min_rows
        )
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    import odns_dataimporter_spark.queries  # noqa: F401  (triggers registration)

    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    import odns_dataimporter_spark.queries  # noqa: F401

    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


@dataclass(frozen=True)
class QueryRun:
    """Wall-clock phases and Spark job counts of one ``run_query`` call."""

    name: str
    build_s: float  # the query function; includes jobs that AQE runs for checkpoints
    plan_s: float  # executedPlan()
    execute_s: float  # the noop write
    build_jobs: int  # jobs started while building
    jobs: int  # jobs started by the whole run

    @property
    def e2e_s(self) -> float:
        return self.build_s + self.plan_s + self.execute_s


# setJobGroup sets all three; run_query puts back what the caller had
_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def run_query(spark: SparkSession, name: str, sf_dir: str) -> QueryRun:
    """Build, plan and execute (``noop`` sink) one registered query under
    a job group of its own, and time each phase. No DataFrame is returned,
    so its py4j plan handle is dropped when this returns and the run's
    checkpoint blocks can be released before the next run. Raises
    ``KeyError`` for a name that is not registered."""
    fn = REGISTRY[name].fn
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    group = f"run_query/{name}/{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    return QueryRun(name, t1 - t0, t2 - t1, t3 - t2, build_jobs, jobs)
