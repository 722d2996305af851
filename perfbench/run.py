#!/usr/bin/env python3
"""End-to-end benchmark of the ODNS engine, one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates (or reuses) its seeded
inputs, sets up a session several times, runs passes of the workload's
fixed operation list back to back for ``--seconds``, checks every
output against independent truth, and prints one JSON line last on
stdout. ``--trace 1`` wraps each layer's public functions, tags every
query with a Spark job group and turns on the event log, and reports
the per-layer metrics instead of the end-to-end ones. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

import inputs
import spans
from inputs import TCP_COLUMNS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")  # input cache, traces, per-run temp dirs
PACKAGE = "odns_dataimporter_spark"
CPUS = len(os.sched_getaffinity(0))  # local[$(nproc)]
DRIVER_MEMORY = "2g"  # the session factory's SPARK_DRIVER_MEMORY knob
SF = 0.02
INGEST_ROWS = 300_000  # per protocol file
SETUPS = 5
# passes per run at least: one cold pass, then warm ones
MIN_PASSES = {"ingest": 3, "llm_graph": 2}
READBACK_REPEATS = 5
CACHE_KEEP = 6  # newest cache entries kept across runs

WORKLOADS = {
    "ingest": [],
    "llm_graph": [
        "llm_curation_pipeline_v2",
        "text_strip_dup_spans",
        "text_dup_span_coverage",
        "text_importance_dsir",
        "text_boilerplate_ngrams",
        "text_winnow_fingerprints",
        "dedup_winnow_pairs",
        "graph_label_propagation",
        "graph_clustering_coefficient",
    ],
}
QUERY_NAMES = [q for qs in WORKLOADS.values() for q in qs]
PROTOCOLS = ("tcp", "udp")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and every process it started
    (the JVM and its Python workers), sampled from /proc every 50 ms.

    Each process counts its proportional set size, so a page shared by
    several processes counts once in the sum: the JVM forks helper
    processes (Hadoop's local file system runs shell commands), and each
    such child briefly shows the JVM's whole RSS as its own."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.paused = False  # set while the benchmark's own checks run
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(0.05):
            if self.paused:
                continue
            total = 0
            for pid in [me, *descendants(me)]:
                try:
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        for line in f:
                            if line.startswith("Pss:"):
                                total += int(line.split()[1])
                                break
                except OSError:
                    pass
            self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def evict_cache(cache_dir: str) -> None:
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)),
        key=os.path.getmtime,
    )
    for path in entries[:-CACHE_KEEP]:
        shutil.rmtree(path, ignore_errors=True)


class Bench:
    def __init__(self, args, run_dir: str, inputs_path: str):
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.inputs = inputs_path  # sf-tier table dir, or archive root
        self.sink = os.path.join(run_dir, "sink")
        self.year = inputs.ARCHIVE_YEAR
        self.run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        self.tracer = None
        self.spark = None
        self.qs = self.registry = self.pipeline = self.tables = None
        self.setup_s: list[float] = []
        self.pass_s: list[float] = []
        self.attempted = 0
        self.failed_ops: set[tuple[int, str]] = set()  # (pass, query or protocol)
        self.errors: list[str] = []
        self.last: dict = {}  # final-pass outputs the gate checks
        self.query_runs: list[dict] = []  # one record per query run
        self.readback_s: list[float] = []

    # -- setup ---------------------------------------------------------
    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        }
        if self.trace:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    def setup(self, rep: int) -> None:
        """One full set-up: import the package, start the session, register
        every query and resolve the input paths. Later repetitions stop the
        session (untimed) and drop the package's modules, so each one pays
        import, session start and registration again; the JVM stays up."""
        if rep:
            self.spark.stop()
        t0 = time.perf_counter()
        if rep:
            for mod in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
                del sys.modules[mod]
        if self.trace:
            for mod_name, attr, span in spans.WRAPPED:
                mod = importlib.import_module(mod_name)
                self.tracer.wrap(mod, attr, span, after=self._after_hook(span))
            hints = importlib.import_module(spans.SIZE_HINTS)
            for attr in [a for a in vars(hints) if a.startswith(("derived_", "table_bytes"))]:
                self.tracer.wrap(hints, attr, "size_hints")
        session = importlib.import_module(f"{PACKAGE}.session")
        registry = importlib.import_module(f"{PACKAGE}.registry")
        with self._span("setup", rep=rep):
            self.spark = session.get_spark(cpus=CPUS, extra_conf=self.spark_conf())
            self.qs = registry.all_queries()
            self.registry = registry
            if self.workload == "ingest":
                self.pipeline = importlib.import_module(f"{PACKAGE}.odns.pipeline")
                if not os.path.isdir(self.inputs):
                    raise FileNotFoundError(self.inputs)
            else:
                self.tables = importlib.import_module(f"{PACKAGE}.tables")
                missing = [q for q in WORKLOADS[self.workload] if q not in self.qs]
                if missing or not os.path.isdir(self.inputs):
                    raise LookupError(f"unresolved inputs: {missing or self.inputs}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_s.append(time.perf_counter() - t0)

    def _span(self, name, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext({})

    def _after_hook(self, span: str):
        if span == "odns.ingest.stage_decompress":
            def after(rec, args, kwargs, staged):
                rec["bytes"] = os.path.getsize(staged)
            return after
        if span == "odns.ingest.ingest_file":
            # parse+type cost on its own: a noop write of the typed frame
            def after(rec, args, kwargs, df):
                with self.tracer.span("odns.ingest.parse_type"):
                    df.write.format("noop").mode("overwrite").save()
            return after
        if span == "odns.sinks.write":
            def after(rec, args, kwargs, _):
                rec["bytes"] = dir_bytes(args[1] if len(args) > 1 else kwargs["path"])
            return after
        return None

    # -- passes --------------------------------------------------------
    def run_passes(self) -> None:
        """Pass 1 is cold; passes continue back to back until ``--seconds``
        have gone by, and at least MIN_PASSES run."""
        start = time.perf_counter()
        n = 0
        while n < MIN_PASSES[self.workload] or time.perf_counter() - start < self.args.seconds:
            n += 1
            with self._span("pass", **{"pass": n}):
                t0 = time.perf_counter()
                if self.workload == "ingest":
                    self.ingest_op(n)
                else:
                    for name in WORKLOADS[self.workload]:
                        self.query_op(n, name)
                self.pass_s.append(time.perf_counter() - t0)
            shutil.rmtree(self.stage_dir(n), ignore_errors=True)

    def stage_dir(self, n: int) -> str:
        return os.path.join(self.run_dir, f"stage-{n}")

    def ingest_op(self, n: int) -> None:
        """One daily import: both protocol files into the snapshot sink,
        staged into a fresh empty directory so decompression is paid."""
        self.attempted += len(PROTOCOLS)
        try:
            self.last["results"] = self.pipeline.run_ingest(
                self.spark, self.inputs, self.sink, year=self.year, stage_dir=self.stage_dir(n)
            )
        except Exception as e:  # every file of the pass failed; the run goes on
            self.failed_ops.update((n, p) for p in PROTOCOLS)
            self.errors.append(f"pass {n} ingest: {type(e).__name__}: {e}"[:500])
            self.last["results"] = []

    def query_op(self, n: int, name: str) -> None:
        self.attempted += 1
        sc = self.spark.sparkContext
        group = f"{self.run_id}/p{n}/{name}"
        rec = {"pass": n, "query": name, "group": group}
        try:
            with self._span("query", query=name, group=group):
                if self.trace:
                    sc.setJobGroup(group, name)
                t0 = time.perf_counter()
                df = self.qs[name](self.spark, self.inputs)
                t1 = time.perf_counter()
                if self.trace:
                    rec["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                if self.trace:
                    rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                    sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(build_s=t1 - t0, plan_s=t2 - t1, execute_s=t3 - t2, e2e_s=t3 - t0)
            self.last[name] = df
        except Exception as e:  # counted as failed; the run goes on
            self.failed_ops.add((n, name))
            self.errors.append(f"pass {n} {name}: {type(e).__name__}: {e}"[:500])
            self.last[name] = None
        self.query_runs.append(rec)

    # -- correctness gate (outside the timed region) --------------------
    def gate(self) -> dict:
        return self.gate_ingest() if self.workload == "ingest" else self.gate_queries()

    def gate_queries(self) -> dict:
        from odns_dataimporter_spark.oracle import compare, duckdb_connect

        con = duckdb_connect(self.inputs)
        rows = 0
        passes = len(self.pass_s)
        for name in WORKLOADS[self.workload]:
            df = self.last.get(name)
            if df is None:
                continue  # already counted as failed in every pass it raised
            spec = self.registry.REGISTRY[name]
            try:
                result = Collected(df)
                got = len(result.rows)
                ok, detail = True, ""
                if spec.oracle is not None:
                    res = compare(name, result, con, spec.oracle)
                    ok, detail = res.ok, res.detail
                if ok and got < spec.min_rows:
                    ok, detail = False, f"{got} rows < min_rows {spec.min_rows}"
            except Exception as e:
                ok, detail, got = False, f"{type(e).__name__}: {e}", 0
            if not ok:
                # every pass produced this result: each of its runs failed
                self.failed_ops.update((n, name) for n in range(1, passes + 1))
                self.errors.append(f"gate {name}: {detail}"[:500])
            rows += got
        con.close()
        return {"rows_per_pass": rows}

    def gate_ingest(self) -> dict:
        from pyspark.sql import functions as F

        with open(os.path.join(self.inputs, "truth.json")) as f:
            truth = json.load(f)
        passes = len(self.pass_s)
        sink = self.spark.read.parquet(self.sink)
        cols = [c for c in sink.columns if c != "protocol"]
        got = {
            r["protocol"]: r.asDict()
            for r in sink.groupBy("protocol").agg(
                F.count(F.lit(1)).alias("rows"),
                *[F.sum(F.col(c).isNull().cast("long")).alias(f"null:{c}") for c in cols],
                F.min("scan_date").alias("scan_date_min"),
                F.max("scan_date").alias("scan_date_max"),
            ).collect()
        }
        observed = {r.protocol: r.rows for r in self.last.get("results", [])}
        nulls: dict[str, int] = {}
        rows = 0
        for proto, want in truth["protocols"].items():
            g = got.get(proto)
            bad = []
            if g is None:
                bad.append("missing from sink")
            else:
                if g["rows"] != want["rows"]:
                    bad.append(f"sink rows {g['rows']} != {want['rows']}")
                if observed.get(proto) != want["rows"]:
                    bad.append(f"observed rows {observed.get(proto)} != {want['rows']}")
                if g["scan_date_min"] != truth["scan_date"] or g["scan_date_max"] != truth["scan_date"]:
                    bad.append(f"scan_date {g['scan_date_min']}..{g['scan_date_max']}")
                for c in cols:
                    if c == "scan_date":
                        continue
                    want_nulls = want["typed_nulls"].get(c, want["rows"])  # absent column: all NULL
                    if g[f"null:{c}"] != want_nulls:
                        bad.append(f"{c} nulls {g[f'null:{c}']} != {want_nulls}")
                    nulls[c] = nulls.get(c, 0) + g[f"null:{c}"]
                rows += g["rows"]
            if bad:  # one file of this protocol per pass
                self.failed_ops.update((n, proto) for n in range(1, passes + 1))
                self.errors.append(f"gate {proto}: {'; '.join(bad)}"[:500])
        return {
            "rows_per_pass": sum(observed.values()),
            "sink_rows": rows,
            "typed_nulls": nulls,
            "csv_bytes": sum(p["csv_bytes"] for p in truth["protocols"].values()),
        }

    # -- read-back probe -----------------------------------------------
    def readback(self) -> float:
        """Median wall time of three fixed reads over the data at rest: a
        pruned aggregate, a top-k and a full-row scan. Ingest reads the sink
        it wrote; the query workloads read their input tables."""
        from pyspark.sql import functions as F

        if self.workload == "ingest":
            def probes():
                sink = self.spark.read.parquet(self.sink)
                sink.where("protocol = 'udp'").groupBy("country_response").agg(
                    F.count(F.lit(1)), F.avg("asn_response")
                ).collect()
                sink.groupBy("asn_response").count().orderBy(
                    F.desc("count"), "asn_response"
                ).limit(10).collect()
                sink.write.format("noop").mode("overwrite").save()
        else:
            def probes():
                li = self.tables.load_table(self.spark, self.inputs, "lineitem")
                li.where("l_shipdate >= '1998-01-01'").groupBy("l_returnflag").agg(
                    F.sum("l_quantity")
                ).collect()
                li.orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber").limit(
                    10
                ).collect()
                li.write.format("noop").mode("overwrite").save()

        for _ in range(READBACK_REPEATS):
            t0 = time.perf_counter()
            probes()
            self.readback_s.append(time.perf_counter() - t0)
        return statistics.median(self.readback_s)

    # -- teardown ------------------------------------------------------
    def stop(self) -> None:
        """Stop the session and the JVM it started, and wait until every
        process this run started has ended."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 20
        while (left := descendants(os.getpid())) and time.time() < deadline:
            time.sleep(0.1)
        for pid in left:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        for pid in left:
            while os.path.exists(f"/proc/{pid}"):
                time.sleep(0.05)


class Collected:
    """A query result collected once, shaped like the DataFrame surface
    ``oracle.compare`` reads, so the gate executes each query only once."""

    def __init__(self, df):
        self.columns = list(df.columns)
        self.dtypes = df.dtypes
        self.rows = df.collect()

    def collect(self):
        return self.rows


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    evict_cache(cache)
    if args.workload == "ingest":
        inputs_path = inputs.archive(cache, args.seed, INGEST_ROWS)
    else:
        inputs_path = inputs.tables(cache, args.seed, SF)
    os.utime(inputs_path)  # most recently used: last to be evicted

    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    # Python workers import the package; everything Spark writes goes to run_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    cwd = os.getcwd()
    os.chdir(run_dir)
    rss = RssSampler()
    rss.start()
    bench = Bench(args, run_dir, inputs_path)
    try:
        if bench.trace:
            bench.tracer = spans.Tracer(bench.run_id)
        for rep in range(SETUPS):
            bench.setup(rep)
        bench.run_passes()
        rss.paused = True  # the gate's DuckDB oracle is not the program's memory
        with bench._span("gate"):
            gate = bench.gate()
        rss.paused = False
        if bench.workload == "ingest":
            gate["sink_bytes"] = dir_bytes(bench.sink)
        with bench._span("readback"):
            readback_s = bench.readback()
        bench.stop()
        peak_mb = rss.stop()
        if bench.trace:
            metrics = layer_metrics(bench, gate)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces", f"{bench.run_id}.json")
            bench.tracer.dump(path, {"query_runs": bench.query_runs, "metrics": metrics})
            print(f"# trace written to {os.path.relpath(path, cwd)}")
        else:
            metrics = end_to_end(bench, gate, readback_s, peak_mb)
    finally:
        bench.stop()
        rss.stop()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)

    for err in bench.errors:
        print(f"FAILED {err}", file=sys.stderr)
    print(json.dumps({
        "correct": not bench.failed_ops,
        "attempted": bench.attempted,
        "failed": len(bench.failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def end_to_end(bench: Bench, gate: dict, readback_s: float, peak_mb: float) -> dict:
    warm = bench.pass_s[1:]
    vals = {
        "setup_s": (statistics.median(bench.setup_s), "s"),
        "cold_pass_s": (bench.pass_s[0], "s"),
        "warm_pass_s": (statistics.median(warm), "s"),
        "rows_per_s": (gate["rows_per_pass"] * len(warm) / sum(warm), "rows/s"),
        "readback_s": (readback_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    # the two ratios below are exact or zero by design, so they are
    # printed here rather than gated (see README.md)
    extra = {"failure_rate": (len(bench.failed_ops) / bench.attempted, "ratio")}
    if bench.workload == "ingest":
        extra["sink_bytes_per_csv_byte"] = (gate["sink_bytes"] / gate["csv_bytes"], "ratio")
    print(
        f"# {bench.workload} seed={bench.args.seed} passes={len(bench.pass_s)} "
        f"setups={[round(x, 3) for x in bench.setup_s]} passes_s={[round(x, 3) for x in bench.pass_s]} "
        f"readbacks={[round(x, 3) for x in bench.readback_s]}"
    )
    for k, (v, u) in {**vals, **extra}.items():
        print(f"# {k} = {v:.6g} {u}")
    for n in range(1, len(bench.pass_s) + 1):
        times = [f"{r['query']}={r['e2e_s']:.3f}" for r in bench.query_runs
                 if r["pass"] == n and "e2e_s" in r]
        if times:
            print(f"# pass {n}: " + " ".join(times))
    return vals


# per-layer metrics of a traced run: (name, unit, better); every workload
# reports all of them, 0 where the workload leaves a layer idle
LAYER_SPECS = [
    ("session.get_spark_s", "s", "lower"),
    ("registry.all_queries_s", "s", "lower"),
    ("tables.load_table_calls", "count", "lower"),
    ("tables.load_table_s", "s", "lower"),
    ("size_hints.calls", "count", "lower"),
    ("size_hints.s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
    ("queries.plan_s", "s", "lower"),
    ("queries.execute_s", "s", "lower"),
    ("queries.jobs", "count", "lower"),
    ("queries.stages", "count", "lower"),
    ("queries.task_run_s", "s", "lower"),
    ("queries.task_cpu_s", "s", "lower"),
    ("queries.task_run_per_wall", "ratio", "higher"),
    ("queries.shuffle_write_bytes", "bytes", "lower"),
    ("queries.shuffle_read_bytes", "bytes", "lower"),
    ("queries.spill_bytes", "bytes", "lower"),
    ("queries.peak_exec_mem_bytes", "bytes", "lower"),
    *[
        spec for q in QUERY_NAMES for spec in (
            (f"q.{q}.e2e_s", "s", "lower"),
            (f"q.{q}.build_s", "s", "lower"),
            (f"q.{q}.build_jobs", "count", "lower"),
        )
    ],
    ("odns.files.discover_s", "s", "lower"),
    ("odns.ingest.stage_decompress_s", "s", "lower"),
    ("odns.ingest.stage_mb_per_s", "MB/s", "higher"),
    ("odns.ingest.parse_type_s", "s", "lower"),
    ("odns.sinks.write_s", "s", "lower"),
    ("odns.sinks.encode_write_s", "s", "lower"),
    ("odns.sinks.bytes", "bytes", "lower"),
    ("odns.sinks.bytes_per_csv_byte", "ratio", "lower"),
    ("odns.pipeline.rows_observed", "count", "higher"),
    *[(f"odns.ingest.typed_nulls.{c}", "count", "lower") for c in TCP_COLUMNS],
    ("trace.warm_pass_s", "s", "lower"),
    ("trace.unaccounted_s", "s", "lower"),
]


def layer_metrics(bench: Bench, gate: dict) -> dict:
    """Per-layer metrics of a traced run. Pass-level figures are per warm
    pass (passes 2..P); set-up figures are medians over the set-ups."""
    t = bench.tracer
    warm = set(range(2, len(bench.pass_s) + 1))
    nw = len(warm)

    def dur(s):
        return s["end"] - s["start"]

    def per_pass(name):
        return sum(dur(s) for s in t.select(name, warm)) / nw

    def calls(name):
        return len(t.select(name, warm)) / nw

    def median_or_0(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    ev = spans.read_event_log(os.path.join(bench.run_dir, "eventlog"))
    runs = [r for r in bench.query_runs if r["pass"] in warm and "e2e_s" in r]
    for r in runs:
        r.update(ev.get(r["group"], {}))

    def q_sum(key):
        return sum(r.get(key, 0) for r in runs) / nw

    wall = sum(r["e2e_s"] for r in runs)
    m = {
        "session.get_spark_s": median_or_0(dur(s) for s in t.select("session.get_spark")),
        "registry.all_queries_s": median_or_0(dur(s) for s in t.select("registry.all_queries")),
        "tables.load_table_calls": calls("tables.load_table"),
        "tables.load_table_s": per_pass("tables.load_table"),
        "size_hints.calls": calls("size_hints"),
        "size_hints.s": per_pass("size_hints"),
        "queries.task_run_per_wall": q_sum("task_run_s") * nw / (wall * CPUS) if wall else 0.0,
        "queries.peak_exec_mem_bytes": max((r.get("peak_exec_mem_bytes", 0) for r in runs), default=0),
    }
    for key in ("build_s", "build_jobs", "plan_s", "execute_s", "jobs", "stages", "task_run_s",
                "task_cpu_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"queries.{key}"] = q_sum(key)
    for q in QUERY_NAMES:
        mine = [r for r in runs if r["query"] == q]
        for key in ("e2e_s", "build_s", "build_jobs"):
            m[f"q.{q}.{key}"] = median_or_0(r[key] for r in mine)

    stage = t.select("odns.ingest.stage_decompress", warm)
    writes = t.select("odns.sinks.write", warm)
    m["odns.files.discover_s"] = per_pass("odns.files.discover")
    m["odns.ingest.stage_decompress_s"] = per_pass("odns.ingest.stage_decompress")
    stage_s = sum(dur(s) for s in stage)
    m["odns.ingest.stage_mb_per_s"] = sum(s["bytes"] for s in stage) / 1e6 / stage_s if stage_s else 0.0
    m["odns.ingest.parse_type_s"] = per_pass("odns.ingest.parse_type")
    m["odns.sinks.write_s"] = per_pass("odns.sinks.write")
    m["odns.sinks.encode_write_s"] = m["odns.sinks.write_s"] - m["odns.ingest.parse_type_s"]
    m["odns.sinks.bytes"] = writes[-1]["bytes"] if writes else 0
    m["odns.sinks.bytes_per_csv_byte"] = (
        m["odns.sinks.bytes"] / gate["csv_bytes"] if writes else 0.0
    )
    m["odns.pipeline.rows_observed"] = gate["rows_per_pass"] if bench.workload == "ingest" else 0
    nulls = gate.get("typed_nulls", {})
    for c in TCP_COLUMNS:
        m[f"odns.ingest.typed_nulls.{c}"] = nulls.get(c, 0)

    # what the layer spans leave unexplained in each warm pass
    unaccounted = []
    for n in sorted(warm):
        wall_n = bench.pass_s[n - 1]
        if bench.workload == "ingest":
            inner = sum(dur(s) for s in t.select("odns.ingest.stage_decompress", {n}))
            inner += sum(dur(s) for s in t.select("odns.sinks.write", {n}))
        else:
            inner = sum(
                r["build_s"] + r["plan_s"] + r["execute_s"]
                for r in runs if r["pass"] == n
            )
        unaccounted.append(wall_n - inner)
    m["trace.warm_pass_s"] = statistics.median(bench.pass_s[1:])
    m["trace.unaccounted_s"] = statistics.median(unaccounted)
    units = {name: unit for name, unit, _ in LAYER_SPECS}
    if set(m) != set(units):
        raise KeyError(f"layer metric mismatch: {sorted(set(m) ^ set(units))}")
    return {name: (m[name], units[name]) for name, _, _ in LAYER_SPECS}


if __name__ == "__main__":
    sys.exit(main())
