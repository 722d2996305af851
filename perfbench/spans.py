"""Spans and counters recorded from outside the program.

The traced run installs :class:`Tracer` wrappers around the public
functions of each layer before the query modules are imported, so the
``from ... import`` bindings inside the package pick up the wrappers.
Spans (name, start, end, parent, run id) stay in memory and are written
out as one JSON file when the run ends. :func:`read_event_log` turns
Spark's own event log into per-job-group task totals.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

# (module, attribute, span name) wrapped in a traced run; names are the
# layer prefixes of the per-layer metrics
WRAPPED = [
    ("odns_dataimporter_spark.session", "get_spark", "session.get_spark"),
    ("odns_dataimporter_spark.registry", "all_queries", "registry.all_queries"),
    ("odns_dataimporter_spark.tables", "load_table", "tables.load_table"),
    ("odns_dataimporter_spark.odns.files", "get_data_path", "odns.files.discover"),
    ("odns_dataimporter_spark.odns.files", "most_recent_file_with_prefix", "odns.files.discover"),
    ("odns_dataimporter_spark.odns.files", "extract_file_date_from_name", "odns.files.discover"),
    ("odns_dataimporter_spark.odns.ingest", "stage_decompress", "odns.ingest.stage_decompress"),
    ("odns_dataimporter_spark.odns.ingest", "ingest_file", "odns.ingest.ingest_file"),
    ("odns_dataimporter_spark.odns.sinks", "write_snapshot_partitioned", "odns.sinks.write"),
]
SIZE_HINTS = "odns_dataimporter_spark.size_hints"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter() - self.t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` by a wrapper recording a span per call;
        ``after(rec, args, kwargs, result)`` may add attributes to it."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, fn=attr) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        setattr(module, attr, traced)

    def within(self, rec: dict, key: str):
        """Value of ``key`` on the nearest ancestor of ``rec`` carrying it."""
        while rec is not None:
            if key in rec:
                return rec[key]
            rec = self.spans[rec["parent"]] if rec["parent"] is not None else None
        return None

    def select(self, name: str, passes: set[int] | None = None) -> list[dict]:
        """Finished outermost spans named ``name`` (a call nested in a
        same-named call is part of it), optionally only those inside the
        given passes."""
        return [
            s for s in self.spans
            if s["name"] == name and "end" in s
            and (s["parent"] is None or self.spans[s["parent"]]["name"] != name)
            and (passes is None or self.within(s, "pass") in passes)
        ]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, **extra, "spans": self.spans}, f)


def _task_zero() -> dict:
    return {
        "stages": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0, "spill_bytes": 0, "peak_exec_mem_bytes": 0,
    }


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: completed stages and summed task metrics, parsed
    from Spark's JSON event log (uncompressed, one event per line)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(_task_zero)
    # Spark 4 writes a directory per application (eventlog_v2_*) holding
    # events_<n>_* files and an empty appstatus marker
    paths = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs if f.startswith("events_")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if not group or not m:
                        continue
                    rec = out[group]
                    rec["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics", {})
                    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    rec["peak_exec_mem_bytes"] = max(
                        rec["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
                    )
    return dict(out)
