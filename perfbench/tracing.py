"""Per-layer tracing for the traced run (``--trace 1``).

Two sources, both set up from the benchmark's own files:

* **Spans** around calls into the engine's public functions. ``Tracer``
  replaces module attributes with timing wrappers; while a wrapped call
  runs, the Spark job group is ``<op>/<layer>`` so that the jobs it fires
  can be told apart from the operation's other jobs.
* **Spark's event log**, switched on by the launch settings in ``run.py``
  (uncompressed, not rolled). ``parse_event_log`` reads it after the
  session stops and attributes jobs, stages and task metrics to job
  groups.

Every operation runs under the job group ``<op>`` set by ``run.py`` in
traced and untraced runs alike.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Collects spans (op, layer, seconds) and counts (op, name, value)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[str, str, float]] = []
        self.counts: list[tuple[str, str, float]] = []
        self.stack: list[str] = []

    def op(self) -> str:
        return self.sc.getLocalProperty(GROUP_KEY).split("/")[0]

    @contextmanager
    def span(self, layer: str):
        op = self.op()
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"{op}/{layer}")
        t0 = time.perf_counter()
        try:
            yield op
        finally:
            self.spans.append((op, layer, time.perf_counter() - t0))
            self.sc.setLocalProperty(GROUP_KEY, prev)

    def count(self, name: str, value: float) -> None:
        self.counts.append((self.op(), name, value))

    def wrap(self, module, name: str, layer: str, after=None) -> None:
        """Replace ``module.name`` by a wrapper that records a span and,
        if given, calls ``after(result)`` outside the span."""
        orig = getattr(module, name)

        def wrapper(*args, **kwargs):
            with self.span(layer):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        setattr(module, name, wrapper)

    def install(self) -> None:
        """Wrap the public functions of every layer the workloads use."""
        from iniz_exporters_spark import cli, pinning
        from iniz_exporters_spark.exporters import concepts, hierarchy
        from iniz_exporters_spark.exporters import locations
        from iniz_exporters_spark.plans import graph
        from iniz_exporters_spark.sources import csv_sink

        def traced_collect(df):
            collect = df.collect

            def wrapper():
                with self.span("concepts.collect"):
                    rows = collect()
                self.count("concepts.rows_collected", len(rows))
                return rows

            df.collect = wrapper
            return df

        orig_build = concepts.build_concepts_wide

        def build(*args, **kwargs):
            with self.span("concepts.build_wide"):
                df = orig_build(*args, **kwargs)
            return traced_collect(df)

        concepts.build_concepts_wide = build
        self.wrap(cli, "load_tables", "cli.load_tables")
        self.wrap(concepts, "export_concepts", "concepts.export",
                  lambda out: self.count("concepts.rows_written",
                                         len(out[1])))
        self.wrap(graph, "get_all_concepts_in_tree", "graph.reachable")
        self.wrap(graph, "detect_cycles_rows", "graph.cycles")
        self.wrap(graph, "move_referring_concepts_down", "graph.topo")
        self.wrap(locations, "build_locations_export", "locations.build")
        self.wrap(hierarchy, "ordertypes_sql_export", "hierarchy.export")
        self.wrap(hierarchy, "locations_sql_export", "hierarchy.export")
        self.wrap(csv_sink, "write_single_csv", "csv_sink.write")
        # pin is bound by name in every module that imported it
        orig_pin = pinning.pin
        self.wrap(pinning, "pin", "pinning.pin",
                  lambda out: self.count("pinning.pins", 1))
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("iniz_exporters_spark")
                    and getattr(mod, "pin", None) is orig_pin):
                mod.pin = pinning.pin

    def layer_totals(self, ops: set[str]) -> dict[str, float]:
        """Summed span seconds and counts over ``ops``, by name."""
        out: dict[str, float] = defaultdict(float)
        for op, layer, secs in self.spans:
            if op in ops:
                out[layer + "_s"] += secs
        for op, name, value in self.counts:
            if op in ops:
                out[name] += value
        return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


# Spark 4.1 task accumulables of the Python worker boundary, all in
# milliseconds or bytes. "initialize" is the worker's wall from taking the
# task to starting the kernel; a reused worker counts its idle wait in it,
# so it can exceed the task's run time.
WORKER_ACCUMS = {
    "time to start Python workers": ("worker.boot_s", 1e-3),
    "time to initialize Python workers": ("worker.init_s", 1e-3),
    "time to run Python workers": ("worker.run_s", 1e-3),
    "data sent to Python workers": ("worker.bytes_in", 1),
    "data returned from Python workers": ("worker.bytes_out", 1),
}


def parse_event_log(path: str) -> tuple[dict, dict]:
    """({job group: {metric: value}}, {job group: [(start, end)]}) from an
    uncompressed event log; times are epoch seconds.

    A stage is attributed to the first job that lists it; skipped stages
    run no tasks and are not counted. ``spark.job_wall_s`` is the union of
    the group's job intervals, so concurrent jobs are not counted twice.
    """
    job_group, job_start, job_end, stage_job = {}, {}, {}, {}
    per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list] = defaultdict(list)
    with open(path, encoding="utf-8") as f:
        events = [json.loads(line) for line in f if line.strip()]
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_group[jid] = (e.get("Properties") or {}).get(GROUP_KEY) or ""
            job_start[jid] = e["Submission Time"] / 1000
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"] / 1000
    for jid, group in job_group.items():
        per[group]["spark.jobs"] += 1
        if jid in job_end:
            intervals[group].append((job_start[jid], job_end[jid]))
    for group, iv in intervals.items():
        per[group]["spark.job_wall_s"] = union_seconds(iv)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                per[job_group[stage_job[sid]]]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_job:
                continue
            m = per[job_group[stage_job[sid]]]
            m["spark.tasks"] += 1
            tm = e.get("Task Metrics") or {}
            m["spark.task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            m["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written",
                                                     0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                spec = WORKER_ACCUMS.get(acc.get("Name"))
                if spec and acc.get("Update") is not None:
                    m[spec[0]] += float(acc["Update"]) * spec[1]
    return per, intervals


def find_event_log(log_dir: str) -> str:
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, name)
