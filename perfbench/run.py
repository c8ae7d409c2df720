#!/usr/bin/env python3
"""Benchmark of the exporters and the headline registry queries.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the engine. Everything the run makes
(inputs, outputs, Spark scratch, event log) goes under ``.perfbench_work/``
in the checkout and is removed at the end. One Python process runs one
workload on ``local[<cpus available>]``:

* it generates the workload's inputs from ``--seed`` in a child process,
  so the generator's memory stays out of the measured process;
* it imports the engine and builds the session (``setup_s``);
* it runs whole rounds of the workload's operations: a first, cold round,
  then warm rounds until ``--seconds`` of warm rounds have passed (at least
  two);
* it stops the session, then checks every operation's output against
  values computed apart from the program (``checks.py``), untimed, and
  that no operation failed but the known ``-l fr,en`` export.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see README.md).
``--size tiny`` shrinks every input for the smoke test.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# The headline queries this benchmark runs, pinned here so that editing the
# registry's headline flags cannot change the workload. A subset of the
# registry's 35, since a warm pass over all 35 takes 40-75 s on 4 cores.
# Each stresses a different layer: a five-way join with shuffles (q5), the
# fused Arrow minhash kernel in Python workers, and a distributed graph
# fixpoint with pins.
HEADLINE = [
    "tpch_q5",
    "minhash_signatures",
    "connected_components_q",
]
HEADLINE_TABLES = ("region", "nation", "customer", "supplier", "orders",
                   "lineitem", "documents")

SIZES = {
    "full": {"concepts": 5_000, "fault_concepts": 300, "locations": 5_000},
    "tiny": {"concepts": 300, "fault_concepts": 120, "locations": 200},
}
FAULT_SEED = 0  # the -l fr,en export reads a dictionary fixed for all seeds

# -l fr,en raises this on every run (plans.graph, see README.md); any other
# failure of any operation makes the run incorrect
EXPECTED_FAILURE = ("fr", "CycleError")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
UNITS = {m["name"]: m["unit"]
         for key in ("end_to_end", "per_layer") for m in SPEC[key]}


class Run:
    """One benchmark process: its work directory, session and records."""

    def __init__(self, args):
        self.args = args
        self.size = SIZES[args.size]
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.ops: list[dict] = []  # id, kind, round, seconds, error, check

    # -- environment, inputs and session ----------------------------------

    def prepare(self) -> None:
        """Point every scratch path of Python and Spark into the work
        directory and turn on the event log for traced runs. Must run
        before the JVM starts."""
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "events", "out", "in"):
            os.makedirs(os.path.join(self.work, d))
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        import tempfile
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work,
                                                      "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        # Python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -XX:-UsePerfData",
        }
        # the JVMs would otherwise write /tmp/hsperfdata_<user>
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work,
                                                               "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell"

    def generate(self, script: str, out: str, *args: str) -> str:
        path = os.path.join(self.work, "in", out)
        t0 = time.perf_counter()
        subprocess.run([sys.executable, os.path.join(HERE, script), path,
                        *args], check=True)
        print(f"generated {out}: {time.perf_counter() - t0:.1f} s",
              file=sys.stderr)
        return path

    def start_session(self, modules: list[str]) -> float:
        """Import the workload's engine modules and build the session;
        returns the seconds taken."""
        import importlib

        t0 = time.perf_counter()
        for m in modules:
            importlib.import_module(m)
        from iniz_exporters_spark import session

        t1 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t1
        self.spark.sparkContext.setLogLevel("ERROR")
        setup = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.tracer = None
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.sc)
            self.tracer.install()
        return setup

    # -- operations ---------------------------------------------------------

    def op(self, kind: str, rnd: int, fn, check=None) -> dict:
        """Run one operation under its own job group and time it. An
        exception marks the operation failed; ``check`` is kept to run
        after the window."""
        op_id = f"op{len(self.ops):04d}"
        self.sc.setLocalProperty("spark.jobGroup.id", op_id)
        rec = {"id": op_id, "kind": kind, "round": rnd, "error": None,
               "check": check}
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:200]}"
        rec["seconds"] = time.perf_counter() - t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append(rec)
        print(f"{op_id} round {rnd} {kind}: {rec['seconds']:.3f} s"
              + (" (failed)" if rec["error"] else ""), file=sys.stderr)
        return rec

    def rounds(self, one_round) -> None:
        """A cold round, then warm rounds for --seconds, at least two: a
        lone warm round still runs partly unoptimised JVM code and reads
        15-30 % apart between runs."""
        one_round(0)
        t0 = time.perf_counter()
        rnd = 1
        while rnd <= 2 or time.perf_counter() - t0 < self.args.seconds:
            one_round(rnd)
            rnd += 1

    def span(self, layer: str):
        """A tracer span in traced runs, else nothing."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer)

    def out(self, name: str) -> str:
        return os.path.join(self.work, "out", name)


# -- workloads --------------------------------------------------------------

def concept_dictionary(run: Run) -> dict:
    """Per round: a full export (-l en,es,fr), a subset export (-c <set>)
    of a tree of tens of concepts, and the -l fr,en export, which fails
    today. The -l fr,en export runs in every round so that the failed
    share is the same however many rounds a run fits."""
    seed = run.args.seed
    d = run.generate("gen_dictionary.py", "dictionary", "--seed", str(seed),
                     "--concepts", str(run.size["concepts"]))
    fault = run.generate("gen_dictionary.py", "fault-dictionary",
                         "--seed", str(FAULT_SEED), "--concepts",
                         str(run.size["fault_concepts"]))
    with open(os.path.join(d, "subset_root.json")) as f:
        root = json.load(f)
    setup = run.start_session(["iniz_exporters_spark.cli",
                               "iniz_exporters_spark.exporters.concepts"])
    from iniz_exporters_spark import cli

    def export(tables, locales, outfile, root=None):
        argv = ["openmrs", "--tables-dir", tables, "-l", locales,
                "-o", outfile]
        return lambda: cli.concepts_main(argv + (["-c", root] if root
                                                 else []))

    def one_round(rnd):
        full = run.out(f"full-{rnd}.csv")
        run.op("full", rnd, export(d, "en,es,fr", full),
               ("concepts", d, "en,es,fr", full, None))
        sub = run.out(f"subset-{rnd}.csv")
        run.op("subset", rnd, export(d, "en,es,fr", sub, root),
               ("concepts", d, "en,es,fr", sub, root))
        fr = run.out(f"fr-{rnd}.csv")
        run.op("fr", rnd, export(fault, "fr,en", fr),
               ("concepts", fault, "fr,en", fr, None))

    run.rounds(one_round)
    return {"setup_s": setup, "main": ("full",), "light": ("subset",)}


def facility_and_queries(run: Run) -> dict:
    """One metadata refresh and one pass over the pinned headline queries
    per round. The refresh is the locations export, then the order-type
    and location-tree exports through the CSV sink. The first round's
    queries are collected and compared with the registry's DuckDB oracles
    after the window; later rounds write them to the noop sink."""
    seed = str(run.args.seed)
    d = run.generate("gen_facility.py", "facility", "--seed", seed,
                     "--locations", str(run.size["locations"]))
    q = run.generate("gen_tables.py", "tables", "--seed", seed)
    setup = run.start_session(["iniz_exporters_spark.cli",
                               "iniz_exporters_spark.exporters.hierarchy",
                               "iniz_exporters_spark.sources.csv_sink",
                               "iniz_exporters_spark.queries"])
    from iniz_exporters_spark import cli
    from iniz_exporters_spark.exporters import hierarchy
    from iniz_exporters_spark.queries import REGISTRY
    from iniz_exporters_spark.sources import csv_sink

    missing = [n for n in HEADLINE if n not in REGISTRY]
    if missing:
        raise SystemExit(f"headline queries missing from the registry: "
                         f"{missing}")
    run.query_results = {}

    def sql_export(fn, table, outfile):
        def go():
            df = run.spark.read.parquet(os.path.join(d, f"{table}.parquet"))
            csv_sink.write_single_csv(getattr(hierarchy, fn)(df), outfile)
        return go

    def query(name, checked):
        def go():
            with run.span("queries.frame_build"):
                df = REGISTRY[name].fn(run.spark, q)
            if checked:
                run.query_results[name] = (df.columns, df.collect())
                return
            with run.span("queries.execute"):
                df.write.format("noop").mode("overwrite").save()
        return go

    def release():
        # drop what the query pinned, as each query is its own job
        for jrdd in list(run.sc._jsc.getPersistentRDDs().values()):
            jrdd.unpersist()
        run.spark.catalog.clearCache()

    def one_round(rnd):
        loc = run.out(f"locations-{rnd}.csv")
        run.op("locations", rnd, lambda: cli.locations_main(
            ["openmrs", "--tables-dir", d, "-o", loc]),
            ("locations", d, loc))
        ot = run.out(f"ordertypes-{rnd}.csv")
        run.op("ordertypes", rnd,
               sql_export("ordertypes_sql_export", "order_type", ot),
               ("order_types", d, ot))
        tree = run.out(f"location-tree-{rnd}.csv")
        run.op("location_tree", rnd,
               sql_export("locations_sql_export", "location", tree),
               ("location_tree", d, tree))
        for name in HEADLINE:
            if rnd == 0:
                run.op("checked", 0, query(name, True), ("query", q, name))
            else:
                run.op("query", rnd, query(name, False))
            release()

    run.rounds(one_round)
    return {"setup_s": setup,
            "main": ("locations", "ordertypes", "location_tree"),
            "light": ("query",)}


WORKLOADS = {
    "concept-dictionary": concept_dictionary,
    "facility-and-queries": facility_and_queries,
}


# -- metrics -----------------------------------------------------------------

def end_to_end(run: Run, info: dict, peak_rss_mb: float) -> dict:
    """Per round, the seconds of the main operations, of the light ones and
    of all; cold is round 0's main operations, the warm figures are medians
    over the other rounds."""
    sums = {k: {} for k in ("main", "light", "round")}
    for o in run.ops:
        for k in sums:
            if k == "round" or o["kind"] in info[k]:
                sums[k][o["round"]] = sums[k].get(o["round"], 0.0) + \
                    o["seconds"]

    def warm(k):
        return statistics.median(s for r, s in sums[k].items() if r > 0)
    return {
        "setup_s": info["setup_s"],
        "cold_op_s": sums["main"][0],
        "warm_op_s": warm("main"),
        "light_op_s": warm("light"),
        "round_s": warm("round"),
        "python_peak_rss_mb": peak_rss_mb,
    }


# per-layer metrics read from the Spark jobs a layer's span fired
LAYER_JOBS = {
    "concepts.collect": ("spark.job_wall_s", "concepts.collect_job_s"),
    "locations.build": ("spark.jobs", "locations.build_jobs"),
    "csv_sink.write": ("spark.jobs", "csv_sink.jobs"),
    "queries.frame_build": ("spark.jobs", "queries.frame_build_jobs"),
}


def per_layer(run: Run, events: dict, intervals: dict) -> dict:
    """Each per-layer metric is the median over the warm rounds of the
    round's total; ``queries.warmup_s`` and ``session.get_spark_s`` are
    the checked pass and the session build."""
    from tracing import union_seconds

    by_round = []
    for rnd in sorted({o["round"] for o in run.ops if o["round"] > 0}):
        ops = [o for o in run.ops if o["round"] == rnd]
        ids = {o["id"] for o in ops}
        m = run.tracer.layer_totals(ids)
        job_wall = 0.0
        for o in ops:
            job_wall += union_seconds(
                [iv for g, ivs in intervals.items()
                 if g.split("/")[0] == o["id"] for iv in ivs])
        for group, vals in events.items():
            op, _, layer = group.partition("/")
            if op not in ids:
                continue
            for k, v in vals.items():
                if k != "spark.job_wall_s":
                    m[k] += v
            if layer in LAYER_JOBS:
                src, dst = LAYER_JOBS[layer]
                m[dst] += vals.get(src, 0.0)
        m["spark.job_wall_s"] = job_wall
        m["python.outside_jobs_s"] = sum(o["seconds"] for o in ops) - job_wall
        m["concepts.collect_transfer_s"] = (m["concepts.collect_s"]
                                            - m["concepts.collect_job_s"])
        m["concepts.python_rest_s"] = m["concepts.export_s"] - sum(
            m[k] for k in ("concepts.build_wide_s", "concepts.collect_s",
                           "graph.reachable_s", "graph.cycles_s",
                           "graph.topo_s"))
        by_round.append(m)
    out = {m["name"]: statistics.median(r[m["name"]] for r in by_round)
           for m in SPEC["per_layer"]}
    collected = sum(m["concepts.rows_collected"] for m in by_round)
    out["concepts.rows_written_per_collected"] = (
        sum(m["concepts.rows_written"] for m in by_round) / collected
        if collected else 0.0)
    out["session.get_spark_s"] = run.get_spark_s
    out["queries.warmup_s"] = sum((o["seconds"] for o in run.ops
                                   if o["kind"] == "checked"), 0.0)
    return out


# -- checks ------------------------------------------------------------------

def check_op(run: Run, o: dict, oracles: dict) -> list[str]:
    """The problems with one completed operation's output; ``oracles``
    caches the expected values per input across operations."""
    import checks

    kind, *args = o["check"]
    if kind == "concepts":
        tables, locales, path, root = args
        if (tables, locales) not in oracles:
            oracles[tables, locales] = checks.ConceptOracle(
                tables, locales.split(","))
        return oracles[tables, locales].check(path, root)
    if kind == "query":
        tables, name = args
        if "queries" not in oracles:
            oracles["queries"] = checks.QueryOracle(tables, HEADLINE_TABLES)
        return oracles["queries"].check(name, *run.query_results[name])
    tables, path = args
    if "facility" not in oracles:
        oracles["facility"] = checks.FacilityOracle(tables)
    fac = oracles["facility"]
    return fac.check(path, getattr(fac, kind))


def run_checks(run: Run) -> list[str]:
    """Check every operation that completed and that every failure is the
    expected one; returns the problems."""
    oracles: dict = {}
    problems = []
    for o in run.ops:
        if o["error"] is not None:
            if (o["kind"], o["error"].split(":")[0]) != EXPECTED_FAILURE:
                problems.append(f"{o['id']} {o['kind']}: raised {o['error']}")
        elif o["check"] is not None:
            problems += [f"{o['id']} {o['kind']}: {p}"
                         for p in check_op(run, o, oracles)]
    return problems


def stop_jvm() -> None:
    """End the session's JVM and wait for it. PySpark leaves the JVM to
    exit on its own once this process is gone; the Python workers end with
    the session."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "iniz_exporters_spark")):
        print(f"no engine package under {ROOT}: run from a checkout of the "
              "engine", file=sys.stderr)
        return 2

    run = Run(args)
    run.prepare()
    try:
        info = WORKLOADS[args.workload](run)
        peak_rss_mb = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024
        run.spark.stop()
        if args.trace:
            from tracing import find_event_log, parse_event_log

            events, intervals = parse_event_log(find_event_log(
                os.path.join(run.work, "events")))
            metrics = per_layer(run, events, intervals)
            print(json.dumps({"traced_end_to_end": end_to_end(
                run, info, peak_rss_mb)}))
        else:
            metrics = end_to_end(run, info, peak_rss_mb)
        t0 = time.perf_counter()
        problems = run_checks(run)
        print(f"checks: {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    finally:
        stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)
    for o in run.ops:
        if o["error"]:
            print(f"failed {o['id']} {o['kind']}: {o['error']}",
                  file=sys.stderr)
    for pr in problems:
        print(f"check: {pr}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": len(run.ops),
        "failed": sum(o["error"] is not None for o in run.ops),
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
