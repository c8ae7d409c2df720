#!/usr/bin/env python3
"""Smoke test and check self-test of the benchmark, at a tiny input size.

    python3 perfbench/selftest.py

1. Smoke: runs ``run.py --size tiny`` for every workload, untraced and
   traced, and requires a correct result whose metrics are exactly the
   ones ``BENCHMARK.json`` names, with only the ``-l fr,en`` export failing.
2. Self-test: runs every workload once more in this process, keeps the
   outputs, and requires each check to pass on them and to fail once an
   output is corrupted: a row dropped, a row duplicated, a referrer moved
   above its referent, a cell changed.

Takes about seven minutes; exits non-zero on the first failure.
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import shutil
import subprocess
import sys

import run as bench

BENCHMARK = os.path.join(bench.ROOT, "BENCHMARK.json")


def smoke() -> None:
    with open(BENCHMARK) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = subprocess.run(
                [sys.executable, os.path.join(bench.HERE, "run.py"),
                 "--workload", w["name"], "--seed", "11", "--seconds", "1",
                 "--trace", str(trace), "--size", "tiny"],
                cwd=bench.ROOT, check=True, capture_output=True, text=True)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            names = {m["name"] for m in spec[key]}
            assert res["correct"], (w["name"], trace, out.stderr[-2000:])
            assert set(res["metrics"]) == names, (set(res["metrics"]) ^ names)
            fails = 1 if w["name"] == "concept-dictionary" else 0
            rounds = res["attempted"] // 3 if fails else 0
            assert res["failed"] == fails * rounds, res
            print(f"smoke ok: {w['name']} trace={trace} "
                  f"attempted={res['attempted']} failed={res['failed']}")


def rewrite(path: str, edit) -> None:
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    rows = [rows[0]] + edit(rows[1:])
    with open(path, "w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows(rows)


def expect_failure(run, o, what: str, corrupt) -> None:
    """Corrupt a copy of the op's output, check it, restore it."""
    path = o["check"][-2] if o["check"][0] == "concepts" else o["check"][-1]
    backup = path + ".orig"
    shutil.copy(path, backup)
    try:
        corrupt(path)
        problems = bench.check_op(run, o, {})
        assert problems, f"{o['kind']}: check passed with {what}"
        print(f"self-test ok: {o['kind']} {what} -> {problems[0][:90]}")
    finally:
        shutil.move(backup, path)


def referrer_above_referent(run, o):
    """Moves the first row that has a present referent to the top."""
    import checks

    oracle = checks.ConceptOracle(o["check"][1], o["check"][2].split(","))
    path = o["check"][3]
    _, rows = checks.read_csv(path)
    present = {r["uuid"] for r in rows}
    parent = next(oracle.uuid_of[p] for p, c in oracle.edges
                  if oracle.uuid_of.get(p) in present
                  and oracle.uuid_of.get(c) in present)

    def edit(body):
        i = next(i for i, r in enumerate(body) if r[0] == parent)
        return [body[i]] + body[:i] + body[i + 1:]
    return lambda p: rewrite(p, edit)


def change_cell(body):
    body[len(body) // 2][2] += "x"
    return body


def self_test() -> None:
    args = argparse.Namespace(workload="selftest", seed=5, seconds=0,
                              trace=0, size="tiny")
    run = bench.Run(args)
    run.prepare()
    try:
        for fn in bench.WORKLOADS.values():
            fn(run)
        run.spark.stop()
        problems = bench.run_checks(run)
        assert not problems, problems
        for kind, error in (("full", "ValueError: x"),
                            ("fr", "ValueError: x")):
            o = next(x for x in run.ops if x["kind"] == kind)
            saved, o["error"] = o["error"], error
            assert bench.run_checks(run), f"{kind} raising {error} passed"
            o["error"] = saved
            print(f"self-test ok: {kind} raising {error} -> incorrect")
        first = {}
        for o in run.ops:
            if o["error"] is None and o["check"] is not None:
                first.setdefault(o["kind"], o)
        for kind, o in first.items():
            if kind == "checked":
                continue
            expect_failure(run, o, "a row dropped",
                           lambda p: rewrite(p, lambda b: b[:-1]))
            expect_failure(run, o, "a row duplicated",
                           lambda p: rewrite(p, lambda b: b + b[:1]))
            expect_failure(run, o, "a cell changed",
                           lambda p: rewrite(p, change_cell))
            if kind in ("full", "subset"):
                expect_failure(run, o, "a referrer above its referent",
                               referrer_above_referent(run, o))
        for name, (cols, rows) in list(run.query_results.items()):
            o = next(x for x in run.ops if x["check"]
                     and x["check"][0] == "query" and x["check"][2] == name)
            changed = [("x",) + tuple(rows[0])[1:]] + rows[1:]
            for what, bad in (("a row dropped", rows[:-1]),
                              ("a row duplicated", rows + rows[:1]),
                              ("a cell changed", changed)):
                run.query_results[name] = (cols, bad)
                assert bench.check_op(run, o, {}), (name, what)
            run.query_results[name] = (cols, rows)
            print(f"self-test ok: query {name}")
    finally:
        shutil.rmtree(run.work, ignore_errors=True)


if __name__ == "__main__":
    smoke()
    self_test()
    print("selftest passed")
