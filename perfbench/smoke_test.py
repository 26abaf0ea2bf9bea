#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size.

    python3 perfbench/smoke_test.py

Runs every workload with ``--size tiny`` untraced and traced. Checks that
each run prints every metric it names, with its unit, that the last line
is the result object with the ``BENCHMARK.json`` metrics, and that the
outputs were correct. Then checks that a directory holding only
``BENCHMARK.json`` and ``perfbench/`` makes the benchmark fail without
a result. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import COMMON_NAMED, E2E, LAYERS, NAMED, NAMED_TRACED  # noqa: E402

LINE = re.compile(r"^(metric|e2e|layer) (\S+) (\S+) = (\S+) (\S+)$")


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(workload: str, trace: int, spec: dict) -> list:
    p = run(workload, trace)
    if p.returncode != 0:
        return [f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"]
    problems = []
    lines = p.stdout.strip().splitlines()
    printed = {}
    for line in lines:
        m = LINE.match(line)
        if m:
            printed[(m.group(1), m.group(3))] = m.group(5)
    wanted = [("metric", n, u) for n, u in COMMON_NAMED + NAMED[workload]]
    wanted += [("e2e", n, u) for n, u in E2E]
    if trace:
        wanted += [("metric", n, u) for n, u in NAMED_TRACED[workload]]
        wanted += [("layer", n, u) for n, u, *_ in LAYERS]
    for kind, name, unit in wanted:
        if printed.get((kind, name)) != unit:
            problems.append(f"{workload} trace={trace}: {kind} {name} not printed with unit {unit}")
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{workload} trace={trace}: result keys {sorted(res)}")
    key = "per_layer" if trace else "end_to_end"
    for m in spec[key]:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            problems.append(f"{workload} trace={trace}: result lacks {m['name']} [{m['unit']}]")
    if set(res["metrics"]) != {m["name"] for m in spec[key]}:
        problems.append(f"{workload} trace={trace}: result metrics differ from BENCHMARK.json")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        problems.append(f"{workload} trace={trace}: outputs not correct: "
                        + "; ".join(line for line in lines if line.startswith("FAILED")))
    return problems


def check_bare_directory() -> list:
    """Only BENCHMARK.json and perfbench/: exit non-zero, print no result."""
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run("pages_scan", 0, cwd=d)
        if p.returncode == 0 or p.stdout.strip():
            return [f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    problems = check_bare_directory()
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems += check_run(w["name"], trace, spec)
            print(f"checked {w['name']} trace={trace}", flush=True)
    for p in problems:
        print("PROBLEM", p)
    print("smoke test " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
