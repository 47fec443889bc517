"""Tiny-scale smoke check of the benchmark itself.

Runs every workload of ``BENCHMARK.json`` once untraced and once traced
at ``--tiny`` scale (one stream round, two DAG loads, the catalog list
once) and checks that

- the metric lists in ``BENCHMARK.json`` match the ones the code
  reports, names and units;
- each run exits 0 and its last line has exactly ``correct``,
  ``attempted``, ``failed`` and ``metrics``;
- every declared metric is printed with its unit and nothing else is;
- every output check passed.

It takes about six minutes on a 4-core host (343 s measured):
``python3 perfbench/run.py --smoke``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _check_result(result: dict, declared: list[tuple[str, str]]) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        problems.append(f"output checks failed: {result.get('failed')} operations")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        problems.append(f"attempted = {result.get('attempted')}")
    metrics = result.get("metrics", {})
    for name, unit in declared:
        m = metrics.get(name)
        if m is None:
            problems.append(f"missing metric {name}")
        elif m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            problems.append(f"metric {name} = {m}, want unit {unit}")
    extra = set(metrics) - {n for n, _ in declared}
    if extra:
        problems.append(f"undeclared metrics {sorted(extra)}")
    return problems


def main() -> int:
    from workloads import END_TO_END, PER_LAYER, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    problems = []
    if e2e != END_TO_END:
        problems.append("BENCHMARK.json end_to_end differs from workloads.END_TO_END")
    if layer != PER_LAYER:
        problems.append("BENCHMARK.json per_layer differs from workloads.PER_LAYER")
    names = [w["name"] for w in bench["workloads"]]
    if sorted(names) != sorted(WORKLOADS):
        problems.append(f"BENCHMARK.json workloads {names} != {sorted(WORKLOADS)}")

    for name in names:
        for trace, declared in ((0, e2e), (1, layer)):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"]
            t0 = time.time()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=900)
            label = f"{name} --trace {trace}"
            if proc.returncode != 0:
                problems.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            found = _check_result(result, declared)
            problems += [f"{label}: {p}" for p in found]
            print(f"{label}: {'ok' if not found else 'FAILED'} ({time.time() - t0:.0f} s)",
                  flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0
