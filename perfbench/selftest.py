#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 with a short schedule.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced through run.py and
asserts that each run completes with every output check passing, that
every metric is printed exactly once with its unit and that the JSON line
carries exactly the metrics BENCHMARK.json declares, and that every job a
traced request launched is parented to that request. Exits non-zero on the
first failed assertion.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LINE = re.compile(r"^(metric|layer) (\S+) = (\S+) (\S+)$")


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    where = f"{workload} trace={trace}"
    assert p.returncode == 0, f"{where}: exit {p.returncode}\n{p.stdout[-2000:]}{p.stderr[-2000:]}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, \
        f"{where}: {result}"
    printed = {}
    for line in lines[:-1]:
        m = LINE.match(line)
        if m:
            assert m.group(2) not in printed, f"{where}: {m.group(2)} printed twice"
            printed[m.group(2)] = m.group(4)
    return result, printed, lines


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            result, printed, lines = run(w, trace)
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w} trace={trace}: JSON metrics {got} != {want}"
            for name, unit in want.items():
                assert printed.get(name) == unit, f"{w}: {name} not printed with unit {unit}"
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            if trace:
                orphans = [line for line in lines if line.startswith("layer trace.orphan_jobs ")]
                assert orphans and float(orphans[0].split()[3]) == 0, \
                    f"{w}: jobs without a request parent: {orphans}"
            print(f"selftest ok: {w} trace={trace} ({len(printed)} metrics printed)")
    print("selftest passed")


if __name__ == "__main__":
    main()
