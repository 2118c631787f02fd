#!/usr/bin/env python3
"""Smoke check of the benchmark: every workload at sf0.001 with tiny run
lengths, untraced and traced.

    python3 perfbench/smoke.py [workload ...]

Asserts, for each run, that the last stdout line is the result object,
that every end-to-end (untraced) or per-layer (traced) metric of
BENCHMARK.json is printed with its unit and a finite number, and that
the output checks passed. Exits non-zero on the first failure.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["olap_mix", "cdc_ingest", "curation_batch"]


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
           "--factor", "1"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=1800)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(workload, trace, bench):
    res = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0, \
        f"{workload} trace={trace}: output checks failed: {res}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    section = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in bench[section]}
    assert set(res["metrics"]) == set(want), set(want) ^ set(res["metrics"])
    for name, m in res["metrics"].items():
        assert m["unit"] == want[name], (name, m)
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (name, m)
    print(f"ok {workload} trace={trace}: {len(want)} metrics, "
          f"{res['attempted']} attempted", flush=True)


def main(names):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in names or WORKLOADS:
        for trace in (0, 1):
            check(w, trace, bench)


if __name__ == "__main__":
    main(sys.argv[1:])
