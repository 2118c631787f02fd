#!/usr/bin/env python3
"""Sustainable-rate probe for cdc_ingest (not part of a benchmark run).

    python3 perfbench/probe.py --seed 1 --seconds 40 --rates 0.1,0.2,0.3,0.4

Runs cdc_ingest once per offered rate (files per second) and calls a
rate sustainable when the ingest lag does not grow through the run: the
lag of the last third of the files stays within half a generator period
of the first third's. The ceiling is the highest sustainable rate; the
workload's rate in spec.json is set near half of it. Writes the table to
perfbench/.out/rate_probe.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def probe(seed, seconds, rate):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "cdc_ingest",
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
                    "--rate", str(rate)],
                   check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(HERE, ".out", f"cdc_ingest-s{seed}-t0.json")) as f:
        r = json.load(f)
    lags = r["e2e"]["lag_by_file_s"]
    third = max(1, len(lags) // 3)
    growth = statistics.mean(lags[-third:]) - statistics.mean(lags[:third])
    return {"rate": rate, "files": len(lags), "growth_s": growth,
            "lag_p90_s": r["e2e"]["ingest_lag_p90_s"],
            "backlog_files_max": r["e2e"]["backlog_files_max"],
            "sustainable": growth < 0.5 / rate and r["e2e"]["error_rate"] == 0}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--rates", default="0.1,0.2,0.3,0.4")
    a = ap.parse_args()
    rows = []
    for rate in [float(x) for x in a.rates.split(",")]:
        row = probe(a.seed, a.seconds, rate)
        rows.append(row)
        print(json.dumps(row), flush=True)
    ok = [r["rate"] for r in rows if r["sustainable"]]
    out = {"seconds": a.seconds, "seed": a.seed, "runs": rows,
           "ceiling_files_per_s": max(ok) if ok else None}
    with open(os.path.join(HERE, ".out", "rate_probe.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(f"ceiling: {out['ceiling_files_per_s']} files/s")


if __name__ == "__main__":
    main()
