#!/usr/bin/env python3
"""Self time per layer from a traced run's spans.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 1
    python3 perfbench/spans.py perfbench/.out/olap_mix-s1.spans.jsonl

A span's self time is its duration minus the part of it its child spans
cover. Spans are grouped by layer: the span name with its `:<detail>`
suffix removed (`op:q1_agg` -> `op`, `batch:7` -> `batch`). Prints, per
layer, the span count, total and self seconds, and self share of the
root spans' total.
"""
import collections
import json
import sys


def self_times(spans):
    """Yield (span, self_ns) for every span."""
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    for s in spans:
        covered, cursor = 0, s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], cursor), min(c["end_ns"], s["end_ns"])
            if b > a:
                covered += b - a
                cursor = b
        yield s, (s["end_ns"] - s["start_ns"]) - covered


def layer(name):
    return name.split(":", 1)[0]


def main(path):
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    roots = sum(s["end_ns"] - s["start_ns"] for s in spans if s["parent"] == 0)
    agg = collections.defaultdict(lambda: [0, 0, 0])
    for s, own in self_times(spans):
        a = agg[layer(s["name"])]
        a[0] += 1
        a[1] += s["end_ns"] - s["start_ns"]
        a[2] += own
    print(f"{'layer':<12} {'spans':>6} {'total_s':>10} {'self_s':>10} {'self_share':>10}")
    for name, (n, tot, own) in sorted(agg.items(), key=lambda kv: -kv[1][2]):
        print(f"{name:<12} {n:>6} {tot / 1e9:>10.3f} {own / 1e9:>10.3f} "
              f"{own / max(1, roots):>10.1%}")


if __name__ == "__main__":
    main(sys.argv[1])
