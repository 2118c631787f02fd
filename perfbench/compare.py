#!/usr/bin/env python3
"""Compare two benchmark results side by side.

    python3 perfbench/compare.py perfbench/.out/olap_mix-s1-t0.json \
        perfbench/.out/olap_mix-s1-t1.json

Refuses (exit 2) when the two results differ in workload, core count,
Spark conf or input fingerprint: such numbers do not measure the same
thing. Given an untraced and a traced result of one seed, the
difference column is the tracing overhead.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def comparable(a, b):
    """Return the list of reasons the two results may not be compared."""
    why = []
    for key in ("workload", "cores", "params"):
        if a.get(key) != b.get(key):
            why.append(f"{key} differs: {a.get(key)} vs {b.get(key)}")
    if a.get("fingerprint") != b.get("fingerprint"):
        why.append("input fingerprints differ")
    conf_a, conf_b = a.get("conf", {}), b.get("conf", {})
    for k in sorted(set(conf_a) | set(conf_b)):
        if conf_a.get(k) != conf_b.get(k):
            why.append(f"conf {k} differs: {conf_a.get(k)} vs {conf_b.get(k)}")
    return why


def main(pa, pb):
    a, b = load(pa), load(pb)
    why = comparable(a, b)
    if why:
        print("refusing to compare:\n  " + "\n  ".join(why), file=sys.stderr)
        return 2
    print(f"{'metric':<22} {'A':>14} {'B':>14} {'B-A':>12} {'B/A':>8}")
    for k in sorted(set(a["e2e"]) & set(b["e2e"])):
        x, y = a["e2e"][k], b["e2e"][k]
        if isinstance(x, (int, float)) and isinstance(y, (int, float)) \
                and not isinstance(x, bool):
            ratio = f"{y / x:.3f}" if x else "-"
            print(f"{k:<22} {x:>14.4f} {y:>14.4f} {y - x:>12.4f} {ratio:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
