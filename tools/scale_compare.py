#!/usr/bin/env python3
"""Compare two graft.Bench output files (small sf vs k-times sf).

Usage: scale_compare.py SMALL.json BIG.json [k]

Each file is a Bench run's full JSON (`SPARK_GRAFT_BENCH_OUT`, default
bench_out.json), both over the same query names, one with
SPARK_GRAFT_SF_DIR at an sf dir and one at its graft.ScaleGen k-times copy.

Prints a per-query table of seconds at both scales and the measured
time ratio, plus the implied scaling exponent log(ratio)/log(k) —
exponent 1.0 is linear, <1 sub-linear, >1 super-linear. Also diffs the
shared-artifact build seconds and the driver-heap evidence.
"""
import json
import math
import sys


def load(path):
    with open(path) as f:
        return json.loads(f.read())


def main():
    small, big = load(sys.argv[1]), load(sys.argv[2])
    k = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    qs = sorted(set(small["queries"]) & set(big["queries"]))
    print(f"{'query':<24} {'small_s':>8} {'big_s':>8} {'ratio':>7} {'exp':>6}")
    for q in qs:
        a, b = small["queries"][q], big["queries"][q]
        if a <= 0 or b <= 0:
            print(f"{q:<24} {a:>8.3f} {b:>8.3f}   FAILED")
            continue
        ratio = b / a
        exp = math.log(ratio) / math.log(k)
        flag = "  <-- super-linear" if ratio > k * 1.15 else ""
        print(f"{q:<24} {a:>8.3f} {b:>8.3f} {ratio:>7.2f} {exp:>6.2f}{flag}")
    print()
    arts = sorted(set(small.get("artifacts", {})) | set(big.get("artifacts", {})))
    shown = 0
    for a in arts:
        s = small.get("artifacts", {}).get(a, {}).get("secs", 0.0)
        b = big.get("artifacts", {}).get(a, {}).get("secs", 0.0)
        if max(s, b) < 0.5:
            continue
        r = (b / s) if s > 0 else float("inf")
        print(f"artifact {a:<40} {s:>8.2f} -> {b:>8.2f}  x{r:.2f}")
        shown += 1
    if not shown:
        print("(no artifact builds above 0.5s)")
    print()
    print(f"artifact_build_secs: {small.get('artifact_build_secs')} -> "
          f"{big.get('artifact_build_secs')}")
    for key in ("heap_start_mb", "heap_end_mb", "heap_peak_mb"):
        print(f"{key}: {small.get(key)} -> {big.get(key)}")


if __name__ == "__main__":
    main()
