#!/usr/bin/env python3
"""Runs the benchmark over many seeds and compares sets of runs.

    python3 perfbench/sweep.py run OUT.jsonl [--seeds 1-10] [--workload W ...] [--trace 0|1]
    python3 perfbench/sweep.py compare A.jsonl [B.jsonl]

`run` appends one JSON line per run ({"workload", "seed", "trace", "exit",
"elapsed_s", "result"}) to OUT.jsonl, using the command and run length in
BENCHMARK.json.

`compare` prints one row per workload and metric: the median and quartiles
of each set, the spread (quartile distance / median), and with two sets
whether they agree within the metric's bound in BENCHMARK.json: each set's
spread within the bound (setup_s exempt), and the second median not worse
than the first by more than the bound. When a set also holds traced runs,
it prints their median wall time against the untraced one.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def run(args):
    b = bench()
    names = args.workload or [w["name"] for w in b["workloads"]]
    with open(args.out, "a") as out:
        for seed in seeds(args.seeds):
            for name in names:
                cmd = b["command"] + ["--workload", name, "--seed", str(seed),
                                      "--seconds", str(b["run_seconds"]),
                                      "--trace", str(args.trace)]
                t = time.monotonic()
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
                elapsed = time.monotonic() - t
                lines = p.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                out.write(json.dumps({"workload": name, "seed": seed, "trace": args.trace,
                                      "exit": p.returncode, "elapsed_s": elapsed,
                                      "result": result}) + "\n")
                out.flush()
                print(f"{name} seed={seed} exit={p.returncode} elapsed={elapsed:.1f}s "
                      f"correct={result and result['correct']}", file=sys.stderr)


def load(path):
    """workload -> metric -> values, from the runs of a JSONL file (traced
    runs contribute their per-layer metrics)."""
    sets = {}
    for line in Path(path).read_text().splitlines():
        r = json.loads(line)
        if not r["result"]:
            continue
        for k, m in r["result"]["metrics"].items():
            sets.setdefault(r["workload"], {}).setdefault(k, []).append(m["value"])
    return sets


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(args):
    metrics = {m["name"]: m for m in bench()["end_to_end"]}
    sets = [load(p) for p in args.files]
    ok = True
    print(f"{'workload':12s} {'metric':16s} {'bound':>5s}  "
          + "  ".join(f"{'q1':>9s} {'median':>9s} {'q3':>9s} {'spread':>6s}" for _ in sets)
          + ("  verdict" if len(sets) == 2 else ""))
    for w in sorted(set().union(*sets)):
        for name, m in metrics.items():
            cols, meds, spreads = [], [], []
            for s in sets:
                vals = s.get(w, {}).get(name, [])
                if not vals:
                    cols.append(f"{'-':>9s} {'-':>9s} {'-':>9s} {'-':>6s}")
                    meds.append(None)
                    spreads.append(None)
                    continue
                q1, q2, q3 = quartiles(vals)
                spread = (q3 - q1) / q2 if q2 else float("inf")
                cols.append(f"{q1:9.4g} {q2:9.4g} {q3:9.4g} {spread:6.3f}")
                meds.append(q2)
                spreads.append(spread)
            line = f"{w:12s} {name:16s} {m['bound']:5.2f}  " + "  ".join(cols)
            if len(sets) == 2 and None not in meds:
                worse = ((meds[1] - meds[0]) / meds[0] if m["better"] == "lower"
                         else (meds[0] - meds[1]) / meds[0])
                steady = name == "setup_s" or all(sp <= m["bound"] for sp in spreads)
                agree = steady and worse <= m["bound"]
                ok &= agree
                line += f"  {'agree' if agree else 'DIFFER'} (worse by {worse:+.3f})"
            print(line)
        for i, s in enumerate(sets):
            traced, plain = s.get(w, {}).get("traced_wall_s"), s.get(w, {}).get("wall_s")
            if traced and plain:
                print(f"{w:12s} set {i + 1}: traced wall_s median {statistics.median(traced):.3f} s"
                      f" - untraced {statistics.median(plain):.3f} s = tracing overhead "
                      f"{statistics.median(traced) - statistics.median(plain):+.3f} s")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workload", action="append")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    c = sub.add_parser("compare")
    c.add_argument("files", nargs="+")
    args = ap.parse_args()
    if args.mode == "run":
        run(args)
    else:
        sys.exit(compare(args))


if __name__ == "__main__":
    main()
