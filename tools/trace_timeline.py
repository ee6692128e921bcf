#!/usr/bin/env python3
"""Per-op timeline of a perfbench trace, grouped by call-site file.

A traced perfbench run (`perfbench/run.py ... --trace 1`) leaves
`perfbench/traces/<workload>-seed<N>.json`: `spans` (id, parent, kind,
name, start, end; epoch ms) and `jobs` (span, site such as
`collect at StatsOps.scala:43`, start, end, tasks, run_ms). For each op
span this prints one line per call-site file (the part of `site` after
" at ", before the line number): the file's first job start and last job
end (seconds from the op start), its job and task counts and its summed
task run time. A job of a child span (build, drain) counts for its op.
The op's header line gives its length, its jobs, and how much of it some
job was running (busy) or none was (gap).

The file whose last end is latest is what the op waited for last; in an
ingest wave that names the writer on the critical path.

Usage: tools/trace_timeline.py TRACE [--op NAME]
"""

import argparse
import json
from collections import defaultdict


def site_file(site):
    where = site.rsplit(" at ", 1)[-1]
    return where.split(":", 1)[0]


def busy_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total, cur_start, cur_end = 0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def op_of(spans):
    """Span id -> the id of its op ancestor (None outside every op)."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for sid in by_id:
        cur = by_id.get(sid)
        while cur is not None and cur["kind"] != "op":
            cur = by_id.get(cur["parent"])
        out[sid] = cur["id"] if cur is not None else None
    return out


def timeline(trace, only=None):
    spans = trace["spans"]
    ops = [s for s in spans if s["kind"] == "op" and (only is None or s["name"] == only)]
    owner = op_of(spans)
    jobs_by_op = defaultdict(list)
    for j in trace["jobs"]:
        jobs_by_op[owner.get(j["span"])].append(j)
    lines = []
    for op in sorted(ops, key=lambda s: s["start"]):
        t0 = op["start"]
        jobs = jobs_by_op[op["id"]]
        length = op["end"] - t0
        busy = busy_ms([(j["start"], j["end"]) for j in jobs])
        lines.append(f"{op['name']}: {length / 1000:.3f} s, {len(jobs)} jobs, "
                     f"busy {busy / 1000:.3f} s, gap {(length - busy) / 1000:.3f} s")
        groups = defaultdict(list)
        for j in jobs:
            groups[site_file(j["site"])].append(j)
        rows = sorted(groups.items(), key=lambda kv: min(j["start"] for j in kv[1]))
        width = max([len(f) for f, _ in rows] + [4])
        lines.append(f"  {'file':<{width}}  {'first':>7}  {'last':>7}  "
                     f"{'jobs':>4}  {'tasks':>5}  {'run_ms':>7}")
        for f, js in rows:
            first = (min(j["start"] for j in js) - t0) / 1000
            last = (max(j["end"] for j in js) - t0) / 1000
            lines.append(f"  {f:<{width}}  {first:>7.3f}  {last:>7.3f}  {len(js):>4}  "
                         f"{sum(j['tasks'] for j in js):>5}  "
                         f"{sum(j['run_ms'] for j in js):>7}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace", help="perfbench/traces/<workload>-seed<N>.json")
    ap.add_argument("--op", help="only the op span of this name")
    args = ap.parse_args()
    with open(args.trace) as f:
        trace = json.load(f)
    print("\n".join(timeline(trace, args.op)))


if __name__ == "__main__":
    main()
