#!/usr/bin/env python3
"""Layered end-to-end benchmark of the graft ETL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark's Scala code from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Each run generates its inputs from
the seed, starts one JVM on local[nproc], sets up, times the workload's fixed
op sequence through the program's public entry points, checks the outputs and
prints one JSON line. With --trace 1 the run is the same, once, with a Spark
listener attached to the timed sequence, and the line carries the per-layer
metrics instead of the end-to-end ones. Workload sizes, the query list and the
metric map are in perfbench/spec.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM = ROOT / "src" / "main"
BUILD_DIR = HERE / "target"
STAMP = BUILD_DIR / "perfbench-classpath.json"
SPEC = json.loads((HERE / "spec.json").read_text())
LAYERS = ["pipeline", "sources", "ops", "ext", "entry", "exec"]
COUNTERS = ["jobs", "tasks", "job_s", "task_run_s", "task_cpu_s", "gc_s",
            "records_read", "records_written", "write_mb", "shuffle_write_mb",
            "spill_mb"]
RUN_DEADLINE_S = 170.0  # from the end of the build to the JVM's exit
HEAP = "-Xmx3g"
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(p for d in (PROGRAM, HERE / "src") for p in d.rglob("*") if p.is_file())
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Classpath of the built program and benchmark code; builds when the
    sources changed."""
    stamp = source_stamp()
    if STAMP.exists():
        cached = json.loads(STAMP.read_text())
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building the program and the benchmark's Scala code with sbt")
    env = dict(os.environ)
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        raise BenchError("SPARK_HOME must name a Spark installation (with jars/)")
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    tmp = BUILD_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
             f"-J-Djava.io.tmpdir={tmp}", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=800)
    except subprocess.TimeoutExpired as e:
        raise BenchError("sbt build timed out") from e
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError(f"sbt build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    STAMP.write_text(json.dumps({"stamp": stamp, "classpath": cp}))
    return cp


def file_layers():
    """Source file name -> layer, from the program's package layout."""
    pkg_layer = {"pipeline": "pipeline", "sources": "sources", "ops": "ops",
                 "ext": "ext", "functions": "exec", "plans": "exec",
                 "streaming": "pipeline"}
    out = {}
    for p in sorted((PROGRAM / "scala" / "graft").rglob("*.scala")):
        rel = p.relative_to(PROGRAM / "scala" / "graft").parts
        layer = "entry" if len(rel) == 1 else pkg_layer.get(rel[0], "entry")
        out.setdefault(p.name, layer)
    for p in (HERE / "src").rglob("*.scala"):
        out.setdefault(p.name, "exec")
    return out


# ---------------------------------------------------------------- inputs

def stamp_of(us):
    return str(np.datetime64(int(us), "us")).replace("T", " ")[:19]


def n_ops(cfg, seconds):
    return max(cfg["min_ops"], round(cfg["ops_per_s"] * seconds))


def plan_etl_cron(rng, c, seconds, inp, plan):
    """Events for `days` days; the mart is pre-built up to the first timed
    window, then half-hour windows follow. `replays` of them, at seeded
    places after the second, re-run a seeded earlier window."""
    day0 = gen.day_us(c["first_day"])
    ev = gen.events(rng, day0, c["days"], c["rows_per_day"])
    gen.write(ev, f"{inp}/events.parquet")
    ts = ev["ts"].cast("int64").to_numpy()
    last = day0 + (c["days"] - 1) * gen.DAY_US
    first_window = last + c["prebuilt_hours_of_last_day"] * 3_600_000_000
    step = c["window_minutes"] * 60_000_000
    total = n_ops(c, seconds)
    replay_at = set(int(i) for i in rng.choice(np.arange(2, total), c["replays"], replace=False))
    windows, fresh = [], 0
    for i in range(total):
        replay = i in replay_at
        j = int(rng.integers(0, fresh)) if replay else fresh
        s, e = first_window + j * step, first_window + (j + 1) * step
        windows.append({"start": stamp_of(s), "end": stamp_of(e),
                        "run_id": f"w{j:03d}" + (f"_replay{i}" if replay else ""),
                        "rows": gen.count_in(ts, s, e)})
        if not replay:
            fresh += 1
    if fresh * step > gen.DAY_US - (first_window - last):
        raise BenchError("etl_cron: windows run past the last generated day")
    plan.update(prebuild={"start": stamp_of(day0), "end": stamp_of(first_window)},
                windows=windows, covered_start=stamp_of(day0),
                covered_end=stamp_of(first_window + fresh * step),
                warmup=warm_windows(inp, rng, c))
    return int(sum(w["rows"] for w in windows))


def warm_windows(inp, rng, c):
    """Warm-up windows over separate events (a later month): the first
    writes a new mart, the rest merge into it."""
    d = f"{inp}/warm"
    os.makedirs(d)
    day0 = gen.day_us("2024-03-01")
    step = c["window_minutes"] * 60_000_000
    n = c["warmup_windows"]
    days = -(-n * step // gen.DAY_US)
    gen.write(gen.events(rng, day0, days, c["rows_per_day"], first_id=10**9),
              f"{d}/events.parquet")
    return [{"input": d, "start": stamp_of(day0 + i * step),
             "end": stamp_of(day0 + (i + 1) * step)} for i in range(n)]


def plan_llm_ingest(rng, c, seconds, inp, plan):
    """A base corpus and waves of documents drawn by a seeded permutation.
    Each wave gets the same number of exact copies of admitted base text and
    of a smaller-id document in the same wave, so every wave runs the
    near-dup and clustering paths; the expected admission report of each
    wave goes into the plan."""
    docs, emb = gen.documents(rng, c["documents"], c["embeddings"], copy_share=0.0)
    texts = docs["text"].to_pylist()
    n_waves = n_ops(c, seconds)
    base = list(range(c["base_documents"]))
    rest = rng.permutation(np.arange(c["base_documents"], c["documents"]))
    per = c["wave_documents"]
    if n_waves * per > len(rest):
        raise BenchError("llm_ingest: not enough documents for the waves")
    waves = [sorted(int(i) for i in rest[k * per:(k + 1) * per]) for k in range(n_waves)]
    originals = [i for i in base if gen.gate_keeps(texts[i])]
    k = c["copies_per_wave"]
    for w in waves:
        ids = [int(i) for i in rng.permutation(w[1:])]
        for i in ids[:k]:
            texts[i] = texts[originals[rng.integers(0, len(originals))]]
        for i in ids[k:2 * k]:
            earlier = [j for j in w if j < i and gen.gate_keeps(texts[j])]
            if earlier:
                texts[i] = texts[earlier[rng.integers(0, len(earlier))]]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(texts))
    docs = docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pa.array([len(t) for t in texts], pa.int64()))
    table = gen.with_embedding(docs, emb)
    gen.write(table.take(base), f"{inp}/base.parquet")
    for k, w in enumerate(waves):
        gen.write(table.take(w), f"{inp}/wave_{k + 1}.parquet")
    expected = gen.dispositions(texts, base, waves)
    plan["waves"] = [{"expected": {str(k): v for k, v in e.items()}} for e in expected]
    return n_waves * per


def plan_query_mix(rng, c, seconds, inp, plan):
    """The fixed sf0.1 dataset; the seed orders the queries."""
    gen.sf_dataset(c["data_seed"], inp)
    passes = max(1, round(n_ops(c, seconds) / len(c["queries"])))
    order = []
    for _ in range(passes):
        order += [c["queries"][i] for i in rng.permutation(len(c["queries"]))]
    plan.update(order=order, queries=c["queries"], out=f"{plan['work']}/out")
    return None


PLANNERS = {"etl_cron": plan_etl_cron, "llm_ingest": plan_llm_ingest,
            "query_mix": plan_query_mix}


# ---------------------------------------------------------------- checks

def canon(v):
    """Value canonicalization of tools/check_oracle.py (the DuckDB oracle
    gate): floats to 10 significant digits, everything else via str()."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return str(v)


def output_hash(con, sql):
    df = con.sql(sql).df()
    cols = sorted(df.columns)
    h = hashlib.sha256(json.dumps(cols).encode())
    rows = df[cols].values.tolist()
    for row in rows:
        h.update(("\x1f".join(canon(x) for x in row) + "\n").encode())
    return len(rows), h.hexdigest()


def query_mismatches(out_dir, names, expected):
    """Queries whose program output differs from the DuckDB oracle hash kept
    in perfbench/oracle_hashes.json."""
    import duckdb
    con = duckdb.connect()
    bad = {}
    for name in names:
        want = expected.get(name)
        try:
            got = output_hash(con, f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
        except Exception as e:  # unreadable output is a failed query
            got = (None, str(e)[:200])
        if want is None or [want["rows"], want["sha256"]] != list(got):
            bad[name] = f"rows/hash {got} != oracle {want}"
    return bad


# ---------------------------------------------------------------- metrics

def quantile(values, q):
    """Harrell-Davis estimate of the q-quantile (0 < q < 1) of the op times:
    the mean of the sorted values weighted by a Beta((n+1)q, (n+1)(1-q))
    distribution over their ranks. When one op changes rank, the estimate
    moves by part of the gap to its neighbour, where a single order
    statistic would jump across all of it."""
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)  # both > 1 for n >= 2, q in [0.5, 0.9]
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def cdf(x):  # Simpson's rule over the Beta density, which is 0 at t = 0
        if x >= 1:
            return 1.0
        steps = 2000
        h = x / steps
        f = [math.exp(log_norm + (a - 1) * math.log(i * h) + (b - 1) * math.log1p(-i * h))
             for i in range(1, steps + 1)]
        return h / 3 * (sum(4 * v for v in f[0:-1:2]) + sum(2 * v for v in f[1:-1:2]) + f[-1])

    edges = [0.0] + [cdf(i / n) for i in range(1, n + 1)]
    return sum((edges[i + 1] - edges[i]) * x for i, x in enumerate(xs))


def end_to_end(res, phase, rows, p):
    secs = [op["s"] for op in phase["ops"]]
    setup = res["gen_s"] + res["session_s"] + res["warmup_s"] + res["prebuild_s"]
    return {
        "setup_s": (setup, "s"),
        "op_p50_s": (quantile(secs, 0.5), "s"),
        "op_tail_s": (quantile(secs, p / 100), "s"),
        "wall_s": (phase["wall_s"], "s"),
        "rows_per_s": (rows / phase["wall_s"], "rows/s"),
        "retained_heap_mb": (phase["heap_mb"], "MB"),
    }


def per_layer(traced, cores, workload):
    out = {}
    layers = traced["layers"]
    for layer in LAYERS:
        for c in COUNTERS:
            unit = ("count" if c in ("jobs", "tasks") else "rows" if c.startswith("records")
                    else "MB" if c.endswith("_mb") else "s")
            out[f"{layer}.{c}"] = (layers[layer][c], unit)
    ops = traced["ops"]
    extracted = sum(op["extracted"] for op in ops)
    rows = sum(op["rows"] for op in ops)
    run_s = sum(layers[layer]["task_run_s"] for layer in LAYERS)
    src_job = [o.get("sources", 0.0) for o in traced["per_op_layer_job_s"]]
    third = max(1, len(src_job) // 3)
    first, last = statistics.median(src_job[:third]), statistics.median(src_job[-third:])
    out.update({
        "driver.gap_s": (traced["gap_s"], "s"),
        "driver.build_s": (traced["build_s"], "s"),
        "core_busy_share": (run_s / (traced["wall_s"] * cores), "share"),
        "sources.rewrite_per_row": (
            layers["sources"]["records_written"] / extracted if extracted else 0.0, "ratio"),
        "ops.qc_read_per_row": (
            traced["qc_records_read"] / extracted if extracted else 0.0, "ratio"),
        "growth_ratio": (last / first if first > 0 else 0.0, "ratio"),
        "ext.admitted_share": (
            sum(op["admitted"] for op in ops) / rows
            if workload == "llm_ingest" and rows else 0.0, "share"),
        "unattributed.jobs": (traced["unattributed_jobs"], "count"),
        "trace_overhead_s": (traced["trace_overhead_s"], "s"),
        "traced_wall_s": (traced["wall_s"], "s"),
    })
    return out


# ---------------------------------------------------------------- main

def jvm_progress(work):
    lines = (work / "jvm.log").read_text().splitlines()
    return "".join(ln + "\n" for ln in lines if ln.startswith("[perfbench]"))


def run(args):
    if not (PROGRAM / "scala" / "graft" / "pipeline" / "Pipeline.scala").exists():
        raise BenchError(f"program sources not found under {PROGRAM}")
    cfg = SPEC["workloads"].get(args.workload)
    if cfg is None:
        raise BenchError(f"unknown workload {args.workload!r}")
    cp = classpath()
    t_start = time.monotonic()
    work = HERE / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "input").mkdir(parents=True)
    (work / "tmp").mkdir()
    try:
        cores = os.cpu_count() or 1
        plan = {"workload": args.workload, "trace": args.trace, "cores": cores,
                "work": str(work), "input": str(work / "input"),
                "file_layers": file_layers()}
        if args.trace:
            (HERE / "traces").mkdir(exist_ok=True)
            plan["trace_out"] = str(HERE / "traces" / f"{args.workload}-seed{args.seed}.json")
        t = time.perf_counter()
        rng = np.random.default_rng([args.seed, sorted(SPEC["workloads"]).index(args.workload)])
        rows = PLANNERS[args.workload](rng, cfg, args.seconds, str(work / "input"), plan)
        gen_s = time.perf_counter() - t
        (work / "plan.json").write_text(json.dumps(plan))
        cmd = (["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"] + JVM_OPENS
               + ["-cp", cp, "perfbench.Main", str(work / "plan.json"), str(work / "result.json")])
        budget = RUN_DEADLINE_S - (time.monotonic() - t_start)
        with open(work / "jvm.log", "w") as logf:
            env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=logf,
                                    stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(5.0, budget))
            except subprocess.TimeoutExpired:
                sys.stderr.write(jvm_progress(work))
                raise BenchError("benchmark JVM exceeded the run deadline")
            finally:
                if proc.poll() is None:  # deadline, or this process terminated
                    proc.kill()
                    proc.wait()
        if code != 0 or not (work / "result.json").exists():
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            sys.stderr.write(jvm_progress(work))
            raise BenchError(f"benchmark JVM failed (exit {code})")
        res = json.loads((work / "result.json").read_text())
        res["gen_s"] = gen_s
        sys.stderr.write(jvm_progress(work))
        return finish(args, cfg, res, rows, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def finish(args, cfg, res, rows, work, cores):
    phase = res["phase"]
    errors = [op["error"] for op in phase["ops"] if not op["ok"]]
    failed = len(errors)
    if args.workload == "query_mix":
        want = json.loads((HERE / "oracle_hashes.json").read_text())["queries"]
        bad = query_mismatches(work / "out", sorted(set(cfg["queries"])), want)
        errors += [f"{k}: {v}" for k, v in bad.items()]
        failed += sum(1 for op in phase["ops"] if op["ok"] and op["name"] in bad)
        rows = sum(want.get(op["name"], {}).get("rows", 0) for op in phase["ops"])
    if phase["final_error"]:
        failed += 1
        errors.append(phase["final_error"])
    attempted = len(phase["ops"])
    for e in errors[:10]:
        log(f"check failed: {e}")
    if args.trace:
        metrics = per_layer(phase, cores, args.workload)
    else:
        metrics = end_to_end(res, phase, rows, cfg["op_tail_percentile"])
    ops_s = [op["s"] for op in phase["ops"]]
    pct = cfg["op_tail_percentile"]
    log(f"{args.workload} seed={args.seed}: {attempted} ops, wall {phase['wall_s']:.3f} s, "
        f"op p50 {quantile(ops_s, 0.5):.3f} s, op p{pct} {quantile(ops_s, pct / 100):.3f} s, "
        f"failed_share {min(failed, attempted) / attempted:.4f}")
    return {"correct": failed == 0, "attempted": attempted, "failed": min(failed, attempted),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main():
    # a terminated run unwinds like an error: the JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        out = run(args)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
