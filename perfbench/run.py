#!/usr/bin/env python3
"""Workload benchmark for graft: one command runs one workload and prints
its metrics. See perfbench/README.md.

  python3 perfbench/run.py --workload {ord_api,curate_scale,index_rw}
      --seed N --seconds S --trace {0,1}

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed, runs the JVM harness (one closed-loop
client against local[N], N = min(4, nproc)), checks every result, prints
a table of all metrics with units and sample counts, and as the last line
one JSON object: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. The full per-run artifact is written under
.bench_build/perfbench/results/.
"""
import argparse
import datetime
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402

# Input sizes per workload. Every workload reads one fixed corpus,
# generated from DATA_SEED (like the program's own seed-42 test data) once
# per checkout; --seed draws the operations, their parameters and their
# order. A fixed corpus keeps generation out of each run and lets the
# DuckDB oracle run once per checkout instead of once per run.
WORKLOADS = {
    "ord_api": {"ord_datasets": 100, "ord_reactions": 5000, "setup_reps": 9},
    "curate_scale": {"docs": 1000, "events": 20000, "vecs": 400, "setup_reps": 3},
    "index_rw": {"docs": 1000, "events": 1000, "vecs": 400, "setup_reps": 3},
}
DATA_SEED = 42
JVM_TIMEOUT_S = 170
XMX = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# The workloads BENCHMARK.json gates; curate_scale runs by hand only
# (perfbench/README.md, "Left out") and has no writes.
GATED = ("ord_api", "index_rw")
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("read_p50_ms", "ms"),
              ("write_p50_ms", "ms"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("session.start_ms", "ms"), ("api.build_ms", "ms"), ("api.exec_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.job_ms", "ms"),
    ("spark.driver_gap_ms", "ms"), ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"),
    ("exec.gc_ms", "ms"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"), ("input.bytes", "bytes"),
    ("bench.gen_s", "s"), ("bench.trace_overhead_pct", "%"),
    ("bench.load_start", "load"), ("bench.load_end", "load")]


class Refused(Exception):
    pass


def check_fixture_dir(path, root):
    """The program trusts any `_SUCCESS` under its fixture dir, so the
    synthetic corpus must never land where golden-derived fixtures live:
    refuse an unset dir, the program's default `target/fixtures` (of this
    checkout or any other) and anything under the reference directory."""
    if not path:
        raise Refused("fixture dir is unset")
    p = os.path.realpath(path)
    forbidden = [os.path.realpath(os.path.join(root, "target", "fixtures"))]
    if p in forbidden or p.endswith(os.sep + os.path.join("target", "fixtures")):
        raise Refused(f"fixture dir {path} is the program's own target/fixtures")
    parts = p.split(os.sep)
    if "reference" in parts[:3]:
        raise Refused(f"fixture dir {path} lies under the reference directory")
    return p


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times():
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def provenance(root):
    head = os.path.join(root, ".git", "HEAD")
    commit = "unknown (not a git checkout)"
    if os.path.exists(head):
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        commit = r.stdout.strip() or commit
    return commit


def run_jvm(cp, args, work, out_path, w, cores):
    env = dict(os.environ,
               GRAFT_FIXTURE_DIR=check_fixture_dir(os.path.join(work, "fixtures"), ROOT),
               GRAFT_CHECKPOINT_DIR=os.path.join(work, "ckpt"))
    os.makedirs(env["GRAFT_FIXTURE_DIR"])
    os.makedirs(os.path.join(work, "tmp"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-Xmn512m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", *opens,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(work, "data"), "--work", work, "--out", out_path,
            "--cores", str(cores), "--setup-reps", str(w["setup_reps"])]
           + ([] if "ord_datasets" not in w else [
               "--ord-datasets", str(w["ord_datasets"]),
               "--ord-reactions", str(w["ord_reactions"]), "--corpus-seed", str(DATA_SEED),
               "--corpus-cache", os.path.join(DATA_CACHE, "ord-d{ord_datasets}-r{ord_reactions}-s{s}"
                                              .format(s=DATA_SEED, **w))]))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_path):
        tail = open(log, errors="replace").read()[-3000:]
        raise RuntimeError(f"JVM harness failed ({rc}):\n{tail}")
    with open(out_path) as fh:
        return json.load(fh)


def layer_values(r):
    """Per-operation layer values from spans and Spark's records,
    attributed to an operation by the time the record started."""
    ops = r["ops"]
    spark = r.get("spark", {})
    ivals = [(o["t0"], o["t1"]) for o in ops]

    def owner(t):
        for i, (a, b) in enumerate(ivals):
            if a <= t <= b:
                return i
        return None

    vals = [dict() for _ in ops]

    def add(i, k, v):
        if i is not None:
            vals[i][k] = vals[i].get(k, 0) + v

    spans = r.get("spans", [])
    self_ms = M.self_times(spans)
    for s in spans:
        if s["op"] >= 0 and s["name"].startswith("api."):
            add(s["op"], s["name"] + "_ms", self_ms[s["id"]])
        elif s["op"] >= 0 and s["name"] == "op":  # the harness's own time on the clock
            add(s["op"], "bench.harness_ms", self_ms[s["id"]])
    jobs_by_op = {}
    for j in spark.get("jobs", []):
        i = owner(j["start"])
        add(i, "spark.jobs", 1)
        if i is not None and j["end"] >= j["start"]:
            jobs_by_op.setdefault(i, []).append((j["start"], j["end"]))
    for st in spark.get("stages", []):
        i = owner(st["start"])
        add(i, "spark.stages", 1)
        add(i, "spark.tasks", st["tasks"])
        for k, name in (("run_ms", "exec.run_ms"), ("gc_ms", "exec.gc_ms"),
                        ("shuffle_read", "shuffle.read_bytes"),
                        ("shuffle_write", "shuffle.write_bytes"),
                        ("spill_disk", "spill.disk_bytes"),
                        ("input", "input.bytes"), ("output", "output.bytes")):
            add(i, name, st[k])
        add(i, "exec.cpu_ms", st["cpu_ns"] / 1e6)
    for q in spark.get("queries", []):
        i = owner(q["start"])
        for ph in ("analysis", "optimization", "planning"):
            add(i, f"catalyst.{ph}_ms", q[ph])
    for b in spark.get("batches", []):
        i = owner(b["start"])
        add(i, "streaming.triggers", 1)
        add(i, "streaming.busy_ms", b["busy"])
    for i, o in enumerate(ops):
        covered = M.covered(jobs_by_op.get(i, []), o["t0"], o["t1"])
        vals[i]["spark.job_ms"] = covered
        vals[i]["spark.driver_gap_ms"] = M.driver_gap(o["t0"], o["t1"], jobs_by_op.get(i, []))
    return vals


def summarise(r, args, gen_s, load0, load1, oracle_ok, first_digest):
    failed = [o for o in r["ops"] if M.op_failed(o, oracle_ok, first_digest)]
    ops = [o for o in r["ops"] if o["cycle"] >= 0]  # warm-up is cycle -1
    # latencies come from every operation that returned; one with a wrong
    # result still took that long, and counts as failed
    good = [o for o in ops if not o.get("error")]
    reads = [o["wall_ms"] for o in good if o["kind"] == "read"]
    writes = [o["wall_ms"] for o in good if o["kind"] == "write"]
    setup = r["setup"]
    table = {  # name -> (value, unit, samples)
        "setup_s": (M.median([s["s"] for s in setup]), "s", len(setup)),
        "wall_s": (M.cycle_seconds(good), "s", len(good)),
        "read_p50_ms": (M.median(reads), "ms", len(reads)),
        "fail_ratio": (len(failed) / len(r["ops"]), "ratio", len(r["ops"])),
        "peak_rss_mb": (r["peak_rss_mb"], "MB", 1),
    }
    t = M.tail(reads)
    if t:
        table[f"read_{t[0]}_ms"] = (t[1], "ms", len(reads))
    if writes:
        table["write_p50_ms"] = (M.median(writes), "ms", len(writes))
    if args.workload == "index_rw":
        busy = [dict(o, wall_ms=o["busy_ms"]) for o in good if o["kind"] == "write"]
        table["ingest_busy_s"] = (M.cycle_seconds(busy), "s", len(busy))
    if args.trace:
        vals = [v for v, o in zip(layer_values(r), r["ops"]) if o["cycle"] >= 0]
        for i, o in enumerate(ops):
            o["layers"] = vals[i]
        keys = sorted({k for v in vals for k in v})
        for k in keys:
            per = [dict(o, wall_ms=vals[i].get(k, 0)) for i, o in enumerate(ops)]
            table[k] = (M.cycle_seconds(per) * 1e3, unit_of(k), len(ops))
        table["session.start_ms"] = (M.median([s["session_ms"] for s in setup]), "ms", len(setup))
        ensure = M.median([s["ensure_ms"] for s in setup])
        if args.workload == "ord_api":
            table["ord.ensure_ms"] = (ensure, "ms", len(setup))
            for k in ("build", "exec", "save"):
                if f"api.{k}_ms" in table:
                    table[f"ord.{k}_ms"] = table[f"api.{k}_ms"]
        if args.workload == "index_rw":
            table["sources.ensure_ms"] = (ensure, "ms", len(setup))
            bs = [b["busy"] for b in r["spark"].get("batches", [])]
            if bs:
                table["streaming.trigger_p50_ms"] = (M.median(bs), "ms", len(bs))
            stream = [dict(o, wall_ms=o["wall_ms"] - vals[i].get("streaming.busy_ms", 0))
                      for i, o in enumerate(ops) if vals[i].get("streaming.triggers")]
            if stream:
                table["streaming.cadence_ms"] = (M.cycle_seconds(stream) * 1e3, "ms", len(stream))
        per_key = {}
        for i, o in enumerate(ops):
            per_key.setdefault(o["op"], []).append((o, vals[i]))
        for key, rows in sorted(per_key.items()):
            wall = M.median([o["wall_ms"] for o, _ in rows])
            jobs = M.median([v.get("spark.jobs", 0) for _, v in rows])
            if args.workload == "curate_scale":
                table[f"ops.{key}.wall_ms"] = (wall, "ms", len(rows))
                table[f"ops.{key}.jobs"] = (jobs, "count", len(rows))
            elif args.workload == "index_rw" and rows[0][0]["kind"] == "read":
                table[f"sources.{key}.wall_ms"] = (wall, "ms", len(rows))
            elif args.workload == "index_rw":
                table[f"streaming.{key}.busy_ms"] = (
                    M.median([v.get("streaming.busy_ms", 0) for _, v in rows]), "ms", len(rows))
                table[f"streaming.{key}.jobs"] = (jobs, "count", len(rows))
        table["bench.trace_overhead_pct"] = (r["trace_overhead_pct"], "%", 1)
    table["bench.gen_s"] = (gen_s, "s", 1)
    table["bench.load_start"] = (load0, "load", 1)
    table["bench.load_end"] = (load1, "load", 1)
    return table, failed


def unit_of(k):
    if k.endswith("_ms"):
        return "ms"
    if k.endswith("bytes"):
        return "bytes"
    return "count"


def check_keys(r, data_dir, cache_dir):
    """Oracle verdict per key and the digest its results must all have:
    each key's first result, dumped by the JVM, is compared with the key's
    DuckDB oracle, whose hash is cached per input digest."""
    sql = r.get("oracle_sql", {})
    if not sql:
        return {}, {}
    first = {}
    for o in r["ops"]:
        if "got" in o:
            first.setdefault(o["op"], o)
    hashes = oracle.oracle_hashes(data_dir, r["input_digest"],
                                  {k: sql[k] for k in first if k in sql}, cache_dir)
    ok = {}
    for k, o in first.items():
        h = hashes.get(k)
        ok[k] = (bool(o.get("dump")) and h is not None and not h.startswith("error")
                 and oracle.dump_hash(o["dump"]) == h)
    return ok, {k: o["got"] for k, o in first.items()}


ROOT = os.path.dirname(HERE)
ORACLE_CACHE = os.path.join(ROOT, ".bench_build", "perfbench", "oracle")
DATA_CACHE = os.path.join(ROOT, ".bench_build", "perfbench", "data")


def tables(w, dest):
    """Copy the workload's fixed tables into `dest`, generating them once
    per checkout; returns their digest."""
    key = f"d{w['docs']}-e{w['events']}-v{w['vecs']}-s{DATA_SEED}"
    cache = os.path.join(DATA_CACHE, key)
    if not os.path.exists(os.path.join(cache, "DIGEST")):
        tmp = f"{cache}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        digest = gen.generate(tmp, DATA_SEED, w["docs"], w["events"], w["vecs"])
        with open(os.path.join(tmp, "DIGEST"), "w") as fh:
            fh.write(digest)
        shutil.rmtree(cache, ignore_errors=True)
        os.rename(tmp, cache)
    for name in gen.TABLES:
        shutil.copy(os.path.join(cache, f"{name}.parquet"), dest)
    with open(os.path.join(cache, "DIGEST")) as fh:
        return fh.read()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        cp, stamp = build.build(ROOT)
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    load0, cpu0 = loadavg(), cpu_times()
    cores = min(4, os.cpu_count() or 1)
    w = WORKLOADS[args.workload]
    runs = os.path.join(ROOT, ".bench_build", "perfbench", "runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "data"))
    try:
        g0 = time.perf_counter()
        digest = tables(w, os.path.join(work, "data")) if "docs" in w else ""
        gen_s = time.perf_counter() - g0
        r = run_jvm(cp, args, work, os.path.join(work, "result.json"), w, cores)
        gen_s += r["gen"].get("s", 0.0)
        r["input_digest"] = digest
        oracle_ok, first = check_keys(r, os.path.join(work, "data"), ORACLE_CACHE)
        load1, cpu1 = loadavg(), cpu_times()
        table, failed = summarise(r, args, gen_s, load0, load1, oracle_ok, first)
        # CPU time the hypervisor gave to other guests: host load the
        # code cannot cause, recorded so a slow run can be told from a
        # slow commit
        table["bench.steal_pct"] = (
            100.0 * (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), "%", 1)
    except Refused as e:
        print(f"[perfbench] refused: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    names = [n for n, _ in (PER_LAYER if args.trace else END_TO_END)
             if args.workload in GATED or n in table]
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sizes": w, "input_digest": digest,
        "provenance": {"commit": provenance(ROOT), "source_stamp": stamp,
                       "nproc": os.cpu_count(), "cores": cores, "xmx": XMX,
                       **r["config"], "loadavg_start": load0, "loadavg_end": load1,
                       "at": datetime.datetime.now(datetime.timezone.utc).isoformat()},
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in table.items()},
        "failed_ops": [{k: o.get(k) for k in ("i", "op", "error", "expect", "got")}
                       for o in failed],
        "jvm_s": r["jvm_s"], "phase_s": r["phase_s"],
        "setup": r["setup"], "ops": r["ops"], "spans": r.get("spans", []),
        "spark": r.get("spark", {}),
    }
    res = os.path.join(ROOT, ".bench_build", "perfbench", "results")
    os.makedirs(res, exist_ok=True)
    stamp_s = datetime.datetime.now().strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(res, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp_s}.json"), "w") as fh:
        json.dump(artifact, fh)
    print(f"[perfbench] {args.workload} seed={args.seed} ops={len(r['ops'])} "
          f"failed={len(failed)} phase={r['phase_s']:.1f}s cores={cores}")
    for k in sorted(table):
        v, u, n = table[k]
        print(f"  {k:36s} {v:14.4f} {u:6s} n={n}")
    for o in failed[:5]:
        print(f"  FAILED op {o['i']} {o['op']}: {o.get('error') or (o.get('expect'), o.get('got'))}")
    missing = [n for n in names if n not in table or table[n][0] is None]
    if missing:
        print(f"[perfbench] metrics not measured: {missing}", file=sys.stderr)
        return 4
    units = dict(PER_LAYER if args.trace else END_TO_END)
    print(json.dumps({
        "correct": not failed, "attempted": len(r["ops"]), "failed": len(failed),
        "metrics": {n: {"value": table[n][0], "unit": units[n]} for n in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
