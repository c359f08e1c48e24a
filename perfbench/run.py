#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload, one JVM, one JSON line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark from source (sbt, once per source
state), generates the input tables (once per generator version), then runs
`perfbench.Runner` in a fresh JVM at local[nproc]: an untimed pass that
checks every query's output fingerprint, an untimed warm pass, then
closed-loop timed passes (one client, no think time), as many as fill
--seconds at the pass time the workload was sized with, so the count never
depends on the program's speed. The seed picks each timed pass's order. The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`; with --trace 1 the metrics
are the per-layer ones of a traced pass instead of the end-to-end ones.
The line before it carries run stamps (host steal, loadavg, tail
percentile used, pass walls) that explain an outlier but gate nothing.

`--record-refs` stores the run's fingerprints as the reference outputs.
See NOTES.md for the workloads, metrics and how they map to layers.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import metrics
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
REFS = os.path.join(HERE, "refs.json")
JVM_TIMEOUT_S = 165
# fixed and pre-touched, so peak RSS is the heap plus off-heap memory and
# does not move with G1's heap-growth decisions from run to run
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths, suffixes):
    """sha256 over the names and bytes of every matching file under paths."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                           for f in fs if f.endswith(suffixes))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile program + benchmark when their sources changed; return classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
               os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    stamp = tree_hash(sources, (".scala", ".java", ".sbt", ".properties"))
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc}), log in {log}", 3)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return cps[-1]


def dataset():
    """Directory of the input tables, generated on first use."""
    import gen_data
    version = tree_hash([os.path.join(HERE, "gen_data.py")], (".py",))
    args = (workloads.DATA_SF, workloads.DATA_SEED, workloads.DATA_CORPUS_SF)
    out = os.path.join(BUILD, "data", "-".join(map(str, args)) + f"-{version}")
    if not os.path.isdir(out):
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        gen_data.generate(out, *args)
    return out


def proc_stat():
    """(total, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f[:8]), f[7]
    except (OSError, IndexError, ValueError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError):
        return -1.0


def run_jvm(classpath, plan, run_root):
    plan_file = os.path.join(run_root, "plan.properties")
    out_file = os.path.join(run_root, "out.json")
    log_file = os.path.join(run_root, "jvm.log")
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    plan["launch_epoch_ms"] = str(int(time.time() * 1000))
    with open(plan_file, "w") as fh:
        for k, v in plan.items():
            fh.write(f"{k}={v}\n")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_root}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Runner", plan_file, out_file])
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_root, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out_file):
        with open(log_file, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc})", 4)
    with open(out_file) as fh:
        return json.load(fh)


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-refs", action="store_true")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("program sources not found next to the benchmark; "
             "run from a full checkout of the repository")
    classpath = build()
    data_dir = dataset()
    wl = workloads.WORKLOADS[args.workload]
    # a traced run makes three timed passes: untraced, traced, untraced
    passes = 3 if args.trace else workloads.timed_passes(wl, args.seconds)
    orders = workloads.query_orders(wl["queries"], args.seed, passes)

    run_root = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    stat0, load0 = proc_stat(), loadavg()
    try:
        raw = run_jvm(classpath, {
            "dir": data_dir, "queries": ",".join(wl["queries"]), "trace": str(args.trace),
            "pass_orders": ";".join(",".join(o) for o in orders),
            "serve_checks": ",".join(wl["serve_checks"]),
            "run_root": run_root, "cpus": str(len(os.sched_getaffinity(0))),
            "spans_out": os.path.join(BUILD, "trace", f"{args.workload}-{args.seed}.jsonl"),
        }, run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    stat1, load1 = proc_stat(), loadavg()

    refs = metrics.load_refs(REFS)
    if args.record_refs:
        refs.update({q: f for q, f in raw["check"].items() if f is not None and "@" not in q})
        metrics.save_refs(REFS, refs)
    result, stamps = metrics.summarize(raw, refs, args.trace == 1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if sorted(result["metrics"]) != sorted(m["name"] for m in declared):
        fail("reported metrics differ from those BENCHMARK.json declares", 5)
    steal = None
    if stat0 and stat1 and stat1[0] > stat0[0]:
        steal = (stat1[1] - stat0[1]) / (stat1[0] - stat0[0]) * len(os.sched_getaffinity(0))
    stamps.update({"workload": args.workload, "seed": args.seed,
                   "steal_cores": steal, "loadavg": [load0, load1]})
    with open(os.path.join(BUILD, f"last-{args.workload}.json"), "w") as fh:
        json.dump({"raw": raw, "stamps": stamps, "result": result}, fh)
    print(json.dumps({"stamps": stamps}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
