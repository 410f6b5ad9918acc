#!/usr/bin/env python3
"""Layered benchmark of the graft vector engine.

    python3 perfbench/run.py --workload bulk_index --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py), runs one workload in one Spark JVM at
local[4] with a single client, checks its outputs, and prints two JSON
lines: a detail record (every named metric with its unit, sizes,
parallelism and load, checks, failures and probes of known defects),
then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end metrics with --trace 0 and the
per-layer metrics with --trace 1. Inputs are generated from --seed under
.bench_build/work and removed afterwards. Exits non-zero, printing no
result, when the build, the run or the output check cannot complete.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("bulk_index", "search_mix", "curation_batch")
DEADLINE_S = 175
# a fixed heap: peak RSS then reflects the process, not the collector's
# sizing decisions
HEAP_MB = 1536

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def run_jvm(jar, work, args, budget_s):
    """Run the workload's JVM and return its raw record. The first run of
    a build dumps the classes it loaded into a class-data sharing
    archive beside the jar; later runs map it instead of loading and
    verifying Spark's classes again."""
    jars = os.path.join(build.spark_jars(), "*")
    cds = jar[:-len(".jar")] + ".jsa"
    dump = None
    cmd = [build.java()]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % pkg]
    if os.path.exists(cds):
        cmd.append("-XX:SharedArchiveFile=" + cds)
    else:
        dump = "%s.tmp-%d" % (cds, os.getpid())
        cmd.append("-XX:ArchiveClassesAtExit=" + dump)
    cmd += ["-Xms%dm" % HEAP_MB, "-Xmx%dm" % HEAP_MB, "-Xss4m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", jar + os.pathsep + jars, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", os.path.join(work, "record.json")]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout after %.0f s" % budget_s
    if dump and code == 0 and os.path.exists(dump):
        os.rename(dump, cds)
    elif dump and os.path.exists(dump):
        os.remove(dump)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("benchmark JVM failed (%s):\n%s" % (code, tail))
    with open(os.path.join(work, "record.json")) as f:
        return json.load(f)


def metric_map(pairs):
    return {k: {"value": v, "unit": u} for k, (v, u) in pairs.items()}


def main():
    args = parse()
    t0 = time.time()
    load_entry = os.getloadavg()
    root = os.getcwd()
    try:
        jar = build.ensure(root)
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(root, build.BUILD_DIR, "work",
                        "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        rec = run_jvm(jar, work, args, DEADLINE_S - (time.time() - t0))
        ops = rec["ops"]
        attempted = len(ops)
        failed = sum(not o["ok"] for o in ops)
        checks = dict(rec["checks"])
        failures = list(rec["failures"])
        if args.workload == "curation_batch":
            n, bad, first, rows = oracle.check_curation(rec["extra"])
            checks["oracle.curation"] = {"ok": n - bad, "bad": bad, "rows": rows}
            if bad:
                failures.append({"op": "oracle.curation", "message": first})
            # an output that differs from the oracle is a failed pipeline op
            failed += min(bad, attempted - failed)
        for k in ("oracle_pipeline_sql", "oracle_kn_sql", "oracle_minhash_sql",
                  "corpus", "outputs"):
            rec["extra"].pop(k, None)
    except Exception as e:  # a run that cannot be completed gives no result
        print("benchmark failed: %s" % e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0 and all(c["bad"] == 0 for c in checks.values())
    e2e, named = stats.end_to_end(rec)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "named": metric_map(named),
        "parallelism": dict(rec["parallelism"], loadavg_entry=load_entry[0],
                            loadavg_exit=os.getloadavg()[0]),
        "sizes": rec["sizes"], "extra": rec["extra"],
        "phases_s": {"session": rec["session_s"], "setup_reps": rec["setup_rep_s"],
                     "warm": rec["warm_s"], "measure": rec["measure_s"],
                     "total": time.time() - t0},
        "checks": checks, "failures": failures, "probes": rec["probes"],
    }
    metrics = stats.per_layer(rec) if args.trace else e2e
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metric_map(metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
