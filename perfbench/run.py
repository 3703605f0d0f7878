#!/usr/bin/env python3
"""graft benchmark: a seeded, closed-loop load generator.

Runs one workload in one JVM (Spark local[nproc]) that calls graft's
public layer functions from outside, checks every output, and prints
as its last line one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
separate traced run gives the per-layer ones (see README.md).

Usage:
  python3 perfbench/run.py --workload proxy_read --seed 1 --seconds 10 --trace 0
Workloads: proxy_read, commit_llm.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("proxy_read", "commit_llm")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="input scale (TPC-H scale factor of lineitem; "
                         "0.01 = 60k rows)")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="self-test: perturb one expected value")
    return ap.parse_args()


def jvm(args, classpath, work):
    cpus = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx4g", "-Xss16m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={tmp}/derby.log",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--sf", str(args.sf), "--corrupt", str(args.corrupt),
              "--cpus", str(cpus), "--work", work])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             timeout=JVM_TIMEOUT_S)
    result = None
    for line in res.stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("[perfbench]"):
            print(line, flush=True)
    if res.returncode != 0 or result is None:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: {args.workload} run failed "
                         f"(exit {res.returncode})")
    return result


def keep(work, out, workload):
    """Keep the JVM log and the spans of the last run beside the work dir."""
    for name in ("spans.jsonl", "jvm.log"):
        if os.path.exists(os.path.join(work, name)):
            shutil.copy(os.path.join(work, name),
                        os.path.join(out, f"{workload}-{name}"))


def main():
    args = parse()
    classpath = build.ensure()
    out = os.path.join(HERE, "out")
    work = os.path.join(out, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = jvm(args, classpath, work)
    finally:
        keep(work, out, args.workload)
    if args.workload == "commit_llm":
        bad = oracle.check(os.path.join(work, "data"),
                           os.path.join(work, "llm_out"))
        for name, err in bad:
            print(f"[perfbench] FAIL {name}: {err}", file=sys.stderr)
        if bad:
            result["correct"] = False
            result["failed"] += len(bad)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
