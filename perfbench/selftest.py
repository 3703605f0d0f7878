#!/usr/bin/env python3
"""Live self-test of the benchmark.

Runs every workload of BENCHMARK.json briefly at sf 0.001 and checks:
  - a timed run (--trace 0) prints every end_to_end metric, with its unit,
    and nothing else, with zero failed operations;
  - a traced run (--trace 1) does the same for every per_layer metric;
  - a run with a deliberately wrong expected value (--corrupt 1) is
    reported as failed operations and correct=false.

Usage: python3 perfbench/selftest.py     (about five minutes)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001", "--corrupt", str(corrupt)]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=900)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-4000:])
        raise SystemExit(f"selftest: {' '.join(cmd[1:])} exited {res.returncode}")
    return json.loads(lines[-1])


def expect(cond, what):
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(name, trace, 0)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(got == want, f"{name} --trace {trace}: metrics/units differ: "
                   f"missing {sorted(set(want) - set(got))}, "
                   f"extra {sorted(set(got) - set(want))}, "
                   f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{name} --trace {trace}: {r['failed']} of {r['attempted']} failed")
            print(f"ok   {name} --trace {trace}: {len(got)} metrics, "
                  f"{r['attempted']} ops, 0 failed", flush=True)
        r = run(name, 0, 1)
        expect(not r["correct"] and r["failed"] > 0,
               f"{name} --corrupt 1: the wrong expected value was not reported")
        print(f"ok   {name} --corrupt 1: {r['failed']} of {r['attempted']} "
              f"reported failed", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
