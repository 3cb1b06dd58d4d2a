"""Self-test of the benchmark in smoke mode (sf0.001 input, one op per workload).

Usage, from the root of a checkout:  python3 perfbench/selftest.py

1. Every workload, untraced and traced, passes every check.
2. A run with an op that throws and a corrupted fingerprint exits nonzero,
   reports `correct: false`, and names both failures.
"""
import json
import os
import subprocess
import sys

RUN = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")]


def run(*args):
    p = subprocess.run(RUN + list(args), capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1]) if lines else None


def main():
    problems = []
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in ("0", "1"):
            rc, lines, res = run("--workload", w, "--seed", "5", "--seconds", "1",
                                 "--trace", trace, "--smoke")
            want = {m["name"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}
            if rc != 0 or not res or not res["correct"] or set(res["metrics"]) != want:
                problems.append(f"{w} trace={trace}: rc={rc} " + "\n".join(lines[-15:]))
            print(f"smoke {w} trace={trace}: rc={rc}", flush=True)

    # the clean e1 smoke run above stored its fingerprint; corrupt it now
    rc, lines, res = run("--workload", "e1_flagship", "--seed", "5", "--seconds", "1",
                         "--trace", "0", "--smoke", "--inject", "throw,fingerprint")
    failed = [l for l in lines if l.startswith("FAILED ")]
    if rc == 0 or not res or res["correct"] or res["failed"] < 2:
        problems.append(f"injected run not rejected: rc={rc} result={res}")
    if not any(l.startswith("FAILED injected_throw: threw") for l in failed):
        problems.append("throwing op not reported: " + repr(failed))
    if not any(l.startswith("FAILED e1: fingerprint") for l in failed):
        problems.append("wrong fingerprint not reported: " + repr(failed))
    print(f"injected run: rc={rc} " + "; ".join(failed), flush=True)

    for p in problems:
        print("PROBLEM " + p)
    print("selftest " + ("FAILED" if problems else "passed"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
