"""Run one workload over several seeds and report each metric's spread.

Usage, from the root of a checkout:
  python3 perfbench/spread.py --workload <name> --seeds 1-10 [--trace 0|1] [--out file.json]

For every metric: the median of the per-run values, the quartiles as
`statistics.quantiles(values, n=4)` gives them, and the spread, i.e. the
distance between the quartiles as a share of the median, next to the
metric's bound from BENCHMARK.json. Exits nonzero if a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    run = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")]

    runs, ok = [], True
    for s in seeds(a.seeds):
        p = subprocess.run(run + ["--workload", a.workload, "--seed", str(s), "--seconds",
                                  str(spec["run_seconds"]), "--trace", a.trace],
                           capture_output=True, text=True)
        last = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else {}
        ok &= p.returncode == 0 and last.get("correct", False)
        runs.append({"seed": s, "rc": p.returncode,
                     "metrics": {k: v["value"] for k, v in last.get("metrics", {}).items()}})
        print(f"seed {s} rc={p.returncode} " +
              " ".join(f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items()), flush=True)

    summary = {}
    for name in runs[0]["metrics"] if runs else []:
        vals = [r["metrics"][name] for r in runs if name in r["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else None, "bound": bounds.get(name)}
        b = bounds.get(name)
        flag = "" if b is None or summary[name]["spread"] is None else (
            "  OVER BOUND" if summary[name]["spread"] > b else
            "  above bound/3" if summary[name]["spread"] > b / 3 else "")
        print(f"{name:<16} median={med:.5g} q1={q1:.5g} q3={q3:.5g} "
              f"spread={summary[name]['spread']:.4f} bound={b}{flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace, "runs": runs,
                       "summary": summary}, f, indent=1, sort_keys=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
