"""Benchmark entry point (see perfbench/README.md).

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--smoke] [--inject throw,fingerprint]

Builds the program from source (perfbench/build.py), generates the seed's
inputs (perfbench/gen.py), runs one JVM in a fresh run directory, replays the
DuckDB oracle over the ops' outputs, checks fingerprints against earlier
runs of the same seed, prints every metric with its unit and, as the last
line, one JSON object. Exits nonzero on any failed check.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory

import build  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {
    # workload: timed input; both warm up on the first 100 sf0.001 documents
    "e1_flagship": "sf0.1",
    "kg_dataprep": "sf0.01",
}
WARM_DOCS = 100
# E1 triple count on the unmodified 5,000-doc corpus (seed 0)
PINNED_TRIPLES = 453549
# a run ends within this many seconds, or this many more when it builds
RUN_LIMIT_S = 170
BUILD_ALLOWANCE_S = 700
UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p90_s": "s", "rows_per_s": "1/s",
         "cpu_s": "s", "cached_mb": "MB", "heap_peak_mb": "MB"}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def load_json(path, default):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def save_json(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def git_head(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
    return r.stdout.strip() or None


def fingerprint(path):
    """Order-independent fingerprint of a parquet result over all columns:
    row count, and the sum and the xor of the per-row hash."""
    src = f"read_parquet({gen.sql_str(path + '/*.parquet')})"
    con = duckdb.connect()
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    h = "hash(" + ", ".join('"%s"' % c.replace('"', '""') for c in cols) + ")"
    n, total, xor = con.execute(
        f"SELECT count(*), sum({h}::HUGEINT), bit_xor({h}) FROM {src}").fetchone()
    con.close()
    return f"{n}:{total or 0}:{xor or 0}", n


def replay_oracle(root, input_dir, replay_dir, oracle):
    """Run bin/compare.py over `replay_dir/<query>` outputs; return {query: reason}."""
    if not oracle:
        return {}
    compare = os.path.join(root, "bin", "compare.py")
    if not os.path.isfile(compare):
        return {q: "oracle replay unavailable: bin/compare.py missing" for q in oracle}
    save_json(os.path.join(replay_dir, "oracle_sql.json"), oracle)
    r = subprocess.run([sys.executable, compare, input_dir, replay_dir],
                       capture_output=True, text=True, timeout=120)
    fails = {}
    for line in r.stdout.splitlines():
        if line.startswith("[compare] FAIL ") or line.startswith("[compare] SKIP "):
            q, _, why = line[len("[compare] FAIL "):].partition(": ")
            fails[q] = "oracle mismatch: " + why
    if r.returncode != 0 and not fails:
        fails["oracle_replay"] = "compare.py exited %d: %s" % (r.returncode, r.stderr[-500:])
    return fails


def check_outputs(a, root, run_dir, digest, build_dir, res):
    """Fingerprint every op's output and check it; return [(op, reason)].

    Sets each op's `fingerprint` and `rows`. Fails an op whose fingerprint
    differs from another op of the same name in this run or from an earlier
    run of this seed on this build, a seed-0 E1 op whose triple count is not
    the pinned one, an oracled query the DuckDB replay rejects, and, in a
    traced run, an E1 layer probe whose triples differ from the E1 op's."""
    failures = []
    replay_dir = os.path.join(run_dir, "replay")
    os.makedirs(replay_dir, exist_ok=True)
    oracle, first = {}, {}
    for i, op in enumerate(res["ops"]):
        if op["error"] is not None:
            continue
        fp, op["rows"] = fingerprint(op["dir"])
        op["fingerprint"] = fp + ("!" if "fingerprint" in a.inject and i == 0 else "")
        name = op["name"]
        if name in first and first[name] != op["fingerprint"]:
            failures.append((name, f"fingerprint differs across ops: {first[name]} vs "
                                   f"{op['fingerprint']}"))
        first.setdefault(name, op["fingerprint"])
        if op["oracle_sql"] is not None and name not in oracle:
            oracle[name] = op["oracle_sql"]
            os.rename(op["dir"], os.path.join(replay_dir, name))
        if name == "e1" and a.seed == 0 and not a.smoke and op["rows"] != PINNED_TRIPLES:
            failures.append(("e1", f"seed 0 emitted {op['rows']} triples, "
                                   f"expected {PINNED_TRIPLES}"))
    failures += replay_oracle(root, os.path.join(run_dir, "input"), replay_dir, oracle).items()

    fp_path = os.path.join(build_dir, "fingerprints.json")
    fps = load_json(fp_path, {})
    for name, fp in first.items():
        key = f"{digest}|{a.workload}|{a.seed}|{int(a.smoke)}|{name}"
        if key in fps and fps[key] != fp:
            failures.append((name, f"fingerprint {fp} differs from an earlier run of this "
                                   f"seed: {fps[key]}"))
        elif not a.inject:
            fps[key] = fp
    save_json(fp_path, fps)

    if a.trace and res["ops"]:
        layers = os.path.join(run_dir, "probe", "layers")
        e1_op = first.get("e1") or fingerprint(os.path.join(run_dir, "probe", "e1"))[0]
        probe = fingerprint(layers)[0] if os.path.isdir(layers) else None
        if probe != e1_op:
            failures.append(("e1_probe", f"layer probe fingerprint {probe} != E1 op {e1_op}"))
    return failures


def prepare(run_dir, workload, seed, smoke):
    """A fresh run directory with the seed's generated inputs."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("input", "warm", "models", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    data = os.path.join(BENCH, "data")
    gen.generate(os.path.join(data, "sf0.001" if smoke else WORKLOADS[workload]),
                 os.path.join(run_dir, "input"), seed)
    gen.generate(os.path.join(data, "sf0.001"), os.path.join(run_dir, "warm"), 0,
                 docs_only=WARM_DOCS)


def jvm(run_dir, program_jar, jars, cds, args, deadline):
    """Run graft.perfbench.Main in `run_dir`; return its exit code, or
    "timeout" if it is still running at `deadline` (a time.time() value)."""
    cmd = (["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", cds]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.sql.codegen.cache.maxEntries=5000",
              f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
              "-cp", f"{program_jar}{os.pathsep}{os.path.join(jars, '*')}",
              "graft.perfbench.Main", "--input", f"{run_dir}/input", "--warm", f"{run_dir}/warm",
              "--out", run_dir, "--slots", str(os.cpu_count() or 1)] + args)
    env = dict(os.environ, GRAFT_MODEL_ROOT=f"{run_dir}/models",
               SPARK_LOCAL_DIRS=f"{run_dir}/local")
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            return p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def class_archive(build_dir, digest, program_jar, jars):
    """The JVM option that maps this build's class-data-sharing archive.

    Loading Spark's classes dominates JVM start-up here; an archive recorded
    once per build by a smoke run maps them instead, for every run of the
    build alike. Without an archive the JVM loads classes as usual."""
    archive = os.path.join(build_dir, f"bench-{digest}.jsa")
    if not os.path.isfile(archive):
        run_dir = os.path.join(build_dir, "runs", f"archive-{os.getpid()}")
        prepare(run_dir, "e1_flagship", 0, True)
        jvm(run_dir, program_jar, jars, f"-XX:ArchiveClassesAtExit={archive}.tmp",
            ["--workload", "e1_flagship", "--seed", "0", "--seconds", "1", "--trace", "0",
             "--smoke", "1", "--inject", ""], time.time() + RUN_LIMIT_S)
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isfile(archive + ".tmp"):
            os.replace(archive + ".tmp", archive)
    return f"-XX:SharedArchiveFile={archive}" if os.path.isfile(archive) else "-Xshare:auto"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--inject", default="")
    a = ap.parse_args()
    if a.seed < 0:
        ap.error("--seed must be >= 0")

    root = os.getcwd()
    spec = load_json(os.path.join(root, "BENCHMARK.json"), None)
    if spec is None:
        raise SystemExit("perfbench: BENCHMARK.json not found in the current directory")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    program_jar, digest, jars, compiled = build.build(root, build_dir)
    cds = class_archive(build_dir, digest, program_jar, jars)
    deadline = T0 + RUN_LIMIT_S + (BUILD_ALLOWANCE_S if compiled else 0)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-smoke' if a.smoke else ''}"
    run_dir = os.path.join(build_dir, "runs", f"{tag}-{os.getpid()}")
    prepare(run_dir, a.workload, a.seed, a.smoke)
    t_jvm = time.time()
    rc = jvm(run_dir, program_jar, jars, cds,
             ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--smoke", "1" if a.smoke else "0", "--inject", a.inject],
             deadline)
    log_path = os.path.join(run_dir, "jvm.log")

    res = load_json(os.path.join(run_dir, "result.json"), None)
    failures = []
    if res is None:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        failures.append(("jvm", f"no result (exit {rc})"))
        res = {"metrics": {}, "layers": {}, "ops": [], "failures": [], "env": {}}
    failures += [(f["op"], f["why"]) for f in res["failures"]]
    t_replay = time.time()
    failures += check_outputs(a, root, run_dir, digest, build_dir, res)
    ok = [op for op in res["ops"] if op["error"] is None]
    if ok:
        res["metrics"]["rows_per_s"] = sum(op["rows"] for op in ok) / sum(op["sec"] for op in ok)

    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    got = res["layers"] if a.trace else res["metrics"]
    if res["ops"]:
        failures += [(m, "metric not produced") for m in wanted if got.get(m) is None]

    failed_names = {op for op, _ in failures}
    attempted = max(1, len(res["ops"]))
    failed = sum(1 for op in res["ops"] if op["name"] in failed_names or op["error"] is not None)
    if failures and failed == 0:
        failed = 1

    # tracing overhead: traced wall_s against the last untraced run of this seed
    last_path = os.path.join(build_dir, "last_untraced.json")
    last = load_json(last_path, {})
    lkey = f"{digest}|{tag.replace('-t1', '-t0')}"
    wall = res["metrics"].get("wall_s")
    if a.trace == 0 and wall is not None:
        last[lkey] = wall
        save_json(last_path, last)

    env = res["env"]
    env.update(git_head=git_head(root), source_hash=digest, run_s=round(time.time() - T0, 3),
               build_s=round(t_jvm - T0, 3), jvm_s=round(t_replay - t_jvm, 3),
               replay_s=round(time.time() - t_replay, 3))
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} smoke={int(a.smoke)}")
    print("env " + json.dumps(env, sort_keys=True))
    if env.get("steal_heavy"):
        print(f"WARNING steal-heavy run: {env.get('steal_s')} CPU-s stolen in the timed phase")
    for op in res["ops"]:
        print(f"op {op['name']:<24} {op['family']:<12} {op['sec']:.4f} s  "
              f"rows={op.get('rows')} steal={op['steal_s']} fp={op.get('fingerprint')}"
              + (f"  ERROR {op['error']}" if op["error"] else ""))
    if a.workload == "e1_flagship" and "rows_per_s" in res["metrics"]:
        print(f"triples_per_s {res['metrics']['rows_per_s']} 1/s (rows are triples)")
    for name, value in sorted(res["metrics"].items()):
        print(f"metric {name} {value} {UNITS.get(name, '')}")
    print(f"metric error_rate {failed / attempted} ratio")
    if wall is not None:
        ops_s = sum(op["sec"] for op in res["ops"])
        print(f"accounting wall_s {wall:.4f} = ops {ops_s:.4f} + gaps between ops "
              f"{wall - ops_s:.4f} s")
    for name, value in res["layers"].items():
        print(f"layer {name} {value} {layer_unit(name)}")
    if a.trace and wall is not None and lkey in last:
        print(f"trace.overhead_s {wall - last[lkey]} s (traced wall_s - untraced wall_s)")
    for op, why in failures:
        print(f"FAILED {op}: {why}")

    # keep the result and trace; drop the run's state
    keep = os.path.join(build_dir, "results")
    os.makedirs(keep, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    save_json(os.path.join(keep, f"{tag}-{stamp}.json"),
              dict(res, failures=[{"op": o, "why": w} for o, w in failures], env=env))
    if os.path.exists(os.path.join(run_dir, "trace.json")):
        shutil.copyfile(os.path.join(run_dir, "trace.json"),
                        os.path.join(keep, f"{tag}-{stamp}.trace.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {m: {"value": got[m], "unit": (UNITS.get(m) or layer_unit(m))}
               for m in wanted if got.get(m) is not None}
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
