#!/usr/bin/env python3
"""Seeded benchmark of graft's pu / curate / retrieve workloads.

    python3 perfbench/run.py --workload pu --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

Run from the root of a checkout. The first run builds the library and the
harness (perfbench/harness) with sbt into .bench_build and target/. Each
run generates its inputs from the seed (gen.py), runs the harness JVM,
checks every call's output (check.py) and prints a human summary followed
by one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ledger (ledger.py). The full result of the run, inputs and
provenance included, is kept in .bench_build/results/.

See perfbench/README.md for the workloads and every metric.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the benchmark's own directory

import check  # noqa: E402
import gen  # noqa: E402
import ledger  # noqa: E402

WORKLOADS = ["pu", "curate", "retrieve"]
SETUPS = 5        # session set-ups per run; setup_s is their median
XMX = "3g"
JVM_TIMEOUT_S = 170
# The harness JVM promotes hot methods to the optimizing compiler sooner
# than the defaults do: Spark's driver paths take minutes of default
# tiered compilation to settle, far longer than a run, and the earlier
# promotion flattens the warm-up slope the steady passes sit on.
JIT = ["-XX:Tier3InvocationThreshold=100", "-XX:Tier3CompileThreshold=1000",
       "-XX:Tier4InvocationThreshold=1500", "-XX:Tier4MinInvocationThreshold=200",
       "-XX:Tier4CompileThreshold=3000", "-XX:Tier4BackEdgeThreshold=12000"]
# Steady passes per run, at least (twice that in a traced run, which
# alternates untraced and traced passes). Three passes of pu or retrieve
# (about 8 s each) outlast --seconds 20, so each of their runs takes three
# passes and the same number of call samples.
MIN_PASSES = 3
# Percentile ladder for call_tail_s
LADDER = [99, 95, 90, 80, 75]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "harness", "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles library and harness once per source state; returns the
    java command prefix (options and classpath)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no library sources (build.sbt, src/main) next to the benchmark")
    launcher = os.path.join(BUILD, "launcher.txt")
    newest = max(os.path.getmtime(f) for f in _sources())
    if not os.path.exists(launcher) or os.path.getmtime(launcher) < newest:
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx2g")
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                                cwd=os.path.join(HERE, "harness"), env=env, stdout=log,
                                stderr=subprocess.STDOUT, timeout=840).returncode
        if rc != 0 or not os.path.exists(launcher):
            fail(f"build failed; see {os.path.join(BUILD, 'build.log')}")
    lines = open(launcher).read().splitlines()
    return lines[1:] + ["-cp", lines[0]]


def provenance():
    """What makes two result sets comparable."""
    digest = hashlib.sha256()
    bench = [os.path.join(HERE, f) for f in sorted(os.listdir(HERE)) if f.endswith(".py")]
    for f in _sources() + bench:
        digest.update(os.path.relpath(f, ROOT).encode())
        digest.update(open(f, "rb").read())
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"git_commit": commit, "source_sha256": digest.hexdigest(),
            "xmx": XMX, "nproc": os.cpu_count()}


# ---------------------------------------------------------------- metrics

def tail(passes):
    """(value, percentile) of call latency: the highest ladder percentile
    with at least ten samples beyond it, by nearest rank. A run with fewer
    than 40 calls has no such percentile above the median; it reports each
    pass's slowest call, median over passes (percentile 100 of a pass)."""
    s = sorted(c["latency_s"] for ps in passes for c in ps["calls"] if c["ok"])
    p = next((p for p in LADDER if len(s) * (100 - p) / 100 >= 10), None)
    if p is None:
        return statistics.median(
            max(c["latency_s"] for c in ps["calls"] if c["ok"]) for ps in passes), 100
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)], p


def end_to_end(res, props):
    steady = [p for p in res["passes"] if p["kind"] == "steady" and not p["traced"]]
    first = res["passes"][0]
    lat = [c["latency_s"] for p in steady for c in p["calls"] if c["ok"]]
    rows_per_pass = sum(props["sizes"][t] for c in res["calls"] for t in c["tables"])
    wall = statistics.median(p["wall_s"] for p in steady)
    m = {
        "wall_s": (wall, "s"),
        "call_p50_s": (statistics.median(lat), "s"),
        "call_tail_s": (tail(steady)[0], "s"),
        "rows_per_s": (rows_per_pass / wall, "rows/s"),
        "first_pass_s": (first["wall_s"], "s"),
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
    }
    detail = {"tail_percentile": tail(steady)[1], "call_samples": len(lat),
              "samples_beyond_tail": sum(1 for x in lat if x > m["call_tail_s"][0]),
              "steady_passes": len(steady), "rows_per_pass": rows_per_pass}
    return m, detail


# ---------------------------------------------------------------- one run

def run(workload, seed, seconds, trace):
    java = build()
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, checks = os.path.join(run_dir, "data"), os.path.join(run_dir, "check")
    for d in (data, checks, os.path.join(run_dir, "tmp")):
        os.makedirs(d)
    props, gen_s = gen.generate(workload, seed, data)

    t_jvm = time.perf_counter()
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", f"-Xmx{XMX}", *JIT, "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/tmp", f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           *java, "perfbench.Main", "--workload", workload, "--data", data, "--out", out,
           "--check", checks, "--seconds", str(seconds), "--trace", str(trace),
           "--setups", str(SETUPS), "--min-passes", str(MIN_PASSES * (2 if trace else 1)),
           "--pos-class", str(props.get("pos_class", 5))]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log_path = os.path.join(BUILD, "results", f"{workload}-{seed}-{trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S}s; see {log_path}")
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited with {rc}; see {log_path}")
    res = json.load(open(out))
    t_check = time.perf_counter()
    verdicts = check.check(data, checks, os.path.join(run_dir, "tmp"), res["calls"], props)
    t_end = time.perf_counter()
    timed = [c for p in res["passes"] for c in p["calls"]]
    attempted = len(timed)
    failed = sum(1 for c in timed if not c["ok"] or verdicts.get(c["name"]))

    result = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "inputs": props, "gen_s": gen_s, "harness_s": t_check - t_jvm,
              "check_s": t_end - t_check, "provenance": provenance(),
              "cores": res["cores"], "xmx_mb": res["xmx_mb"],
              "spark_version": res["spark_version"], "env": res["env"],
              "attempted": attempted, "failed": failed, "fail_ratio": failed / attempted,
              "check": verdicts, "errors": res["errors"]}
    if trace:
        metrics, detail = ledger.per_layer(res)
    else:
        metrics, detail = end_to_end(res, props)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    result["detail"] = detail
    result["raw"] = res
    with open(os.path.join(BUILD, "results", f"{workload}-{seed}-{trace}.json"), "w") as f:
        json.dump(result, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def summary(r):
    lines = [f"== {r['workload']} seed={r['seed']} trace={r['trace']} "
             f"cores={r['cores']} xmx={r['provenance']['xmx']} spark={r['spark_version']} "
             f"commit={r['provenance']['git_commit']} sources={r['provenance']['source_sha256'][:12]}",
             f"   inputs: {json.dumps(r['inputs'], sort_keys=True)}",
             f"   gen_s={r['gen_s']:.3f} (not compared)  harness_s={r['harness_s']:.1f} "
             f"check_s={r['check_s']:.1f}  env={r['env']}",
             f"   fail_ratio={r['fail_ratio']:.4f} ({r['failed']}/{r['attempted']} calls)"]
    for name, why in r["check"].items():
        lines.append(f"   check {name}: {'ok' if why is None else 'FAILED ' + why}")
    for e in r["errors"][:5]:
        lines.append(f"   error {e['call']} pass {e['pass']}: {e['error']}")
    if r["trace"]:
        lines += ledger.summary_lines(r)
    else:
        for k, m in r["metrics"].items():
            lines.append(f"   {k:14s} {m['value']:.6g} {m['unit']}")
        lines.append(f"   detail: {json.dumps(r['detail'], sort_keys=True)}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    results = [run(w, a.seed, a.seconds, a.trace)
               for w in (WORKLOADS if a.workload == "all" else [a.workload])]
    for r in results:
        print(summary(r))
    if len(results) == 1:
        r = results[0]
        line = {"correct": r["failed"] == 0, "attempted": r["attempted"], "failed": r["failed"],
                "metrics": r["metrics"]}
    else:
        line = {r["workload"]: {"correct": r["failed"] == 0, "attempted": r["attempted"],
                                "failed": r["failed"], "metrics": r["metrics"]} for r in results}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
