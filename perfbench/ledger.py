"""Reduces a traced run's spans and counts to the per-layer ledger.

The span tree is pass -> call -> {build, materialise} -> job -> stage.
Harness spans come from perfbench.Main; job and stage spans from the
Spark listener. Layers are named after the repo modules and the Spark
layers beneath them (see README.md for what each should move):

    pu.*        weight() loops          (build phase of a pu call)
    operators.* query functions         (build phase of any other call)
    functions.* CodegenFallback expressions in executed plans
    sources.*   task output (file writes)
    catalyst.*  analysis / optimization / planning per executed query
    sched.*     jobs, stages, tasks, driver gap, task overhead
    exec.*      executor run, CPU and GC time
    shuffle.*   shuffle bytes, fetch wait, spill
    storage.*   cached / checkpointed RDD blocks

Every value is per steady traced pass, the median over those passes.
"""
import statistics
from collections import defaultdict

MB = 1048576.0

# (name, unit, in the result line) of each per-layer metric, in report
# order. Times that read exactly 0 on a whole workload by design (a layer
# the workload never enters) stay in the summary only: pu.weight_s on
# retrieve, operators.build_s and sources.write_s on pu, and
# shuffle.fetch_wait_s, which local mode rarely records.
METRICS = [
    ("pu.weight_s", "s", False), ("pu.weight_jobs", "count", True),
    ("operators.build_s", "s", False), ("operators.eager_actions", "count", True),
    ("functions.fallback_exprs", "count", True),
    ("sources.write_mb", "MB", True), ("sources.files_written", "count", True),
    ("sources.write_s", "s", False),
    ("catalyst.analysis_s", "s", True), ("catalyst.optimization_s", "s", True),
    ("catalyst.planning_s", "s", True), ("catalyst.executions", "count", True),
    ("sched.jobs", "count", True), ("sched.jobs_per_s", "1/s", True),
    ("sched.stages", "count", True), ("sched.tasks", "count", True),
    ("sched.single_task_stages", "count", True),
    ("sched.driver_gap_s", "s", True), ("sched.task_overhead_s", "s", True),
    ("exec.run_s", "s", True), ("exec.cpu_s", "s", True), ("exec.gc_s", "s", True),
    ("exec.cpu_util", "1", True),
    ("shuffle.write_mb", "MB", True), ("shuffle.read_mb", "MB", True),
    ("shuffle.fetch_wait_s", "s", False), ("shuffle.spill_mb", "MB", True),
    ("storage.cache_peak_mb", "MB", True), ("storage.rdds_persisted", "count", True),
    ("trace.overhead_s", "s", True),
]
# self-time layer of each span kind (build spans are named by their layer)
SELF_LAYER = {"pass": "harness.pass", "call": "harness.call", "materialise": "sink",
              "job": "sched.job", "stage": "exec.stage"}


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the union of (start, end) intervals."""
    iv = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


class Tree:
    def __init__(self, led):
        self.spans = {s["id"]: s for s in led["spans"]}
        self.children = defaultdict(list)
        for s in led["spans"]:
            if s["parent"] is not None and s["end_ms"] >= s["start_ms"]:
                self.children[s["parent"]].append(s)
        self.led = led

    def self_s(self, span):
        kids = [(c["start_ms"], c["end_ms"]) for c in self.children[span["id"]]]
        return (span["end_ms"] - span["start_ms"]) / 1e3 - union_s(
            kids, span["start_ms"], span["end_ms"])


def _in(t, span):
    return span["start_ms"] <= t <= span["end_ms"]


def measure(tree, pass_span, cores, calls=None):
    """Per-layer values for one pass (or for the calls named in `calls`)."""
    led = tree.led
    pid = pass_span["id"]
    call_spans = [c for c in tree.children[pid] if calls is None or c["name"] in calls]
    phases = [p for c in call_spans for p in tree.children[c["id"]]]
    jobs = {p["id"]: tree.children[p["id"]] for p in phases}
    stages = [s for js in jobs.values() for j in js for s in tree.children[j["id"]]]
    windows = call_spans if calls is not None else [pass_span]
    wall = sum((w["end_ms"] - w["start_ms"]) / 1e3 for w in windows)

    def within(t):
        return any(_in(t, w) for w in windows)

    v = defaultdict(float)
    for p in phases:
        if p["kind"] == "build":
            lay = p["name"]
            v[f"{lay}.build_s" if lay == "operators" else "pu.weight_s"] += \
                (p["end_ms"] - p["start_ms"]) / 1e3
            if lay == "pu":
                v["pu.weight_jobs"] += len(jobs[p["id"]])
    build_groups = {p["id"] for p in phases if p["kind"] == "build" and p["name"] == "operators"}
    v["operators.eager_actions"] = sum(
        1 for e in led["executions"] if e["group"] in build_groups and e["end_ms"] >= 0)
    planned = [q for q in led["planned"] if within(q["at_ms"])]
    v["functions.fallback_exprs"] = sum(q["fallbacks"] for q in planned)
    v["sources.files_written"] = sum(q["files"] for q in planned)
    v["catalyst.executions"] = len(planned)
    for q in planned:
        for ph in q["phases"]:
            if ph["name"] in ("analysis", "optimization", "planning"):
                v[f"catalyst.{ph['name']}_s"] += (ph["end_ms"] - ph["start_ms"]) / 1e3
    v["sched.jobs"] = sum(len(js) for js in jobs.values())
    v["sched.jobs_per_s"] = v["sched.jobs"] / wall
    v["sched.stages"] = len(stages)
    for s in stages:
        v["sched.tasks"] += s["tasks"]
        v["sched.single_task_stages"] += s["num_tasks"] == 1
        v["sched.task_overhead_s"] += (s["duration_ms"] - s["run_ms"]) / 1e3
        v["exec.run_s"] += s["run_ms"] / 1e3
        v["exec.cpu_s"] += s["cpu_ns"] / 1e9
        v["exec.gc_s"] += s["gc_ms"] / 1e3
        v["shuffle.write_mb"] += s["shuffle_write"] / MB
        v["shuffle.read_mb"] += s["shuffle_read"] / MB
        v["shuffle.fetch_wait_s"] += s["fetch_wait_ms"] / 1e3
        v["shuffle.spill_mb"] += s["spill"] / MB
        v["sources.write_mb"] += s["written"] / MB
        v["sources.write_s"] += s["write_run_ms"] / 1e3
    stage_iv = [(s["start_ms"], s["end_ms"]) for s in stages]
    v["sched.driver_gap_s"] = wall - sum(
        union_s(stage_iv, w["start_ms"], w["end_ms"]) for w in windows)
    v["exec.cpu_util"] = v["exec.cpu_s"] / (wall * cores)
    cache = [c for c in led["cache"] if within(c[0])]
    v["storage.cache_peak_mb"] = max((c[1] for c in cache), default=0) / MB
    v["storage.rdds_persisted"] = len({c[2] for c in cache})
    # self time per layer
    selfs = defaultdict(float)
    todo = [pass_span] if calls is None else list(call_spans)
    while todo:
        s = todo.pop()
        lay = s["name"] if s["kind"] == "build" else SELF_LAYER[s["kind"]]
        selfs[lay] += tree.self_s(s)
        todo += tree.children[s["id"]]
    return v, selfs, wall


def per_layer(res):
    """(metrics {name: (value, unit)}, detail) of a traced run; the metrics
    are the reported ones, detail["pass"] holds every one."""
    tree = Tree(res["ledger"])
    cores = res["cores"]
    passes = {p["id"]: p for p in tree.spans.values() if p["kind"] == "pass"}
    kinds = {p["index"]: p for p in res["passes"]}
    steady = [passes[f"perfbench/{i}"] for i, p in kinds.items()
              if p["kind"] == "steady" and p["traced"]]
    rows = [measure(tree, p, cores) for p in steady]
    med = {k: statistics.median(r[0][k] for r in rows) for k, _, _ in METRICS
           if k != "trace.overhead_s"}
    untraced = [p["wall_s"] for p in res["passes"] if p["kind"] == "steady" and not p["traced"]]
    traced = [p["wall_s"] for p in res["passes"] if p["kind"] == "steady" and p["traced"]]
    med["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    metrics = {k: (med[k], u) for k, u, reported in METRICS if reported}
    layers = sorted({k for r in rows for k in r[1]})
    first_v, first_self, _ = measure(tree, passes["perfbench/0"], cores)
    detail = {
        "traced_passes": len(steady),
        "pass": {k: (med[k], u) for k, u, _ in METRICS},
        "traced_wall_s": statistics.median(traced),
        "untraced_wall_s": statistics.median(untraced),
        "self_s": {k: statistics.median(r[1].get(k, 0.0) for r in rows) for k in layers},
        "first_pass": dict(first_v),
        "first_pass_self_s": dict(first_self),
        "calls": {},
    }
    for c in res["calls"]:
        per = [measure(tree, p, cores, {c["name"]}) for p in steady]
        detail["calls"][c["name"]] = {
            "wall_s": statistics.median(r[2] for r in per),
            **{k: statistics.median(r[0][k] for r in per) for k, _, _ in METRICS
               if k != "trace.overhead_s"},
            "self_s": {k: statistics.median(r[1].get(k, 0.0) for r in per)
                       for k in sorted({k for r in per for k in r[1]})},
        }
    return metrics, detail


CALL_COLUMNS = [("wall_s", "wall"), ("pu.weight_s", "weight"), ("operators.build_s", "build"),
                ("sched.jobs", "jobs"), ("sched.stages", "stages"), ("sched.tasks", "tasks"),
                ("operators.eager_actions", "eager"), ("catalyst.executions", "execs"),
                ("sched.driver_gap_s", "gap"), ("exec.cpu_s", "cpu"),
                ("exec.cpu_util", "util"), ("shuffle.write_mb", "shufMB"),
                ("sources.write_mb", "wrMB"), ("functions.fallback_exprs", "fallbk"),
                ("storage.cache_peak_mb", "cacheMB")]


def summary_lines(r):
    """The trace summary: per-layer self time and counts, per call, and the
    tracing overhead."""
    d = r["detail"]
    out = [f"   tracing overhead: traced wall_s {d['traced_wall_s']:.4f} - untraced wall_s "
           f"{d['untraced_wall_s']:.4f} = {r['metrics']['trace.overhead_s']['value']:+.4f} s "
           f"({d['traced_passes']} traced passes)",
           "   self time per layer (s, median per pass): " + ", ".join(
               f"{k}={v:.3f}" for k, v in sorted(d["self_s"].items(), key=lambda kv: -kv[1]))]
    for k, (v, u) in d["pass"].items():
        out.append(f"   {k:26s} {v:12.6g} {u}")
    out.append("   first pass: " + ", ".join(
        f"{k}={d['first_pass'][k]:.4g}" for k in
        ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
         "catalyst.executions", "sched.jobs", "sched.driver_gap_s", "exec.cpu_s")))
    out.append("   per call (median per traced pass):")
    out.append("   " + f"{'call':28s}" + "".join(f"{h:>8s}" for _, h in CALL_COLUMNS))
    for name, c in d["calls"].items():
        out.append("   " + f"{name:28s}" + "".join(f"{c[k]:8.3g}" for k, _ in CALL_COLUMNS))
    return out
