#!/usr/bin/env python3
"""The easy_sql benchmark: two seeded closed-loop workloads.

    python3 easybench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 easybench/run.py --compare RESULTS_A RESULTS_B
    python3 easybench/run.py --selftest [--workload W]

One run builds the engine if its sources changed, generates the
workload's inputs from the seed, drives the engine from one client
thread for S seconds in one JVM (Spark local[<cpus>]), checks every
output against DuckDB, prints each metric by name with its unit, and
ends with one JSON line. `--trace 0` measures the end-to-end metrics;
`--trace 1` alternates whole rounds untraced and traced, and reports the
per-layer metrics. Each run also writes a full result,
stamped with its run identity, under .bench_build/results/. See
easybench/README.md for the metric definitions.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_many_steps", "table_mixed")
DEFAULT_SEED = 1
HELDOUT_SEED = 424242
SETUP_REPS = 3
HEAP = "3g"
# the JVM must be done well inside the 180 s a run may take
JVM_TIMEOUT_S = 150

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"),
              ("steps_per_s", "1/s")]
# reported beside the end-to-end metrics where the workload has them; too
# few samples or too much run-to-run spread for a regression bound
SUPPLEMENTARY = [("op_tail_s", "s"), ("fail_ratio", "ratio"),
                 ("op_cpu_p50_s", "s"), ("steps_per_cpu_s", "1/s"),
                 ("first_op_s", "s"), ("peak_rss_mb", "MB"),
                 ("commit_p50_s", "s"), ("commit_tail_s", "s"),
                 ("read_p50_s", "s"), ("read_tail_s", "s"),
                 ("maint_p50_s", "s"), ("storage_amp", "ratio")]
PER_LAYER = [
    ("etl.parse_s", "s"), ("etl.steps", "count"), ("etl.step_s", "s"),
    ("etl.step_self_s", "s"), ("etl.step_tail_s", "s"),
    ("backend.sql_execs", "count"), ("backend.analysis_s", "s"),
    ("backend.optimization_s", "s"), ("backend.planning_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.job_span_s", "s"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.input_bytes", "bytes"),
    ("spark.input_records", "count"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.output_bytes", "bytes"), ("spark.task_skew", "ratio"),
    ("table.commits", "count"), ("table.commit_jobs", "count"),
    ("table.commit_self_s", "s"), ("table.fs_creates", "count"),
    ("table.fs_renames", "count"), ("table.fs_deletes", "count"),
    ("table.fs_lists", "count"), ("table.fs_opens", "count"),
    ("table.fs_status", "count"), ("table.fs_bytes_written", "bytes"),
    ("table.fs_bytes_read", "bytes"), ("table.manifest_read_s", "s"),
    ("table.versions", "count"), ("table.live_files", "count"),
    ("table.maintenance_s", "s"), ("table.maintenance_bytes_rewritten", "bytes"),
    ("sources.read_jobs", "count"), ("sources.read_self_s", "s"),
    ("sources.rows_examined_per_row", "ratio"),
    ("sources.input_bytes_per_read", "bytes"),
    ("driver.gap_s", "s"), ("driver.gc_s", "s"),
    ("trace.overhead_ratio", "ratio")]
# per-op counters the self-check requires to repeat exactly
COUNTERS = ["steps", "jobs", "stages", "tasks", "head_advance", "n_versions",
            "live_files", "fs_creates", "fs_renames", "fs_deletes", "fs_lists",
            "fs_opens", "fs_status"]
# counters seen not to repeat between two runs with one seed: reads and
# UPDATEs on the merge-on-read table made 1-2 more listings and opens and
# 4-8 more status calls in one run, and the table bytes differed; no
# claim may rest on them
UNSTEADY = {"table_mixed": {"fs_lists", "fs_opens", "fs_status",
                            "storage_amp"}}
FS_NAMES = ["creates", "renames", "deletes", "lists", "opens", "status"]
# per op, the layer self times must add up to the wall time within this
SELF_SUM_TOLERANCE_S = 0.001


def die(msg, code=2):
    print(f"easybench: {msg}", file=sys.stderr)
    sys.exit(code)


# --- build ---------------------------------------------------------------------

BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "easybench/build.sbt", "easybench/project/build.properties",
                "easybench/src"]


def source_digest():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with sbt when their sources
    changed; returns the harness JVM command prefix."""
    missing = [p for p in ("build.sbt", "src/main/scala/graft")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        die("the engine's sources are not here (missing "
            + ", ".join(missing) + "); run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    target = os.path.join(HERE, "target")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    cp_file = os.path.join(target, "bench-classpath.txt")
    fresh = (os.path.exists(stamp) and os.path.exists(cp_file)
             and open(stamp).read() == digest)
    if not fresh:
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.autostart=false", "compile",
                     "benchClasspath"],
                    cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                    timeout=840).returncode
            except (OSError, subprocess.TimeoutExpired) as e:
                die(f"build failed: {e}")
        if rc != 0:
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            die(f"build failed (sbt exit {rc}); see {log}")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(os.path.join(target, "bench-javaopts.txt")) as f:
        opts = [o for o in f.read().split("\n") if o]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java, f"-Xmx{HEAP}", *opts, "-cp", cp]


# --- run identity --------------------------------------------------------------

def cpus():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over cpus."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def revision():
    """The git revision with a dirty flag; outside a git repository, a
    digest of the sources the benchmark builds."""
    try:
        rev = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             cwd=ROOT, capture_output=True, text=True,
                             timeout=10)
        top, _, head = rev.stdout.strip().partition("\n")
        if rev.returncode == 0 and os.path.realpath(top) == \
                os.path.realpath(ROOT):
            dirty = subprocess.run(
                ["git", "status", "--porcelain", "--untracked-files=no"],
                cwd=ROOT, capture_output=True, text=True, timeout=10)
            return {"git": head, "dirty": bool(dirty.stdout.strip())}
    except (OSError, subprocess.TimeoutExpired):
        pass
    return {"git": None, "source_digest": source_digest()}


# --- statistics ----------------------------------------------------------------

def tail(values):
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples); None below 20 samples."""
    n = len(values)
    if n < 20:
        return None
    return sorted(values)[n - 11], round(100.0 * (n - 10) / n, 2), n


def median(values):
    return statistics.median(values) if values else 0.0


def merge(iv):
    out = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        elif b > a:
            out.append([a, b])
    return out


def subtract(a, b):
    """Merged intervals `a` minus merged intervals `b`."""
    out, j = [], 0
    for lo, hi in a:
        cur = lo
        while j < len(b) and b[j][1] <= cur:
            j += 1
        k = j
        while k < len(b) and b[k][0] < hi:
            if b[k][0] > cur:
                out.append([cur, b[k][0]])
            cur = max(cur, b[k][1])
            k += 1
        if cur < hi:
            out.append([cur, hi])
    return out


def measure(iv):
    return sum(b - a for a, b in iv)


# --- metrics -------------------------------------------------------------------

def units(ops, workload, failed=()):
    """The measured ops as (latency, steps, ok, cpu s). A table_mixed op
    is one round of statements, so its latency is unimodal; its latency
    is the time the client spent in the engine's statements. cpu is the
    JVM's CPU time during the op, all threads."""
    groups = {}
    for o in ops:
        key = ((o["i"] - gen.WARMUP) // gen.ROUND
               if workload == "table_mixed" else o["i"])
        groups.setdefault(key, []).append(o)
    return [(sum(o["t1"] - o["t0"] for o in g) / 1000,
             sum(o["steps"] for o in g),
             all(o["ok"] and o["i"] not in failed for o in g),
             sum(o["cpu_ms"] for o in g) / 1000)
            for g in groups.values()]


def end_to_end(res, ops, workload, failed):
    us = units(ops, workload, failed)
    lat = [u[0] for u in us]
    busy = sum(lat)
    good = [u for u in us if u[2]]
    m = {
        "setup_s": (res["session_s"] + median(res["setup_reps_s"])
                    + res["warmup_s"]),
        "ops_per_s": len(good) / busy,
        "op_p50_s": median(lat),
        "steps_per_s": sum(u[1] for u in good) / busy,
    }
    cpu = [u[3] for u in us]
    extra = {"fail_ratio": (len(us) - len(good)) / len(us),
             "op_cpu_p50_s": median(cpu),
             "steps_per_cpu_s": sum(u[1] for u in good) / sum(cpu),
             "first_op_s": res["first_op_s"],
             "peak_rss_mb": res["vm_hwm_mb"], "op_latencies_s": lat,
             "op_cpu_s": cpu}
    t = tail(lat)
    if t:
        extra["op_tail_s"] = t[0]
        extra["op_tail_pct"], extra["op_tail_samples"] = t[1], t[2]
    if workload == "table_mixed":
        for kind in ("commit", "read", "maint"):
            kl = [(o["t1"] - o["t0"]) / 1000 for o in ops if o["kind"] == kind]
            extra[f"{kind}_p50_s"] = median(kl)
            t = tail(kl)
            if t and kind != "maint":
                extra[f"{kind}_tail_s"] = t[0]
                extra[f"{kind}_tail_pct"], extra[f"{kind}_tail_samples"] = \
                    t[1], t[2]
        fin = res["finish"]
        extra["storage_amp"] = fin["table_bytes"] / max(fin["plain_bytes"], 1)
    return m, extra


def load_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_op_trace(res, spans, stages):
    """Groups the spans and stages of each traced op and splits its wall
    time into layer self times that add up to it."""
    ops = [o for o in res["ops"] if o["traced"]]
    by_i = {o["i"]: o for o in ops}
    per = {i: {"spark": [], "backend": [], "etl": [], "table": [],
               "sources": [], "parse": [], "steps": [], "jobs": [],
               "qe": set()} for i in by_i}
    job_op = {}
    for s in spans:
        layer, i = s["layer"], s["op"]
        if layer in ("op", "exec") or i not in per:
            continue
        d = per[i]
        iv = [max(s["t0"], by_i[i]["t0"]), min(s["t1"], by_i[i]["t1"])]
        d[layer].append(iv)
        if layer == "spark":
            job_op[s["job"]] = i
            d["jobs"].append(s["job"])
        elif layer == "backend":
            d["qe"].add(s["qe"])
            d.setdefault("phase_" + s["name"], 0.0)
            d["phase_" + s["name"]] += (s["t1"] - s["t0"]) / 1000
        elif s["name"] == "parse":
            d["parse"].append((s["t1"] - s["t0"]) / 1000)
        elif s["name"].startswith("step "):
            d["steps"].append(((s["t1"] - s["t0"]) / 1000, iv))
    for st in stages:
        i = job_op.get(st["job"])
        if i in per:
            per[i].setdefault("stages", []).append(st)

    rows = {}
    for i, d in per.items():
        o = by_i[i]
        wall = (o["t1"] - o["t0"]) / 1000
        spark = merge(d["spark"])
        backend = subtract(merge(d["backend"]), spark)
        covered = merge(spark + backend)
        self_t = {}
        for layer in ("etl", "table", "sources"):
            self_t[layer] = measure(subtract(merge(d[layer]), covered)) / 1000
        step_self = measure(subtract(merge([iv for _, iv in d["steps"]]),
                                     covered)) / 1000
        spark_t, backend_t = measure(spark) / 1000, measure(backend) / 1000
        # the op time outside every span, measured on its own: the layers
        # add up to the wall time only if no span is counted twice
        every = merge(d["spark"] + d["backend"] + d["etl"] + d["table"]
                      + d["sources"])
        gap = measure(subtract([[o["t0"], o["t1"]]], every)) / 1000
        rows[i] = dict(o=o, wall=wall, spark=spark_t, backend=backend_t,
                       self=self_t, step_self=step_self, gap=gap, d=d)
    return rows


def per_layer(res, spans, stages, workload):
    rows = per_op_trace(res, spans, stages)
    traced = list(rows.values())
    # whole ops (table_mixed: whole rounds) untraced and traced
    untraced = [u[0] for u in units(
        [o for o in res["ops"] if not o["traced"]], workload)]
    traced_units = [u[0] for u in units(
        [o for o in res["ops"] if o["traced"]], workload)]

    def mean_of(f, rs=traced):
        return sum(f(r) for r in rs) / max(len(rs), 1)

    def stage_sum(r, key):
        return sum(s[key] for s in r["d"].get("stages", []))

    steps = [t for r in traced for t, _ in r["d"]["steps"]]
    step_tail = tail(steps)
    skews = []
    for r in traced:
        for s in r["d"].get("stages", []):
            ds = s["durations"]
            if len(ds) >= 2 and statistics.median(ds) > 0:
                skews.append(max(ds) / statistics.median(ds))
    commits = [r for r in traced if r["o"]["kind"] == "commit"]
    maint = [r for r in traced if r["o"]["kind"] == "maint"]
    reads = [r for r in traced if r["o"]["kind"] == "read"]
    writes = [r for r in traced if r["o"]["kind"] in ("commit", "maint")]
    table = workload == "table_mixed"

    # versions each commit created: the head advance over the table's
    # previous recorded head
    prev, advance = {}, {}
    for o in res["ops"]:
        if o["head"] >= 0:
            if o["table"] in prev:
                advance[o["i"]] = o["head"] - prev[o["table"]]
            prev[o["table"]] = o["head"]
    last = {}
    for o in res["ops"]:
        if o["head"] >= 0:
            last[o["table"]] = o
    read_rows = sum(len(r["o"]["rows"]) for r in reads)

    def fs(r, k):
        f = r["o"]["fs"]
        return f[FS_NAMES.index(k)] if f else 0

    m = {
        "etl.parse_s": mean_of(lambda r: sum(r["d"]["parse"])),
        "etl.steps": mean_of(lambda r: len(r["d"]["steps"])),
        "etl.step_s": median(steps),
        "etl.step_self_s": mean_of(lambda r: r["step_self"]),
        "etl.step_tail_s": step_tail[0] if step_tail else 0.0,
        "backend.sql_execs": mean_of(lambda r: len(r["d"]["qe"])),
        "backend.analysis_s": mean_of(
            lambda r: r["d"].get("phase_analysis", 0.0)
            + r["d"].get("phase_parsing", 0.0)),
        "backend.optimization_s": mean_of(
            lambda r: r["d"].get("phase_optimization", 0.0)),
        "backend.planning_s": mean_of(
            lambda r: r["d"].get("phase_planning", 0.0)),
        "spark.jobs": mean_of(lambda r: len(r["d"]["jobs"])),
        "spark.stages": mean_of(
            lambda r: sum(1 for s in r["d"].get("stages", []) if s["tasks"])),
        "spark.tasks": mean_of(lambda r: stage_sum(r, "tasks")),
        "spark.job_span_s": mean_of(lambda r: r["spark"]),
        "spark.executor_run_s": mean_of(lambda r: stage_sum(r, "run_ms") / 1e3),
        "spark.executor_cpu_s": mean_of(lambda r: stage_sum(r, "cpu_ns") / 1e9),
        "spark.gc_s": mean_of(lambda r: stage_sum(r, "gc_ms") / 1e3),
        "spark.input_bytes": mean_of(lambda r: stage_sum(r, "in_bytes")),
        "spark.input_records": mean_of(lambda r: stage_sum(r, "in_records")),
        "spark.shuffle_read_bytes": mean_of(
            lambda r: stage_sum(r, "shuffle_read")),
        "spark.shuffle_write_bytes": mean_of(
            lambda r: stage_sum(r, "shuffle_write")),
        "spark.spill_bytes": mean_of(lambda r: stage_sum(r, "spill")),
        "spark.output_bytes": mean_of(lambda r: stage_sum(r, "out_bytes")),
        "spark.task_skew": median(skews),
        "table.commits": mean_of(lambda r: advance.get(r["o"]["i"], 0)),
        "table.commit_jobs": mean_of(lambda r: len(r["d"]["jobs"]), commits),
        "table.commit_self_s": mean_of(lambda r: r["self"]["table"], commits),
        "table.fs_bytes_written": mean_of(lambda r: r["o"]["bytes_written"])
        if table else 0.0,
        "table.fs_bytes_read": mean_of(lambda r: r["o"]["bytes_read"])
        if table else 0.0,
        "table.manifest_read_s": mean_of(
            lambda r: r["o"]["manifest_ms"] / 1e3, writes),
        "table.versions": sum(o["n_versions"] for o in last.values()),
        "table.live_files": sum(o["live_files"] for o in last.values()),
        "table.maintenance_s": mean_of(lambda r: r["wall"], maint),
        "table.maintenance_bytes_rewritten": mean_of(
            lambda r: r["o"]["bytes_written"], maint),
        "sources.read_jobs": mean_of(lambda r: len(r["d"]["jobs"]), reads),
        "sources.read_self_s": mean_of(lambda r: r["self"]["sources"], reads),
        "sources.rows_examined_per_row": (
            sum(stage_sum(r, "in_records") for r in reads) / max(read_rows, 1)),
        "sources.input_bytes_per_read": mean_of(
            lambda r: stage_sum(r, "in_bytes"), reads),
        "driver.gap_s": mean_of(lambda r: r["gap"]),
        "driver.gc_s": mean_of(lambda r: r["o"]["gc_ms"] / 1e3),
        "trace.overhead_ratio": (
            statistics.mean(traced_units) / statistics.mean(untraced)
            if traced_units and untraced else 0.0),
    }
    for k in FS_NAMES:
        m[f"table.fs_{k}"] = mean_of(lambda r, k=k: fs(r, k))
    # the layers' self times and the gap partition each op's wall time
    errors = {i: r["spark"] + r["backend"] + sum(r["self"].values())
              + r["gap"] - r["wall"] for i, r in rows.items()}
    counters = {i: {
        "steps": r["o"]["steps"], "jobs": len(r["d"]["jobs"]),
        "stages": sum(1 for s in r["d"].get("stages", []) if s["tasks"]),
        "tasks": stage_sum(r, "tasks"),
        "head_advance": advance.get(i, 0), "n_versions": r["o"]["n_versions"],
        "live_files": r["o"]["live_files"],
        **{f"fs_{k}": fs(r, k) for k in FS_NAMES}} for i, r in rows.items()}
    return m, {"self_sum_error_s": max(map(abs, errors.values()), default=0.0),
               "self_sum_errors": {i: e for i, e in errors.items()
                                   if abs(e) > SELF_SUM_TOLERANCE_S},
               "traced_ops": len(traced),
               "counters": counters,
               "layer_share": {
                   "spark": sum(r["spark"] for r in traced),
                   "backend": sum(r["backend"] for r in traced),
                   **{k: sum(r["self"][k] for r in traced)
                      for k in ("etl", "table", "sources")},
                   "driver_gap": sum(r["gap"] for r in traced)}}


# --- one run -------------------------------------------------------------------

def run_once(workload, seed, seconds, trace, max_ops=None, keep=False):
    """Builds, generates, runs and checks; returns the full result."""
    if workload not in WORKLOADS:
        die(f"unknown workload {workload!r} (one of {', '.join(WORKLOADS)})")
    jvm = build()
    run_dir = os.path.join(BUILD, "runs",
                           f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    for d in (in_dir, out_dir, tmp):
        os.makedirs(d)
    t_gen = time.time()
    side = gen.generate(workload, seed, in_dir)
    t_jvm = time.time()
    spec = {"workload": workload, "seconds": seconds, "trace": trace,
            "in_dir": in_dir, "out_dir": out_dir, "cpus": cpus(),
            "setup_reps": SETUP_REPS}
    if max_ops:
        spec["max_ops"] = max_ops
    with open(os.path.join(run_dir, "spec.json"), "w") as f:
        json.dump(spec, f)
    load0, steal0 = loadavg(), steal_s()
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                [*jvm, f"-Djava.io.tmpdir={tmp}", "graft.easybench.Harness",
                 os.path.join(run_dir, "spec.json")],
                cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result_file = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"harness failed ({rc}); see {log}", 1)
    with open(result_file) as f:
        res = json.load(f)
    t_check = time.time()
    measured = [o["i"] for o in res["ops"]]
    if not measured:
        die("no op completed inside the run", 1)
    failed, problems = check.CHECKS[workload](in_dir, out_dir, side, res,
                                              measured)
    failed |= {o["i"] for o in res["ops"] if not o["ok"]}
    untraced = [o for o in res["ops"] if not o["traced"]]
    e2e, extra = end_to_end(res, untraced or res["ops"], workload, failed)
    every = units(res["ops"], workload, failed)
    attempted, n_failed = len(every), sum(1 for u in every if not u[2])
    layers, trace_info = ({}, {})
    if trace:
        layers, trace_info = per_layer(
            res, load_jsonl(os.path.join(out_dir, "spans.jsonl")),
            load_jsonl(os.path.join(out_dir, "stages.jsonl")), workload)
        for i, e in sorted(trace_info["self_sum_errors"].items()):
            problems.append(f"trace: the layer self times of op {i} add up "
                            f"to {e:+.4f} s off its wall time")
    identity = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "cpus": cpus(), "master": res["master"],
        "sf": gen.SF[workload],
        "inputs": f"generated {workload} sf{gen.SF[workload]} seed {seed}",
        "revision": revision(), "java_version": res["java_version"],
        "xmx": HEAP, "max_heap_mb": res["max_heap_mb"],
        "loadavg_start": load0, "loadavg_end": loadavg(),
        "cpu_steal_s": steal_s() - steal0,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    full = {"identity": identity, "attempted": attempted,
            "failed": n_failed, "problems": problems,
            "end_to_end": e2e, "supplementary": extra, "per_layer": layers,
            "trace": trace_info, "setup": {
                "session_s": res["session_s"],
                "reps_s": res["setup_reps_s"], "warmup_s": res["warmup_s"],
                "first_op_s": res["first_op_s"]},
            "finish": res["finish"],
            "wall_s": {"generate": t_jvm - t_gen, "jvm": t_check - t_jvm,
                       "check": time.time() - t_check}}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{workload}-s{seed}-t{trace}-{int(time.time())}"
                           f"-{os.getpid()}.json"), "w") as f:
        json.dump(full, f, indent=1)
    if not keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    return full


def print_result(full):
    trace = full["identity"]["trace"]
    units = dict(END_TO_END + SUPPLEMENTARY + PER_LAYER)
    for p in full["problems"]:
        print(f"CHECK FAILED: {p}")
    if trace:
        print(f"layer self times add up to each op's wall time within "
              f"{full['trace']['self_sum_error_s']:.3g} s")
    shown = full["per_layer"] if trace else {**full["end_to_end"],
                                             **full["supplementary"]}
    for k, v in shown.items():
        if not isinstance(v, list):
            print(f"{k:40s} {v:.6g} {units.get(k, '')}")
    names = PER_LAYER if trace else END_TO_END
    print(json.dumps({
        "correct": not full["problems"], "attempted": full["attempted"],
        "failed": full["failed"],
        "metrics": {k: {"value": (full["per_layer"] if trace
                                  else full["end_to_end"])[k], "unit": u}
                    for k, u in names}}))


# --- comparison and self-tests -------------------------------------------------

def load_results(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) \
        if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def compare(a_path, b_path):
    """Medians of B against A, per workload and end-to-end metric, against
    the bounds in BENCHMARK.json. Refuses results of a different cpu count
    or scale factor, so a scaling run never becomes a baseline."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    a, b = load_results(a_path), load_results(b_path)
    if not a or not b:
        die("nothing to compare")
    ids = {(r["identity"]["cpus"], r["identity"]["workload"],
            r["identity"]["sf"]) for r in a + b}
    by_w = {}
    for c, w, sf in ids:
        by_w.setdefault(w, set()).add((c, sf))
    for w, keys in by_w.items():
        if len(keys) > 1:
            die(f"refusing to compare {w}: results differ in cpus or sf "
                f"({sorted(keys)})", 3)
    worse = False
    for m in bench["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        for w in sorted(by_w):
            va = [r["end_to_end"][name] for r in a
                  if r["identity"]["workload"] == w and not r["identity"]["trace"]]
            vb = [r["end_to_end"][name] for r in b
                  if r["identity"]["workload"] == w and not r["identity"]["trace"]]
            if not va or not vb:
                continue
            ma, mb = median(va), median(vb)
            change = (mb - ma) / ma if ma else 0.0
            bad = change > bound if lower else -change > bound
            worse |= bad
            print(f"{w:16s} {name:14s} {ma:12.6g} -> {mb:12.6g} "
                  f"{change:+8.2%} bound {bound:.0%}"
                  + ("  WORSE" if bad else ""))
    sys.exit(1 if worse else 0)


def selftest(workloads):
    """Seeds regenerate byte-identical inputs; two traced runs with one
    seed repeat every deterministic counter; the held-out seed passes
    every output check."""
    ok = True
    base = os.path.join(BUILD, "selftest")
    shutil.rmtree(base, ignore_errors=True)

    def digest(d):
        h = hashlib.sha256()
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + hashlib.sha256(fh.read()).digest())
        return h.hexdigest()

    for w in workloads:
        ds = []
        for tag, seed in (("a", DEFAULT_SEED), ("b", DEFAULT_SEED),
                          ("c", HELDOUT_SEED)):
            d = os.path.join(base, f"{w}-{tag}")
            gen.generate(w, seed, d)
            ds.append(digest(d))
        same, differ = ds[0] == ds[1], ds[0] != ds[2]
        ok &= same and differ
        print(f"{w}: seed {DEFAULT_SEED} regenerates identical inputs: {same}; "
              f"held-out seed {HELDOUT_SEED} changes them: {differ}")
    for w in workloads:
        ops = gen.ROUND if w == "table_mixed" else 2
        runs = [run_once(w, DEFAULT_SEED, 60, 1, max_ops=ops)
                for _ in range(2)]
        c0, c1 = (r["trace"]["counters"] for r in runs)
        common = sorted(set(c0) & set(c1))
        differing = [k for k in COUNTERS
                     if any(c0[i][k] != c1[i][k] for i in common)]
        amp = [r["supplementary"].get("storage_amp") for r in runs]
        if amp[0] != amp[1]:
            differing.append("storage_amp")
        print(f"{w}: {len(common)} ops compared; counters that do not repeat: "
              + (", ".join(differing) if differing else "none")
              + "; known not to repeat: "
              + (", ".join(sorted(UNSTEADY.get(w, ()))) or "none"))
        for k in differing:
            if k in COUNTERS:
                print("   ", k, [(i, c0[i][k], c1[i][k]) for i in common
                                 if c0[i][k] != c1[i][k]][:5])
        held = run_once(w, HELDOUT_SEED, 60, 1, max_ops=ops)
        print(f"{w}: held-out seed {HELDOUT_SEED} passes every output check: "
              f"{not held['problems']}")
        ok &= (set(differing) <= UNSTEADY.get(w, set())
               and all(not r["problems"] for r in runs + [held]))
    shutil.rmtree(base, ignore_errors=True)
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("BASE", "NEW"))
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (inputs, spans, outputs)")
    a = ap.parse_args()
    if a.compare:
        compare(*a.compare)
    if a.selftest:
        selftest([a.workload] if a.workload else list(WORKLOADS))
    if not a.workload:
        die("--workload is required")
    print_result(run_once(a.workload, a.seed, a.seconds, a.trace,
                          keep=a.keep))


if __name__ == "__main__":
    main()
