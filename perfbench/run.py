#!/usr/bin/env python3
"""The repository's benchmark: one command builds the program, runs one
workload in a fresh JVM, checks every output and prints the metrics.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 10 --trace 0

Workloads (both on the fixed sf0.01 tables in perfbench/data, on
local[<cores>], one client in a closed loop):

  pipelines  ReleasePipeline.build then CorpusPipeline.build, each into a
             fresh output dir. The pipelines take no seed.
  query_mix  the census rows of the core and dedup families plus
             `warm_dedup_frames`, timed as graft.Bench times them; the
             seed permutes the rows within each family.

Whole passes repeat until --seconds have gone by; a pass in flight at
the deadline completes. The last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics of a listener-traced run with
--trace 1. Every run also leaves a self-describing record (identity,
every operation, checks, metrics and, when traced, the span tree) in
`<build dir>/results/`; `summarize.py` turns those into the
workload x layer table and the tracing overhead.

Output checks: every pipeline stage's row count and every query_mix
row's count must equal the values
recorded in perfbench/expected.json; no file of the checkout outside the
build dir may change. A mismatch counts as a failed operation and makes
the command exit 1. `--record` rewrites expected.json from the run.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import build  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("pipelines", "query_mix")
HEAP = "3g"
# a run's JVM must be gone well inside the 180 s a run may take
JVM_TIMEOUT_S = 165
# permille of wanted CPU the hypervisor stole over a run above which the
# run is flagged; flagged runs are reported, never dropped
STEAL_HIGH_PM = 50

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

# pipeline stage (top-level output of a build) -> per-layer metric
STAGE_LAYERS = {
    ("release", "protein2matches"): "kernels.merge_ms",
    ("release", "protein2matches_kv"): "sources.kvlog_ms",
    ("release", "entry2xrefs"): "harness.marts_ms",
    ("release", "domain_orgs"): "harness.marts_ms",
    ("release", "taxa_rollup"): "harness.marts_ms",
    ("release", "webfront_entry"): "harness.marts_ms",
    ("release", "release_stats"): "harness.marts_ms",
    ("release", "release_notes_diff"): "harness.marts_ms",
    ("release", "clan_graphs"): "harness.marts_ms",
    ("release", "signature_hierarchy"): "harness.marts_ms",
    ("release", "entry_taxa_trees"): "ops.taxatree_ms",
    ("release", "protein2ipr"): "sources.sinks_ms",
    ("release", "xml_parts"): "sources.sinks_ms",
    ("release", "es_docs"): "sources.sinks_ms",
    ("corpus", "corpus_normalized"): "functions.normalize_ms",
    ("corpus", "shingles"): "ops.lsh_ms",
    ("corpus", "neardup_pairs"): "ops.lsh_ms",
    ("corpus", "corpus_deduped"): "ops.cc_ms",
    ("corpus", "contaminated"): "ops.decon_ms",
    ("corpus", "corpus_rewritten"): "ops.spans_ms",
    ("corpus", "corpus_kv"): "sources.kvlog_ms",
    ("corpus", "corpus_jsonl"): "sources.sinks_ms",
}
# the byte-size companions of stage-time layers
STAGE_MB = {"sources.kvlog_ms": "sources.kvlog_mb", "sources.sinks_ms": "sources.sinks_mb"}

# per-layer metrics summed over the workload span; a `_mb` metric reads
# the span's `_bytes` field
SPAN_LAYERS = [
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "codegen.classes", "codegen.compile_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.residual_ms",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms", "shuffle.spill_mb",
    "io.input_mb", "io.output_mb", "aqe.replans", "sql.executions",
]

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("query_p50_ms", "ms"),
              ("query_p75_ms", "ms"), ("heap_live_peak_mb", "MB")]


def per_layer_units():
    names = SPAN_LAYERS + ["scheduler.task_fail_frac"]
    names += sorted(set(STAGE_LAYERS.values()) | set(STAGE_MB.values()))
    names += ["ops.cc_jobs", "io.output_files", "harness.frames_ms",
              "harness.frames_cached_mb", "out_mb"]
    def unit(n):
        if n.endswith("_ms"):
            return "ms"
        if n.endswith("_mb"):
            return "MB"
        if n.endswith("_s"):
            return "s"
        return "fraction" if n.endswith("_frac") else "count"
    return {n: unit(n) for n in names}


# ---------------------------------------------------------------- identity

def git_sha():
    """HEAD's commit, read from .git without running git (works in a
    worktree, whose .git is a file naming the real git dir)."""
    dot = os.path.join(ROOT, ".git")
    try:
        if os.path.isfile(dot):
            with open(dot) as f:
                dot = os.path.join(ROOT, f.read().split("gitdir:", 1)[1].strip())
        with open(os.path.join(dot, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref:"):
            return head
        ref = head[4:].strip()
        common = dot
        if os.path.exists(os.path.join(dot, "commondir")):
            with open(os.path.join(dot, "commondir")) as f:
                common = os.path.normpath(os.path.join(dot, f.read().strip()))
        for base in (dot, common):
            p = os.path.join(base, ref)
            if os.path.exists(p):
                with open(p) as f:
                    return f.read().strip()
        with open(os.path.join(common, "packed-refs")) as f:
            for line in f:
                parts = line.split()
                if len(parts) == 2 and parts[1] == ref:
                    return parts[0]
    except (OSError, IndexError):
        pass
    return None


def cpu_ticks():
    """(busy, steal) jiffies; busy = user+nice+system+steal, as graft.Bench."""
    try:
        with open("/proc/stat") as f:
            cols = [int(c) for c in f.readline().split()[1:]]
        return cols[0] + cols[1] + cols[2] + cols[7], cols[7]
    except (OSError, IndexError, ValueError):
        return None


def steal_pm(t0, t1):
    if t0 is None or t1 is None or t1[0] <= t0[0]:
        return None
    return (t1[1] - t0[1]) * 1000 // (t1[0] - t0[0])


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# --------------------------------------------------------------- isolation

def snapshot(skip):
    """Every file of the checkout outside `skip` dirs: path -> (size, mtime)."""
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return out


# ----------------------------------------------------------------- metrics

def pct(xs, q):
    """Linear-interpolated percentile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def latencies(rec):
    """Per-operation wall-clock latencies in ms. A query_mix operation
    is one row, timed on the monotonic clock; a pipeline operation is
    one stage: the time from the previous output's commit (or the
    build's start) to this output's commit, from file times."""
    out = []
    for op in rec["ops"]:
        if rec["workload"] == "query_mix":
            out.append(op["wall_ms"])
            continue
        prev = op["start_ms"]
        for _, t in op["artifacts"]:
            if prev <= t <= op["end_ms"]:
                out.append(t - prev)
                prev = t
    return out


def end_to_end(rec, setup_s):
    passes = {}
    for op in rec["ops"]:
        passes[op["pass"]] = passes.get(op["pass"], 0) + op["wall_ms"]
    lat = latencies(rec)
    vals = {
        "setup_s": setup_s,
        "wall_s": statistics.median(passes.values()) / 1000.0,
        "query_p50_ms": pct(lat, 0.50),
        # p75: the highest percentile with ten samples beyond it among
        # 43 query_mix rows (29 pipeline stages leave seven beyond it)
        "query_p75_ms": pct(lat, 0.75),
        "heap_live_peak_mb": rec["heap_live_peak_bytes"] / 2 ** 20,
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def per_layer(rec):
    """Per-layer numbers from the span tree, per pass of the workload."""
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    npass = len({op["pass"] for op in rec["ops"]})
    wl = next(s for s in spans if s["kind"] == "workload")
    vals = {n: wl[n[:-3] + "_bytes"] / 2 ** 20 if n.endswith("_mb") else wl[n]
            for n in SPAN_LAYERS}
    for name in per_layer_units():
        vals.setdefault(name, 0.0)
    # stage layers: each stage span of each build, by its pipeline
    for s in spans:
        if s["kind"] != "stage":
            continue
        pipe = by_id[s["parent"]]["name"]
        layer = STAGE_LAYERS.get((pipe, s["name"]))
        if layer:
            vals[layer] += s["wall_ms"]
            if layer in STAGE_MB:
                vals[STAGE_MB[layer]] += s["out_bytes"] / 2 ** 20
            if layer == "ops.cc_ms":
                vals["ops.cc_jobs"] += s["scheduler.jobs"]
        vals["io.output_files"] += s["out_files"]
    for s in spans:
        if s["kind"] == "row" and s["name"].startswith("warm_"):
            vals["harness.frames_ms"] += s["wall_ms"]
            vals["harness.frames_cached_mb"] += s["cached_bytes"] / 2 ** 20
    vals["out_mb"] = sum(op["out_bytes"] for op in rec["ops"]) / 2 ** 20
    vals = {k: v / npass for k, v in vals.items()}
    tasks = wl["scheduler.tasks"]
    vals["scheduler.task_fail_frac"] = wl["scheduler.failed_tasks"] / tasks if tasks else 0.0
    units = per_layer_units()
    return {k: {"value": vals[k], "unit": units[k]} for k in sorted(units)}


# ------------------------------------------------------------------ checks

def observed(rec):
    """The first pass's outputs, in the shape of expected.json."""
    out = {}
    for op in rec["ops"]:
        if op["pass"] == 0 and op["ok"] and not op["name"].startswith("warm_"):
            if rec["workload"] == "query_mix":
                out.update(op["counts"])
            else:
                out[op["name"]] = dict(op["counts"])
    return out


def check(rec, expected):
    """(attempted, failed, problems). An operation is one query row, one
    preamble row or one pipeline stage; it fails if it raised or if its
    value differs from the recorded one (or none is recorded). A
    recorded row or build that did not run fails too."""
    attempted, failed, problems = 0, 0, []
    for name in sorted(set(expected) - {op["name"] for op in rec["ops"]}):
        attempted += 1
        failed += 1
        problems.append(f"{name}: recorded but did not run")
    for op in rec["ops"]:
        if op["name"].startswith("warm_"):
            want = {op["name"]: None}
            got = want
        elif rec["workload"] == "query_mix":
            want = {op["name"]: expected.get(op["name"], "unrecorded")}
            got = dict(op["counts"])
        else:
            want = expected.get(op["name"]) or {op["name"]: "unrecorded"}
            got = dict(op["counts"])
        for key, w in want.items():
            attempted += 1
            if not op["ok"] or got.get(key) != w:
                failed += 1
                problems.append(f"{op['name']}/{key}: got {got.get(key)}, want {w}"
                                + (f" ({op['error']})" if op["error"] else ""))
    return attempted, failed, problems


# --------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite this workload's entry in expected.json from the run")
    args = ap.parse_args()

    started = time.time()
    classpath = build.build()
    bdir = build.build_dir()
    if not os.path.isdir(DATA):
        sys.exit(f"run: no input tables at {DATA}")
    tag = f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime(started))}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(bdir, "runs", tag)
    results = os.path.join(bdir, "results")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    skip = {bdir, os.path.join(ROOT, ".git")}
    before = snapshot(skip)

    ncpu = cores()
    result_json = os.path.join(run_dir, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    launch_ms = int(time.time() * 1000)
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dderby.system.home={run_dir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join(classpath), "perfbench.PerfBench",
           "--workload", args.workload, "--sf", DATA, "--dir", run_dir,
           "--seconds", str(args.seconds), "--seed", str(args.seed),
           "--trace", str(args.trace), "--cpus", str(ncpu),
           "--launch-ms", str(launch_ms), "--result", result_json]
    ticks0 = cpu_ticks()
    log_path = os.path.join(results, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log)
        try:
            rc = proc.wait(timeout=max(10, JVM_TIMEOUT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"run: {args.workload} did not finish in time; log: {log_path}")
    ticks1 = cpu_ticks()
    if rc != 0 or not os.path.exists(result_json):
        sys.exit(f"run: JVM exited {rc}; log: {log_path}")
    with open(result_json) as f:
        rec = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.record:
        expected = observed(rec)
    elif os.path.exists(EXPECTED):
        expected = json.load(open(EXPECTED)).get(args.workload, {})
    else:
        expected = {}
    attempted, failed, problems = check(rec, expected)

    after = snapshot(skip)
    changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    attempted += 1
    if changed:
        failed += 1
        problems.append("checkout files changed by the run: " + ", ".join(changed[:10]))

    if args.record:  # after the isolation check, which it would trip
        exp = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
        exp[args.workload] = expected
        with open(EXPECTED, "w") as f:
            json.dump(exp, f, indent=1, sort_keys=True)
            f.write("\n")
    setup_s = (rec["setup_end_ms"] - launch_ms) / 1000.0
    metrics = per_layer(rec) if args.trace else end_to_end(rec, setup_s)
    spm = steal_pm(ticks0, ticks1)
    record = {
        "identity": {
            "git_sha": git_sha(), "cpus": ncpu, "heap_max_mb": rec["heap_max_mb"],
            "sf": os.path.basename(DATA), "seed": args.seed, "workload": args.workload,
            "seconds": args.seconds, "trace": args.trace,
            "start": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(started)),
            "steal_pm": spm, "steal_high": spm is not None and spm > STEAL_HIGH_PM,
        },
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "problems": problems, "metrics": metrics,
        "end_to_end": end_to_end(rec, setup_s),
        "ops": rec["ops"], "spans": rec["spans"],
    }
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(record, f)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    ident = record["identity"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} sha={ident['git_sha']} "
          f"cpus={ncpu} steal_pm={spm}{' (HIGH)' if ident['steal_high'] else ''} "
          f"record={os.path.relpath(os.path.join(results, tag + '.json'), ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
