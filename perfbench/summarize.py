#!/usr/bin/env python3
"""Summarize the benchmark's run records.

    python3 perfbench/summarize.py [--sha SHA] [--json OUT] [--baseline OUT]
                                   [--compare OTHER.json]

Reads every record `run.py` left in `<build dir>/results/` for one git
sha (default: the checkout's) and prints

  * the end-to-end metrics per workload: median and quartile spread of
    the untraced runs, with their steal gauge (high-steal runs are
    counted and flagged, never dropped);
  * the workload x layer table from the traced runs' span trees: for
    each pipeline or query family, where the wall time went (Catalyst
    phases, codegen compiles, scheduler residual, executor task time,
    GC, shuffle), as the median over traced runs;
  * the tracing overhead: traced wall_s minus untraced wall_s, per
    workload.

`--json` writes the same as JSON; `--baseline` writes it with the runs'
identity, as the comparison point for later changes. `--compare` sets each end-to-end median beside the one in
another `--json` or `--baseline` file and marks a change beyond the
metric's bound in BENCHMARK.json.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402

# table column -> the span fields it sums
COLUMNS = [
    ("wall_ms", ["wall_ms"]),
    ("catalyst_ms", ["catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms"]),
    ("codegen_ms", ["codegen.compile_ms"]),
    ("codegen_n", ["codegen.classes"]),
    ("residual_ms", ["scheduler.residual_ms"]),
    ("jobs", ["scheduler.jobs"]),
    ("tasks", ["scheduler.tasks"]),
    ("task_run_ms", ["executor.run_ms"]),
    ("task_cpu_ms", ["executor.cpu_ms"]),
    ("gc_ms", ["executor.gc_ms"]),
    ("shuffle_kb", ["shuffle.write_bytes"]),
]


def load(sha):
    recs = []
    for p in sorted(glob.glob(os.path.join(build.build_dir(), "results", "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if sha in (None, r["identity"]["git_sha"]):
            recs.append(r)
    return recs


def spread(vals):
    if len(vals) < 2:
        return None
    q = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return (q[2] - q[0]) / med if med else None


def field(span, fields):
    v = sum(span[f] for f in fields)
    return v / 1024 if fields[0].endswith("_bytes") else v


def layer_table(traced):
    """{workload: {group: {column: median}}}: a group is one pipeline of
    the pipelines workload, or one query family of query_mix."""
    per_run = {}
    for r in traced:
        wl = r["identity"]["workload"]
        sums = {}
        for s in r["spans"]:
            if s["kind"] in ("build", "row"):
                group = s["name"] if s["kind"] == "build" else s["family"]
                acc = sums.setdefault(group, {c: 0.0 for c, _ in COLUMNS})
                for c, f in COLUMNS:
                    acc[c] += field(s, f)
            elif s["kind"] == "setup":
                sums["(setup)"] = {c: field(s, f) for c, f in COLUMNS}
        npass = len({op["pass"] for op in r["ops"]})
        for g, acc in sums.items():
            k = 1 if g == "(setup)" else npass
            per_run.setdefault(wl, {}).setdefault(g, []).append({c: v / k for c, v in acc.items()})
    return {wl: {g: {c: statistics.median(x[c] for x in runs) for c, _ in COLUMNS}
                 for g, runs in groups.items()}
            for wl, groups in per_run.items()}


def compare(out, other_path):
    """Print this sha's medians against another summary's, per workload
    and metric, as a ratio; flag a change beyond the metric's bound."""
    with open(other_path) as f:
        other = json.load(f)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    print(f"\n## this sha vs {other_path}")
    for wl, e in out["end_to_end"].items():
        theirs = other["end_to_end"].get(wl, {}).get("metrics", {})
        for m, v in e["metrics"].items():
            if m not in theirs:
                continue
            ratio = v["median"] / theirs[m]["median"]
            beyond = abs(ratio - 1) > bounds.get(m, 0)
            print(f"  {wl:<10} {m:<20} {theirs[m]['median']:>12.3f} -> {v['median']:>12.3f} "
                  f"x{ratio:.3f}{'  BEYOND BOUND ' + str(bounds.get(m)) if beyond else ''}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sha", default=run.git_sha(),
                    help="git sha whose records to summarize ('any' for all)")
    ap.add_argument("--json")
    ap.add_argument("--baseline")
    ap.add_argument("--compare")
    args = ap.parse_args()
    recs = load(None if args.sha == "any" else args.sha)
    if not recs:
        sys.exit(f"summarize: no run records for sha {args.sha}")
    plain = [r for r in recs if r["identity"]["trace"] == 0]
    traced = [r for r in recs if r["identity"]["trace"] == 1]
    out = {"sha": args.sha, "end_to_end": {}, "layers": {}, "per_layer": {},
           "tracing_overhead": {}}

    for wl in run.WORKLOADS:
        rs = [r for r in plain if r["identity"]["workload"] == wl]
        if not rs:
            continue
        steal = [r["identity"]["steal_pm"] for r in rs if r["identity"]["steal_pm"] is not None]
        e2e = {"runs": len(rs), "failed_runs": sum(not r["correct"] for r in rs),
               "high_steal_runs": sum(r["identity"]["steal_high"] for r in rs),
               "steal_pm_median": statistics.median(steal) if steal else None,
               "seeds": sorted(r["identity"]["seed"] for r in rs), "metrics": {}}
        for m, unit in run.END_TO_END:
            vals = [r["end_to_end"][m]["value"] for r in rs]
            e2e["metrics"][m] = {"median": statistics.median(vals), "unit": unit,
                                 "spread": spread(vals), "n": len(vals)}
        out["end_to_end"][wl] = e2e
    for wl in run.WORKLOADS:
        ts = [r for r in traced if r["identity"]["workload"] == wl]
        if ts:
            out["per_layer"][wl] = {
                m: statistics.median(r["metrics"][m]["value"] for r in ts)
                for m in ts[0]["metrics"]}
            if wl in out["end_to_end"]:
                tw = statistics.median(r["end_to_end"]["wall_s"]["value"] for r in ts)
                pw = out["end_to_end"][wl]["metrics"]["wall_s"]["median"]
                out["tracing_overhead"][wl] = {
                    "traced_wall_s": tw, "untraced_wall_s": pw, "delta_s": tw - pw,
                    "delta_frac": (tw - pw) / pw, "traced_runs": len(ts)}
    out["layers"] = layer_table(traced)

    print(f"# sha {args.sha}: {len(plain)} untraced and {len(traced)} traced runs")
    for wl, e in out["end_to_end"].items():
        print(f"\n## {wl}: {e['runs']} runs, {e['failed_runs']} failed, "
              f"steal_pm median {e['steal_pm_median']}, {e['high_steal_runs']} high-steal")
        for m, v in e["metrics"].items():
            sp = "-" if v["spread"] is None else f"{v['spread']:.3f}"
            print(f"  {m:<20} {v['median']:>12.3f} {v['unit']:<4} spread {sp}")
    for wl, groups in out["layers"].items():
        print(f"\n## layers, {wl} (median of traced runs, per pass)")
        print("  " + f"{'group':<12}" + "".join(f"{c:>13}" for c, _ in COLUMNS))
        for g, cols in sorted(groups.items()):
            print("  " + f"{g:<12}" + "".join(f"{cols[c]:>13.1f}" for c, _ in COLUMNS))
    for wl, o in out["tracing_overhead"].items():
        print(f"\n## tracing overhead, {wl}: traced {o['traced_wall_s']:.3f} s - untraced "
              f"{o['untraced_wall_s']:.3f} s = {o['delta_s']:+.3f} s ({o['delta_frac']:+.1%}, "
              f"{o['traced_runs']} traced runs)")
    if args.compare:
        compare(out, args.compare)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    if args.baseline:
        ident = dict(recs[0]["identity"])
        for k in ("seed", "workload", "trace", "start", "steal_pm", "steal_high"):
            ident.pop(k, None)
        starts = sorted(r["identity"]["start"] for r in plain)
        ident["runs_from"], ident["runs_to"] = starts[0], starts[-1]
        with open(args.baseline, "w") as f:
            json.dump(dict(out, identity=ident), f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
