#!/bin/bash
# A/B two commits of this repo on one host, query by query.
# Usage: SPARK_GRAFT_SF_DIR=<sfDir> tools/ab.sh <old-ref> <new-ref> <query> [query ...]
#
# Each ref is `git archive`d into its own dir under $AB_DIR (default
# ${TMPDIR:-/tmp}/graft-ab/<sha>) and built with that copy's own
# perfbench/build.py, so each side runs its own classes and neither can
# measure the other's code. Then graft.WarmBench runs alternate between
# old and new (the order flips every pair), each JVM started behind
# tools/quiet_run.sh (waiting at most 15 s for a quiet window). A
# WarmBench JVM runs every query SPARK_GRAFT_RUNS times (default 3):
# run 1 is the cold number, the median of runs 2+ the steady one.
#
# Prints each side's resolved sha, then per query and side the median and
# IQR over AB_PAIRS pairs (default 5) of the cold and steady numbers, the
# new/old ratio of the medians, the pairs new won, and per side the
# steal_pm (permille of CPU time stolen by the hypervisor) over its runs.
set -euo pipefail
[ $# -ge 3 ] || { sed -n 3p "$0" >&2; exit 2; }
: "${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the sf dir the queries read}"
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
AB_DIR="${AB_DIR:-${TMPDIR:-/tmp}/graft-ab}"
PAIRS="${AB_PAIRS:-5}"
OLD_REF=$1; NEW_REF=$2; shift 2
mkdir -p "$AB_DIR"
LOG="$(mktemp "$AB_DIR/ab-XXXXXX.tsv")"

# checkout + build one ref; prints the run classpath
prepare() {
  local sha dir
  sha="$(git -C "$REPO" rev-parse --verify "$1^{commit}")"
  dir="$AB_DIR/$sha"
  if [ ! -d "$dir" ]; then
    mkdir -p "$dir.tmp"
    git -C "$REPO" archive "$sha" | tar -x -C "$dir.tmp"
    mv "$dir.tmp" "$dir"
  fi
  [ -f "$dir/perfbench/build.py" ] || { echo "ab: $1 has no perfbench/build.py" >&2; exit 2; }
  (unset CARGO_TARGET_DIR; python3 "$dir/perfbench/build.py")
}
OLD_SHA="$(git -C "$REPO" rev-parse --verify "$OLD_REF^{commit}")"
NEW_SHA="$(git -C "$REPO" rev-parse --verify "$NEW_REF^{commit}")"
echo "old $OLD_SHA ($OLD_REF)"
echo "new $NEW_SHA ($NEW_REF)"
OLD_CP="$(prepare "$OLD_REF")"
NEW_CP="$(prepare "$NEW_REF")"

ADDOPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
stat_busy_steal() { read -r _ u n s _ _ _ _ st _ < /proc/stat; echo "$((u+n+s+st)) $st"; }

# one WarmBench JVM on one side; appends "side pair query run sec steal_pm"
run_side() {
  local side=$1 pair=$2 cp=$3 out b0 s0 b1 s1 pm
  shift 3
  read -r b0 s0 < <(stat_busy_steal)
  out="$("$REPO/tools/quiet_run.sh" -w 15 java "${ADDOPENS[@]}" \
    -Xmx"${SPARK_DRIVER_MEM:-24g}" \
    -XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$cp" graft.WarmBench "$SPARK_GRAFT_SF_DIR" "$@" 2>>"$LOG.err")"
  read -r b1 s1 < <(stat_busy_steal)
  pm=$(( b1 > b0 ? 1000 * (s1 - s0) / (b1 - b0) : 0 ))
  # WarmBench prints "<query> run<i> <sec> s rows=<n>"
  echo "$out" | awk -v side="$side" -v pair="$pair" -v pm="$pm" \
    '$2 ~ /^run[0-9]+$/ { sub("run", "", $2); print side, pair, $1, $2, $3, pm }' >> "$LOG"
}

for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) -eq 1 ]; then
    run_side old "$i" "$OLD_CP" "$@"; run_side new "$i" "$NEW_CP" "$@"
  else
    run_side new "$i" "$NEW_CP" "$@"; run_side old "$i" "$OLD_CP" "$@"
  fi
  echo "pair $i/$PAIRS done" >&2
done

python3 - "$LOG" "$@" <<'EOF'
import statistics as st, sys
log, queries = sys.argv[1], sys.argv[2:]
rows = [l.split() for l in open(log) if l.strip()]
def per_pair(side, q):
    """pair -> (cold, steady): run 1, and the median of runs 2+."""
    runs = {}
    for s, p, qq, r, sec, _ in rows:
        if s == side and qq == q:
            runs.setdefault(int(p), {})[int(r)] = float(sec)
    return {p: (rs.get(1), st.median([v for k, v in rs.items() if k > 1])
                if len(rs) > 1 else None) for p, rs in runs.items()}
def med_iqr(xs):
    xs = [x for x in xs if x is not None]
    if not xs: return float("nan"), float("nan")
    if len(xs) < 2: return xs[0], 0.0
    q = st.quantiles(xs, n=4, method="inclusive")
    return st.median(xs), q[2] - q[0]
print(f"{'query':28} {'side':4} {'cold_med':>8} {'cold_iqr':>8} {'steady_med':>10} {'steady_iqr':>10}")
for q in queries:
    o, n = per_pair("old", q), per_pair("new", q)
    meds = {}
    for side, d in (("old", o), ("new", n)):
        cm, ci = med_iqr([v[0] for v in d.values()])
        sm, si = med_iqr([v[1] for v in d.values()])
        meds[side] = (cm, sm)
        print(f"{q:28} {side:4} {cm:8.3f} {ci:8.3f} {sm:10.3f} {si:10.3f}")
    both = sorted(set(o) & set(n))
    def wins(k):
        ps = [p for p in both if o[p][k] is not None and n[p][k] is not None]
        return f"{sum(n[p][k] < o[p][k] for p in ps)}/{len(ps)}"
    ratio = lambda k: meds["new"][k] / meds["old"][k] if meds["old"][k] else float("nan")
    print(f"{q:28} new/old cold {ratio(0):.3f} (new won {wins(0)}), "
          f"steady {ratio(1):.3f} (new won {wins(1)})")
for side in ("old", "new"):
    pms = sorted({(r[1], int(r[5])) for r in rows if r[0] == side})
    vals = [v for _, v in pms]
    if vals:
        print(f"steal_pm {side}: min {min(vals)} median {st.median(vals)} max {max(vals)}")
print(f"raw runs: {log}")
EOF
