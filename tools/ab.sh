#!/usr/bin/env bash
# Interleaved A/B runs of the repo benchmark (perfbench) between two
# revisions, reported as paired statistics.
#
# Usage: tools/ab.sh BASE HEAD WORKLOAD PAIRS [FIRST_SEED] [WORKDIR]
#   e.g. tools/ab.sh HEAD~1 HEAD scd_ingest 10
#
# BASE and HEAD are any git revisions of this repository. Both are
# exported (git archive) into WORKDIR/base and WORKDIR/head (default
# WORKDIR /tmp/graft-ab), built once, and warmed by one unrecorded
# short run (seed FIRST_SEED, outside the measured range): a copy's
# first run dumps the JVM class-data archive, which slows it and
# inflates its heap, so no measured run is a copy's first.
# Pair i (1..PAIRS) runs
#
#   python3 perfbench/run.py --workload WORKLOAD --seed FIRST_SEED+i \
#       --seconds 10 --trace 0
#
# in both copies, BASE first on odd pairs and HEAD first on even
# ones, so slow drift of the machine hits both sides alike. Every
# result line goes to WORKDIR/runs.jsonl, with the run's drift-free
# `counts/op:` line next to it. The report gives, per metric, the
# median of each side, the spread of BASE (the distance between its
# quartiles), the median of the per-pair ratio HEAD/BASE, how many
# pairs HEAD was lower, and a two-sided sign-test p-value; then the
# per-side medians of the counts per op (jobs, tasks, executor cpu_s,
# shuffle_bytes), which do not drift with the machine's speed; then
# the failed-op counts of each side. In this mode the script only
# reads perfbench/ and BENCHMARK.json.
#
# WORKLOAD query:NAME times one registered query instead: each copy
# compiles once (`sbt --batch compile`, no warm-up run) and each side
# of a pair runs
#
#   REPS=3 sbt --batch "runMain graft.BenchOne NAME"
#
# whose printed median is the run's `median_s` metric; the seed only
# labels the pair. The alternation, per-side medians and sign test
# are the same. This mode reads build.sbt, project/ and src/main/
# (and the testdata BenchOne reads); sbt runs with the caller's
# environment (SBT_OPTS, COURSIER_MODE, SPARK_GRAFT_CPUS). The copies
# are removed at exit.
set -euo pipefail

if [ $# -lt 4 ]; then
  sed -n '2,/^set /{/^#/p}' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
base_rev=$1 head_rev=$2 workload=$3 pairs=$4
query=
case $workload in query:*) query=${workload#query:} ;; esac
first_seed=${5:-1000}
workdir=${6:-/tmp/graft-ab}
repo=$(git rev-parse --show-toplevel)
base_sha=$(git -C "$repo" rev-parse --verify "$base_rev^{commit}")
head_sha=$(git -C "$repo" rev-parse --verify "$head_rev^{commit}")

mkdir -p "$workdir"
runs="$workdir/runs.jsonl"
: > "$runs"
cleanup() { rm -rf "$workdir/base" "$workdir/head"; }
trap cleanup EXIT
for side in base head; do
  sha=$base_sha
  [ "$side" = head ] && sha=$head_sha
  rm -rf "${workdir:?}/$side"
  mkdir -p "$workdir/$side"
  git -C "$repo" archive "$sha" | tar -x -C "$workdir/$side"
  if [ -n "$query" ]; then
    (cd "$workdir/$side" && sbt --batch compile >&2)
    continue
  fi
  (cd "$workdir/$side" && python3 perfbench/build.py >&2)
  (cd "$workdir/$side" && python3 perfbench/run.py --workload "$workload" \
    --seed "$first_seed" --seconds 1 --trace 0 >/dev/null \
    2>>"$workdir/$side.log") ||
    echo "[ab] $side warm-up exited non-zero (see $workdir/$side.log)" >&2
done

run() { # side pair seed
  local out rc=0 line counts
  if [ -n "$query" ]; then
    out=$(cd "$workdir/$1" && REPS=3 sbt --batch \
      "runMain graft.BenchOne $query" 2>>"$workdir/$1.log") || rc=$?
    line=$(printf '%s\n' "$out" | sed -n \
      's/^\[benchone\] median \([0-9.]*\) s$/{"metrics": {"median_s": \1}}/p' |
      tail -n 1)
  else
    out=$(cd "$workdir/$1" && python3 perfbench/run.py --workload "$workload" \
      --seed "$3" --seconds 10 --trace 0 2>>"$workdir/$1.log") || rc=$?
    line=$(printf '%s\n' "$out" | grep '^{' | tail -n 1 || true)
  fi
  [ -n "$line" ] || line='{}'
  counts=$(printf '%s\n' "$out" | grep '^counts/op:' | tail -n 1 || true)
  printf '{"side":"%s","pair":%d,"seed":%d,"exit":%d,"counts":"%s","result":%s}\n' \
    "$1" "$2" "$3" "$rc" "$counts" "$line" >> "$runs"
  echo "[ab] pair $2 $1 seed $3 exit $rc" >&2
}

for i in $(seq 1 "$pairs"); do
  seed=$((first_seed + i))
  if [ $((i % 2)) -eq 1 ]; then
    run base "$i" "$seed"; run head "$i" "$seed"
  else
    run head "$i" "$seed"; run base "$i" "$seed"
  fi
done

python3 - "$runs" "$base_sha" "$head_sha" "$workload" <<'EOF'
import json, math, statistics, sys

path, base_sha, head_sha, workload = sys.argv[1:]
rows = [json.loads(l) for l in open(path) if l.strip()]
by = {}
for r in rows:
    by.setdefault(r["pair"], {})[r["side"]] = r

def sign_p(k, n):
    """Two-sided exact sign test: P(|wins - n/2| >= |k - n/2|)."""
    if n == 0:
        return 1.0
    lo = min(k, n - k)
    tail = sum(math.comb(n, i) for i in range(lo + 1)) / 2 ** n
    return min(1.0, 2 * tail)

print(f"workload {workload}: base {base_sha[:10]} vs head {head_sha[:10]}, "
      f"{len(by)} pairs")
def value(r, m):
    """A metric of one run: a number, or {"value": number, "unit": ...}."""
    v = r["result"].get("metrics", {}).get(m)
    v = v.get("value") if isinstance(v, dict) else v
    return v if isinstance(v, (int, float)) else None

metrics = sorted({k for p in by.values() for r in p.values()
                  for k in r["result"].get("metrics", {})})
print(f"{'metric':24s} {'base_med':>10s} {'head_med':>10s} {'base_iqr':>10s} "
      f"{'ratio_med':>9s} {'head<base':>9s} {'sign_p':>7s}")
for m in metrics:
    b, h, ratios, lower, n = [], [], [], 0, 0
    for p in by.values():
        if "base" not in p or "head" not in p:
            continue
        bv, hv = value(p["base"], m), value(p["head"], m)
        if bv is None or hv is None:
            continue
        b.append(bv); h.append(hv)
        if bv != 0:
            ratios.append(hv / bv)
        if hv != bv:
            n += 1
            lower += hv < bv
    if not b:
        continue
    ratio = f"{statistics.median(ratios):.3f}" if ratios else "-"
    q = statistics.quantiles(b, n=4) if len(b) > 1 else [b[0], b[0], b[0]]
    print(f"{m:24s} {statistics.median(b):10.4g} {statistics.median(h):10.4g} "
          f"{q[2] - q[0]:10.4g} {ratio:>9s} {f'{lower}/{n}':>9s} "
          f"{sign_p(lower, n):7.3f}")
def counts(r):
    """The `counts/op: jobs=.. tasks=..` line of a run, as numbers."""
    kv = (f.split("=", 1) for f in r.get("counts", "").split()[1:])
    return {k: float(v) for k, v in kv}

print(f"{'counts/op':24s} {'base_med':>10s} {'head_med':>10s}")
for c in ("jobs", "tasks", "cpu_s", "shuffle_bytes"):
    meds = []
    for side in ("base", "head"):
        vs = [counts(p[side]).get(c) for p in by.values() if side in p]
        vs = [v for v in vs if v is not None]
        meds.append(f"{statistics.median(vs):10.4g}" if vs else f"{'-':>10s}")
    print(f"{c:24s} {meds[0]} {meds[1]}")
for side in ("base", "head"):
    rs = [p[side] for p in by.values() if side in p]
    failed = sum(r["result"].get("failed", 0) for r in rs)
    attempted = sum(r["result"].get("attempted", 0) for r in rs)
    bad = sum(1 for r in rs if r["exit"] != 0 or not r["result"])
    print(f"{side}: failed ops {failed}/{attempted}, runs with non-zero exit "
          f"or no result {bad}/{len(rs)}")
EOF
