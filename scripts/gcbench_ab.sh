#!/usr/bin/env bash
# Alternating A/B run of the gcbench benchmark: a base commit against the
# working tree, same seeds on both sides.
#
#   scripts/gcbench_ab.sh [--base REF] [--workload NAME] [--pairs N]
#                         [--seed FIRST] [--trace 0|1] [--aa] [--out DIR]
#                         [--benchx QUERIES]
#
# Defaults: --base HEAD~1 (the parent commit; pass --base HEAD to compare
# uncommitted changes with the last commit), --workload convert_ingest,
# --pairs 10, --seed 101, --trace 0. Each run lasts `run_seconds` from
# BENCHMARK.json, the run length the benchmark itself uses.
#
# --benchx QUERIES (comma-separated SparkEntry query names, e.g.
# q21_minhash_dedup,q22_simhash) runs graft.BenchExtra instead of gcbench:
# each run is one JVM that times the selected queries SPARK_GRAFT_REPEATS
# times (default 3) on SPARK_GRAFT_SF_DIR (default sf0.1) with
# SPARK_GRAFT_CPUS cores (default 4), and the summary compares each
# query's min-of-N seconds (its "min"; the "record" of the untimed recorded
# run is not read); --workload, --seed and --trace do not apply.
#
# Every side runs from its own export, in sibling directories of one
# temporary directory (removed on exit), so no side runs from a different
# place than another: the base commit via `git archive`, the change as the
# working tree's tracked and untracked, non-ignored files. Nothing is
# registered in the repository's git metadata. --aa adds a third side, a
# second export of the base, so the base also runs against itself. All
# sides are built first. Pair i runs seed FIRST+i on every side, in an order
# that rotates from pair to pair, so a drift in host speed falls on all
# sides alike. Each result line is kept in --out (default: inside the
# temporary directory). The summary prints, for every metric in the
# results, the per-pair base/change values, both medians, the base's
# interquartile range, in how many pairs the change was better (direction
# from BENCHMARK.json), the change's median gap to the base and, with --aa,
# the base copy's median gap to the base: the gap the copy alone makes.
set -euo pipefail

root=$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)
base=HEAD~1 workload=convert_ingest pairs=10 seed=101 trace=0 out="" aa=0 benchx=""
while [ $# -gt 0 ]; do
  case "$1" in
    --base) base=$2; shift 2 ;;
    --workload) workload=$2; shift 2 ;;
    --pairs) pairs=$2; shift 2 ;;
    --seed) seed=$2; shift 2 ;;
    --trace) trace=$2; shift 2 ;;
    --out) out=$2; shift 2 ;;
    --aa) aa=1; shift ;;
    --benchx) benchx=$2; shift 2 ;;
    -h|--help) sed -n '2,35p' "$0"; exit 0 ;;
    *) echo "unknown argument: $1" >&2; exit 2 ;;
  esac
done
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$root/BENCHMARK.json")

tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT
[ -n "$out" ] || out=$tmp/results
mkdir -p "$out" "$tmp/base" "$tmp/change"
rev=$(git -C "$root" rev-parse --verify "$base^{commit}")
git -C "$root" archive "$rev" | tar -x -C "$tmp/base"
(cd "$root" && git ls-files -co --exclude-standard | tar -cT - | tar -x -C "$tmp/change")
sides="base change"
if [ "$aa" = 1 ]; then
  mkdir -p "$tmp/aa"
  git -C "$root" archive "$rev" | tar -x -C "$tmp/aa"
  sides="base change aa"
fi
echo "base $(git -C "$root" rev-parse --short "$rev"), change: working tree of $root; sides [$sides] under $tmp" >&2

# the benchx command line is the benchmark's own JVM command (heap, GC,
# --add-opens) with graft.BenchExtra as the main class, one per side
for side in $sides; do
  echo "building $side" >&2
  (cd "$tmp/$side/gcbench" && python3 -c '
import os, sys, run
cp = run.build()
if sys.argv[1]:
    os.makedirs(sys.argv[2], exist_ok=True)
    cmd = run.java_cmd(cp, sys.argv[2], [])
    cmd[-3:-1] = ["-Dspark.sql.session.timeZone=UTC", "-cp", cp]
    cmd[-1] = "graft.BenchExtra"
    sys.stdout.write("\0".join(cmd))
' "$benchx" "$tmp/$side.jtmp" > "$tmp/$side.cmd")
done

run_side() { # side seed
  local f="$out/$1_$2.json"
  if [ -n "$benchx" ]; then
    local cmd
    mapfile -d '' cmd < "$tmp/$1.cmd"
    if ! SPARK_GRAFT_ONLY="$benchx" "${cmd[@]}" 2> "$out/$1_$2.err" < /dev/null \
        | tail -n 1 > "$f"; then
      echo "$1 run $2 failed; see $out/$1_$2.err" >&2
    fi
  elif ! python3 "$tmp/$1/gcbench/run.py" --workload "$workload" --seed "$2" --seconds "$seconds" \
      --trace "$trace" 2> "$out/$1_$2.err" | tail -n 1 > "$f"; then
    echo "$1 seed $2 failed; see $out/$1_$2.err" >&2
  fi
}

read -r -a order <<< "$sides"
for i in $(seq 0 $((pairs - 1))); do
  s=$((seed + i))
  echo "pair $((i + 1))/$pairs, seed $s" >&2
  for k in $(seq 0 $((${#order[@]} - 1))); do
    run_side "${order[$(((i + k) % ${#order[@]}))]}" "$s"
  done
done

label=$workload
[ -z "$benchx" ] || label="benchx $benchx"
python3 - "$out" "$root/BENCHMARK.json" "$seed" "$pairs" "$label" $sides <<'EOF'
import json, statistics, sys
out, bench, seed, pairs, workload = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), sys.argv[5]
sides = sys.argv[6:]
spec = json.load(open(bench))
benchx = workload.startswith("benchx ")
if benchx:  # per-query min-of-N seconds
    better = {q: "lower" for q in workload.split()[1].split(",")}
    e2e = []
else:
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}
    e2e = [m["name"] for m in spec["end_to_end"]]

def load(side, s):
    try:
        return json.load(open(f"{out}/{side}_{s}.json"))
    except (OSError, ValueError):
        return None

def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else float("nan")

def iqr(xs):
    xs = [x for x in xs if x is not None]
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]

def gap(x, base):
    return f"{100 * (x / base - 1):+.1f}%" if base else "-"

def values(r):
    if benchx:
        return {q: v.get("min") for q, v in r["queries"].items()}
    return {k: v.get("value") for k, v in r["metrics"].items()}

seeds = list(range(seed, seed + pairs))
runs = {side: [load(side, s) for s in seeds] for side in sides}
print(f"workload {workload}, {pairs} pairs" + ("" if benchx else f", seeds {seeds[0]}..{seeds[-1]}"))
for side in sides:
    ok = [r for r in runs[side] if r]
    if benchx:
        errors = sum("error" in v for r in ok for v in r["queries"].values())
        print(f"{side}: {len(ok)}/{pairs} runs, query errors {errors}")
    else:
        print(f"{side}: {len(ok)}/{pairs} runs, correct {sum(r['correct'] for r in ok)}, "
              f"failed/attempted {sum(r['failed'] for r in ok)}/{sum(r['attempted'] for r in ok)}")
runs = {side: [values(r) if r else None for r in runs[side]] for side in sides}
names = sorted({k for side in runs.values() for r in side if r for k in r},
               key=lambda n: (n not in e2e, e2e.index(n) if n in e2e else 0, n))
print(f"{'metric':28} {'better':6}  " + "  ".join(f"{'pair ' + str(i + 1):>19}" for i in range(pairs))
      + f"  {'median base':>12} {'median change':>13} {'iqr base':>10}  wins  {'A/B gap':>8}"
      + (f"  {'A/A gap':>8}" if "aa" in sides else ""))
for n in names:
    vals = {side: [r.get(n) if r else None for r in runs[side]] for side in runs}
    cells, wins, both = [], 0, 0
    for b, c in zip(vals["base"], vals["change"]):
        cells.append(f"{b:>9.6g}/{c:<9.6g}" if b is not None and c is not None else f"{'-':>19}")
        if b is not None and c is not None and n in better:
            both += 1
            wins += (c > b) if better[n] == "higher" else (c < b)
    med = {side: median(vals[side]) for side in vals}
    print(f"{n:28} {better.get(n, '?'):6}  " + "  ".join(cells)
          + f"  {med['base']:12.6g} {med['change']:13.6g} {iqr(vals['base']):10.4g}  "
          + (f"{wins:>2}/{both:<2}" if n in better else "  -  ")
          + f"  {gap(med['change'], med['base']):>8}"
          + (f"  {gap(med['aa'], med['base']):>8}" if "aa" in sides else ""))
EOF
