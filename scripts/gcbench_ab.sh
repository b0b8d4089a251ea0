#!/usr/bin/env bash
# Alternating A/B run of the gcbench benchmark: a base commit against the
# working tree, same seeds on both sides.
#
#   scripts/gcbench_ab.sh [--base REF] [--workload NAME] [--pairs N]
#                         [--seed FIRST] [--trace 0|1] [--out DIR]
#
# Defaults: --base HEAD~1 (the parent commit; pass --base HEAD to compare
# uncommitted changes with the last commit), --workload convert_ingest,
# --pairs 10, --seed 101, --trace 0. Each run lasts `run_seconds` from
# BENCHMARK.json, the run length the benchmark itself uses.
#
# The base commit is exported with `git archive` into a temporary directory
# (removed on exit), so the run registers nothing in the repository's git
# metadata. Both sides are built first. Pair i runs seed FIRST+i on both
# sides; odd pairs run the base first and even pairs the change first, so a
# drift in host speed falls on both sides alike. Each result line is kept
# in --out (default: a temporary directory, removed on exit). The summary
# prints, for every metric in the results, the per-pair values, both
# medians and in how many pairs the change was better (direction from
# BENCHMARK.json).
set -euo pipefail

root=$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)
base=HEAD~1 workload=convert_ingest pairs=10 seed=101 trace=0 out=""
while [ $# -gt 0 ]; do
  case "$1" in
    --base) base=$2; shift 2 ;;
    --workload) workload=$2; shift 2 ;;
    --pairs) pairs=$2; shift 2 ;;
    --seed) seed=$2; shift 2 ;;
    --trace) trace=$2; shift 2 ;;
    --out) out=$2; shift 2 ;;
    -h|--help) sed -n '2,21p' "$0"; exit 0 ;;
    *) echo "unknown argument: $1" >&2; exit 2 ;;
  esac
done
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$root/BENCHMARK.json")

tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT
[ -n "$out" ] || out=$tmp/results
mkdir -p "$out" "$tmp/base"
git -C "$root" archive "$(git -C "$root" rev-parse --verify "$base^{commit}")" | tar -x -C "$tmp/base"
echo "base $(git -C "$root" rev-parse --short "$base") in $tmp/base; change: working tree of $root" >&2

for side in "$tmp/base" "$root"; do
  echo "building $side" >&2
  (cd "$side/gcbench" && python3 -c 'import run; run.build()')
done

run_side() { # name dir seed
  local f="$out/$1_$3.json"
  if ! python3 "$2/gcbench/run.py" --workload "$workload" --seed "$3" --seconds "$seconds" \
      --trace "$trace" 2> "$out/$1_$3.err" | tail -n 1 > "$f"; then
    echo "$1 seed $3 failed; see $out/$1_$3.err" >&2
  fi
}

for i in $(seq 0 $((pairs - 1))); do
  s=$((seed + i))
  echo "pair $((i + 1))/$pairs, seed $s" >&2
  if [ $((i % 2)) -eq 0 ]; then
    run_side base "$tmp/base" "$s"; run_side change "$root" "$s"
  else
    run_side change "$root" "$s"; run_side base "$tmp/base" "$s"
  fi
done

python3 - "$out" "$root/BENCHMARK.json" "$seed" "$pairs" "$workload" <<'EOF'
import json, statistics, sys
out, bench, seed, pairs, workload = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), sys.argv[5]
spec = json.load(open(bench))
better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}
e2e = [m["name"] for m in spec["end_to_end"]]

def load(side, s):
    try:
        return json.load(open(f"{out}/{side}_{s}.json"))
    except (OSError, ValueError):
        return None

seeds = list(range(seed, seed + pairs))
runs = {side: [load(side, s) for s in seeds] for side in ("base", "change")}
print(f"workload {workload}, {pairs} pairs, seeds {seeds[0]}..{seeds[-1]}")
for side in ("base", "change"):
    ok = [r for r in runs[side] if r]
    print(f"{side}: {len(ok)}/{pairs} runs, correct {sum(r['correct'] for r in ok)}, "
          f"failed/attempted {sum(r['failed'] for r in ok)}/{sum(r['attempted'] for r in ok)}")
names = sorted({k for side in runs.values() for r in side if r for k in r["metrics"]},
               key=lambda n: (n not in e2e, e2e.index(n) if n in e2e else 0, n))
print(f"{'metric':28} {'better':6}  " + "  ".join(f"{'pair ' + str(i + 1):>19}" for i in range(pairs))
      + f"  {'median base':>12} {'median change':>13}  wins")
for n in names:
    vals = {side: [r["metrics"].get(n, {}).get("value") if r else None for r in runs[side]]
            for side in runs}
    cells, wins, both = [], 0, 0
    for b, c in zip(vals["base"], vals["change"]):
        cells.append(f"{b:>9.6g}/{c:<9.6g}" if b is not None and c is not None else f"{'-':>19}")
        if b is not None and c is not None and n in better:
            both += 1
            wins += (c > b) if better[n] == "higher" else (c < b)
    med = {side: statistics.median([v for v in vals[side] if v is not None])
           if any(v is not None for v in vals[side]) else float("nan") for side in vals}
    print(f"{n:28} {better.get(n, '?'):6}  " + "  ".join(cells)
          + f"  {med['base']:12.6g} {med['change']:13.6g}  "
          + (f"{wins}/{both}" if n in better else "-"))
EOF
