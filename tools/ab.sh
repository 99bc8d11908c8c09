#!/usr/bin/env bash
# Matched, alternating A/B of one perfbench workload: a parent revision
# against the working tree.
#
#   tools/ab.sh <parent-rev> <workload> <seed...>
#
# Exports <parent-rev> with `git archive` into $TMPDIR/graft-ab-<sha>
# (TMPDIR defaults to /tmp; an existing export is reused), builds the
# engine and the benchmark in both trees, then runs one untraced
# `perfbench/run.py --workload <workload> --seed <seed>` per tree for each
# seed. Which tree runs first flips on every pair, so drift on the host
# lands on both sides. A copy of each run's JSON line goes to
# $TMPDIR/graft-ab-<sha>/ab-<workload>.jsonl.
#
# Prints the per-pair end-to-end metrics, then for each metric the
# median and quartiles of both sides, and how many pairs the change
# wins (lower is better, except ticks_per_s). Exits 1 after the table
# when any run reports `correct: false` or `failed > 0`.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: tools/ab.sh <parent-rev> <workload> <seed...>" >&2
  exit 64
fi
rev=$1 workload=$2
shift 2
seeds=("$@")

root=$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)
sha=$(git -C "$root" rev-parse --short "$rev^{commit}")
parent="${TMPDIR:-/tmp}/graft-ab-$sha"
log="$parent/ab-$workload.jsonl"
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")

child=""
trap '[ -n "$child" ] && kill "$child" 2>/dev/null; exit 130' INT TERM

if [ ! -f "$parent/BENCHMARK.json" ]; then
  mkdir -p "$parent"
  git -C "$root" archive "$sha" | tar -x -C "$parent"
fi

# Build both trees with the launcher's own build step, outside any timing.
for tree in "$parent" "$root"; do
  echo "ab: building $tree" >&2
  (cd "$tree" && python3 -c 'import os, sys
sys.path.insert(0, "perfbench")
import run
os.makedirs(run.OUT, exist_ok=True)
run.build()')
done

# One untraced run in <tree>; appends "<side> <seed> <json>" to the log.
run_one() {
  local side=$1 tree=$2 seed=$3 out
  out=$(mktemp)
  (cd "$tree" && exec python3 perfbench/run.py --workload "$workload" \
    --seed "$seed" --seconds "$seconds" --trace 0) >"$out" 2>&1 &
  child=$!
  if ! wait "$child"; then
    child=""
    tail -20 "$out" >&2
    rm -f "$out"
    echo "ab: $side run failed at seed $seed" >&2
    exit 1
  fi
  child=""
  echo "$side $seed $(tail -1 "$out")" >>"$log"
  rm -f "$out"
}

: >"$log"
for i in "${!seeds[@]}"; do
  seed=${seeds[$i]}
  if [ $((i % 2)) -eq 0 ]; then
    run_one parent "$parent" "$seed"; run_one change "$root" "$seed"
  else
    run_one change "$root" "$seed"; run_one parent "$parent" "$seed"
  fi
  echo "ab: pair $((i + 1))/${#seeds[@]} (seed $seed) done" >&2
done

python3 - "$log" "$workload" "$sha" <<'EOF'
import json, statistics, sys

log, workload, sha = sys.argv[1:]
runs = {}
for line in open(log):
    side, seed, doc = line.split(" ", 2)
    runs.setdefault(seed, {})[side] = json.loads(doc)
seeds = list(runs)
names = list(runs[seeds[0]]["parent"]["metrics"])
higher = {"ticks_per_s"}

print(f"A/B {workload}: parent {sha} vs working tree, {len(seeds)} alternating pairs")
print(f"{'seed':>6} " + " ".join(f"{n + ' p':>18} {n + ' c':>18}" for n in names)
      + "  correct")
for s in seeds:
    p, c = runs[s]["parent"], runs[s]["change"]
    cells = " ".join(f"{p['metrics'][n]['value']:>18.4f} {c['metrics'][n]['value']:>18.4f}"
                     for n in names)
    print(f"{s:>6} {cells}  {p['correct'] and c['correct']}")

def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

print()
for n in names:
    p = [runs[s]["parent"]["metrics"][n]["value"] for s in seeds]
    c = [runs[s]["change"]["metrics"][n]["value"] for s in seeds]
    (p1, pm, p3), (c1, cm, c3) = quart(p), quart(c)
    better = (lambda a, b: b > a) if n in higher else (lambda a, b: b < a)
    wins = sum(better(a, b) for a, b in zip(p, c))
    print(f"{n}: parent median {pm:.4f} [Q1 {p1:.4f}, Q3 {p3:.4f}, IQR {p3 - p1:.4f}]; "
          f"change median {cm:.4f} [Q1 {c1:.4f}, Q3 {c3:.4f}]; "
          f"change {100 * (cm - pm) / pm:+.1f}%, gap {abs(cm - pm):.4f}; "
          f"change better in {wins}/{len(seeds)} pairs")
docs = [r[x] for r in runs.values() for x in r]
ok = all(d["correct"] and d["failed"] == 0 for d in docs)
print(f"all runs correct: {all(d['correct'] for d in docs)}; "
      f"failed operations: {sum(d['failed'] for d in docs)}")
sys.exit(0 if ok else 1)
EOF
