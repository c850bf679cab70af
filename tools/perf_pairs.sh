#!/usr/bin/env bash
# Alternating before/after pairs of one perfbench workload, run one at a time.
#
#   tools/perf_pairs.sh PARENT_CHECKOUT CHANGE_CHECKOUT WORKLOAD SECONDS SEED...
#
# For each seed, runs `python3 perfbench/run.py --workload WORKLOAD --seed SEED
# --seconds SECONDS --trace 0` once in each checkout. Pairs alternate which
# checkout runs first, so drift in host load falls on both sides. Then it
# prints, per end-to-end metric: the parent's and the change's medians, the
# parent's interquartile range, and in how many pairs the change was better
# (the direction comes from the change checkout's BENCHMARK.json), followed
# by the 1-minute host load at the start of the runs and the new temp dir
# that keeps each run's output.
#
# Both checkouts must be full copies of the repository (perfbench builds the
# engine from the checkout's own sources on its first run).
set -euo pipefail

if [ "$#" -lt 5 ]; then
  sed -n '2,16p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
workload=$3
seconds=$4
shift 4
out=$(mktemp -d -t perf_pairs.XXXXXX)

run() { # side checkout seed
  local log="$out/$1-$3.txt"
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0) > "$log" 2> "$out/$1-$3.err" || {
    echo "run failed: $1 seed $3 (see $out/$1-$3.err)" >&2
    exit 1
  }
  echo "$1 seed $3: $(tail -n 1 "$log")" >&2
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run parent "$parent" "$seed"; run change "$change" "$seed"
  else
    run change "$change" "$seed"; run parent "$parent" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$out" "$change/BENCHMARK.json" "$@" <<'EOF'
import json, statistics, sys

out, bench, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
better = {m["name"]: m["better"] for m in json.load(open(bench))["end_to_end"]}

def load(side, seed):
    lines = open(f"{out}/{side}-{seed}.txt").read().splitlines()
    metrics = json.loads(lines[-1])["metrics"]
    cond = next(json.loads(l.split(":", 1)[1]) for l in lines if l.startswith("# conditions:"))
    value = {k: (v["value"] if isinstance(v, dict) else v) for k, v in metrics.items()}
    return value, cond["load_avg_start_1_5_15"][0]

runs = {(side, s): load(side, s) for side in ("parent", "change") for s in seeds}

def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[2]

print(f"{'metric':<16} {'parent_med':>11} {'change_med':>11} {'parent_iqr':>11} {'wins':>6}")
for name, way in better.items():
    pairs = [(runs["parent", s][0].get(name), runs["change", s][0].get(name)) for s in seeds]
    pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
    if not pairs:
        continue
    ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
    q1, q3 = quartiles(ps)
    wins = sum((c < p) if way == "lower" else (c > p) for p, c in pairs)
    print(f"{name:<16} {statistics.median(ps):>11.4g} {statistics.median(cs):>11.4g} "
          f"{q3 - q1:>11.4g} {wins:>3}/{len(pairs)}")
loads = [runs[k][1] for k in sorted(runs, key=lambda k: (seeds.index(k[1]), k[0]))]
print(f"1-min load at run start: min {min(loads):.2f}, max {max(loads):.2f}; runs in {out}")
EOF
