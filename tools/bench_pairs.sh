#!/usr/bin/env bash
# Alternating parent/change runs of the sync benchmark (perfbench/run.py).
#
#   tools/bench_pairs.sh PARENT WORKLOAD [PAIRS] [SECONDS] [FIRST_SEED]
#
# Exports commit PARENT (any git revision) into a temp dir with
# `git archive`, then runs `perfbench/run.py --workload WORKLOAD` on that
# export and on this working tree, one pair per seed FIRST_SEED ...
# FIRST_SEED+PAIRS-1 (defaults: 10 pairs of 14 s from seed 1). The side
# that runs first alternates from pair to pair, so a drift of the host
# over the pairs does not favour one side. Before the pairs, each side
# runs once unrecorded: that run builds the side and dumps its
# class-data-sharing archive, which would otherwise inflate its first
# recorded set-up.
#
# Prints, per metric of BENCHMARK.json that both sides report, the median
# and Q1-Q3 of each side, the change of the medians, and the pairs the
# working tree won in the metric's "better" direction; then whether every
# run was correct and how many operations failed. Set OUT=DIR to keep the
# result line of every run as DIR/<side>-<seed>.json.
#
# The export and its build live under the temp dir and are removed at
# exit; nothing under perfbench/ is edited (run.py builds and writes its
# scratch data under perfbench/ of each side, the same as a direct run).
set -euo pipefail

usage="usage: $0 PARENT WORKLOAD [PAIRS] [SECONDS] [FIRST_SEED]"
parent=${1:?$usage}
workload=${2:?$usage}
pairs=${3:-10}
seconds=${4:-14}
seed0=${5:-1}

root=$(git rev-parse --show-toplevel)
rev=$(git -C "$root" rev-parse --verify "$parent^{commit}")
tmp=$(mktemp -d "${TMPDIR:-/tmp}/bench-pairs.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/parent" "$tmp/runs"
git -C "$root" archive "$rev" | tar -x -C "$tmp/parent"
echo "parent $rev exported to $tmp/parent" >&2

dir_of() { if [ "$1" = parent ]; then echo "$tmp/parent"; else echo "$root"; fi; }

# run SIDE SEED FILE: one benchmark run; FILE gets its result line, or
# stays absent when the run failed
run() {
  local out
  if out=$(cd "$(dir_of "$1")" && python3 perfbench/run.py \
      --workload "$workload" --seed "$2" --seconds "$seconds" --trace 0); then
    printf '%s\n' "$out" | tail -n 1 > "$3"
  else
    echo "$1 seed $2: run failed" >&2
  fi
}

for side in parent change; do
  echo "$side: build and warm-up run" >&2
  run "$side" "$seed0" "$tmp/warm-$side.json"
done
for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then order="parent change"; else order="change parent"; fi
  for side in $order; do
    echo "pair $((i + 1))/$pairs seed $seed: $side" >&2
    run "$side" "$seed" "$tmp/runs/$side-$seed.json"
  done
done
if [ -n "${OUT:-}" ]; then mkdir -p "$OUT" && cp "$tmp"/runs/*.json "$OUT"/ 2>/dev/null || true; fi

python3 - "$root/BENCHMARK.json" "$tmp/runs" "$workload" "$rev" <<'EOF'
import glob, json, os, statistics, sys

spec, runs, workload, rev = sys.argv[1:]
bench = json.load(open(spec))
better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
res = {}
for f in glob.glob(os.path.join(runs, "*.json")):
    side, seed = os.path.basename(f)[:-5].rsplit("-", 1)
    res[(side, int(seed))] = json.load(open(f))
seeds = sorted({s for _, s in res})
paired = [s for s in seeds if ("parent", s) in res and ("change", s) in res]

def q(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

print(f"{workload}: parent {rev[:12]} vs working tree, {len(paired)} pairs "
      f"(seeds {','.join(map(str, paired))})")
print(f"{'metric':40s} {'parent median [Q1-Q3]':>32s} {'change median [Q1-Q3]':>32s} "
      f"{'delta':>8s} {'wins':>6s}")
for name in sorted(better):
    pv, cv = [], []
    for s in paired:
        p = res[("parent", s)]["metrics"].get(name)
        c = res[("change", s)]["metrics"].get(name)
        if p is not None and c is not None:
            pv.append(p["value"]); cv.append(c["value"])
    if not pv:
        continue
    sign = -1 if better[name] == "lower" else 1
    wins = sum(1 for p, c in zip(pv, cv) if sign * (c - p) > 0)
    (p1, pm, p3), (c1, cm, c3) = q(pv), q(cv)
    delta = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
    fmt = lambda m, lo, hi: f"{m:.4g} [{lo:.4g}-{hi:.4g}]"
    print(f"{name:40s} {fmt(pm, p1, p3):>32s} {fmt(cm, c1, c3):>32s} "
          f"{delta:>8s} {wins:>3d}/{len(pv)}")
for side in ("parent", "change"):
    rs = [r for (sd, _), r in res.items() if sd == side]
    print(f"{side}: {len(rs)} runs, correct {sum(1 for r in rs if r['correct'])}, "
          f"failed ops {sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)}")
EOF
