#!/usr/bin/env bash
# Interleaved A/B of the end-to-end benchmark between two checkouts.
#
# Usage: scripts/perfbench_ab.sh <parent_checkout> <change_checkout> <workload> <pairs> <seconds> <seed_base>
#
# Pair i runs `perfbench/run.py --workload <workload> --seed <seed_base + i>
# --seconds <seconds> --trace 0` once in each checkout, the parent first in
# even pairs and the change first in odd ones. Each run's end-to-end metrics
# are printed as it finishes; at the end, per metric, each side's median and
# quartiles and the number of pairs the change wins (ties count for
# neither; "better" comes from the parent's BENCHMARK.json). A gain holds
# when the change wins at least 9 of 10 pairs and the medians differ by more
# than the parent's interquartile range. Set AB_LOG=<file> to keep the raw
# JSON lines. Each checkout builds itself on its first run.
set -euo pipefail

if [ $# -ne 6 ]; then
  sed -n '4,5p' "$0" >&2
  exit 2
fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
workload=$3 pairs=$4 seconds=$5 seed_base=$6
log=${AB_LOG:-$(mktemp -t perfbench_ab.XXXXXX)}
: > "$log"

run() { # side checkout pair seed
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$4" \
    --seconds "$seconds" --trace 0 | tail -n 1)
  printf '{"side": "%s", "pair": %d, "seed": %d, "run": %s}\n' "$1" "$3" "$4" "$line" >> "$log"
  python3 -c 'import json, sys
r = json.loads(sys.argv[1])
m = " ".join("%s=%.4g" % (k, v["value"]) for k, v in sorted(r["metrics"].items()))
print("%-6s pair %s seed %s correct=%s %s" % (sys.argv[2], sys.argv[3], sys.argv[4], r["correct"], m))' \
    "$line" "$1" "$3" "$4"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed_base + i))
  if ((i % 2 == 0)); then
    run parent "$parent" "$i" "$seed"; run change "$change" "$i" "$seed"
  else
    run change "$change" "$i" "$seed"; run parent "$parent" "$i" "$seed"
  fi
done

python3 - "$log" "$parent/BENCHMARK.json" <<'EOF'
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1])]
better = {m["name"]: m["better"] for m in json.load(open(sys.argv[2]))["end_to_end"]}
by = {}
for r in runs:
    by.setdefault(r["side"], {})[r["pair"]] = r["run"]["metrics"]

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

pairs = sorted(set(by.get("parent", {})) & set(by.get("change", {})))
print(f"\n{len(pairs)} pairs; median [q1, q3] per side; wins = pairs the change is better")
for name in sorted(better):
    p = [by["parent"][i][name]["value"] for i in pairs if name in by["parent"][i]]
    c = [by["change"][i][name]["value"] for i in pairs if name in by["change"][i]]
    if not p or len(p) != len(c):
        continue
    sign = 1 if better[name] == "higher" else -1
    wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
    (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(p), quartiles(c)
    print(f"{name:16s} parent {pm:.4g} [{pq1:.4g}, {pq3:.4g}]  change {cm:.4g} "
          f"[{cq1:.4g}, {cq3:.4g}]  wins {wins}/{len(p)}  "
          f"|median gap| {abs(cm - pm):.4g} vs parent IQR {pq3 - pq1:.4g}")
print(f"raw runs: {sys.argv[1]}")
EOF
