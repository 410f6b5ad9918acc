#!/usr/bin/env bash
# Interleaved A/B of the perfbench end-to-end metrics between two
# checkouts of this repository.
#
#   tools/perf_ab.sh <parent-checkout> <change-checkout> <workload> <seed>...
#
# For each seed it runs `python3 perfbench/run.py --workload <workload>
# --seed <seed> --seconds 8 --trace 0` once in each checkout (each builds
# from its own sources), alternating which side runs first: the parent
# leads on the 1st, 3rd, ... seed, the change on the others. Before the
# first seed, each checkout gets one untimed run of the first seed, so
# that no measured run pays for the build or for the class-data archive
# a build's first run dumps at exit. Then it
# prints, per end-to-end metric, each side's median and quartiles and how
# many seed pairs the change won (its value better than the parent's in
# the metric's direction, taken from the parent's BENCHMARK.json), plus
# each run's correct/failed counts. Raw result lines are kept in a
# temporary directory whose path is printed first. A run that fails is
# reported and its pair is left out of the tally.
#
# The last column is a verdict against the metric's `bound` (a
# fraction of the parent median): `worse` if the change median is worse
# than the parent median by more than the bound; otherwise `unresolved`
# if the parent's IQR exceeds the bound times its median, unless every
# change run beats every parent run; otherwise `ok`.
#
# Below the table, each seed's parent -> change value of every
# end-to-end metric, one line per metric, in seed order.
#
# Then, for information only (no verdict), each side's median of every
# named metric in the detail line each run prints before its result
# line (`batch_p50_ms`, `upsert_p50_ms`, `fail_ratio`, ...), so the A/B
# shows where a change in the end-to-end metrics came from.
set -u

if [ "$#" -lt 4 ]; then
  sed -n '2,33p' "$0" | sed 's/^# \{0,1\}//'
  exit 2
fi
parent=$(cd "$1" && pwd) || exit 2
change=$(cd "$2" && pwd) || exit 2
workload=$3
shift 3
out=$(mktemp -d -t perf_ab.XXXXXX)
echo "raw results: $out"

run_side() { # side seed [warm]
  local dir name=$1-$2${3:+-$3}
  if [ "$1" = parent ]; then dir=$parent; else dir=$change; fi
  (cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds 8 --trace 0) >"$out/$name.out" 2>"$out/$name.err"
  local code=$?
  tail -n 1 "$out/$name.out" >"$out/$name.json"
  tail -n 2 "$out/$name.out" | head -n 1 >"$out/$name.detail.json"
  echo "seed $2 $1${3:+ ($3, untimed)}: exit $code $(head -c 160 "$out/$name.json")"
}

# the untimed runs: their results are kept beside the others but never
# tallied
for side in parent change; do
  run_side "$side" "$1" warm
done

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run_side parent "$seed"; run_side change "$seed"
  else
    run_side change "$seed"; run_side parent "$seed"
  fi
  i=$((i + 1))
done

python3 - "$out" "$parent/BENCHMARK.json" "$@" <<'EOF'
import json, os, sys

out, bench, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
with open(bench) as f:
    metrics = [(m["name"], m["better"], m["bound"]) for m in json.load(f)["end_to_end"]]


def load(side, seed, kind="json"):
    try:
        with open(os.path.join(out, "%s-%s.%s" % (side, seed, kind))) as f:
            return json.loads(f.read())
    except (OSError, ValueError):
        return None


def quantile(xs, p):  # linear between closest ranks, as perfbench/stats.py
    xs = sorted(xs)
    pos = (len(xs) - 1) * p
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


runs = {s: (load("parent", s), load("change", s)) for s in seeds}
pairs = {s: r for s, r in runs.items() if r[0] is not None and r[1] is not None}
for s, (p, c) in runs.items():
    for side, r in (("parent", p), ("change", c)):
        if r is None:
            print("seed %s %s: no result" % (s, side))
        else:
            print("seed %s %s: correct=%s attempted=%s failed=%s" % (
                s, side, r["correct"], r["attempted"], r["failed"]))
print("%d complete pairs" % len(pairs))
if not pairs:
    sys.exit(1)
def verdict(pv, cv, better, bound):
    sign = 1.0 if better == "lower" else -1.0  # > 0: the change is worse
    pm, cm = quantile(pv, 0.5), quantile(cv, 0.5)
    if sign * (cm - pm) > bound * abs(pm):
        return "worse"
    beats_all = (max(cv) < min(pv)) if better == "lower" else (min(cv) > max(pv))
    if quantile(pv, 0.75) - quantile(pv, 0.25) > bound * abs(pm) and not beats_all:
        return "unresolved"
    return "ok"


print("%-20s %28s %28s %8s %10s  %s" % (
    "metric", "parent median [q1, q3]", "change median [q1, q3]", "won", "change",
    "verdict"))
for name, better, bound in metrics:
    pv = [p["metrics"][name]["value"] for p, _ in pairs.values()]
    cv = [c["metrics"][name]["value"] for _, c in pairs.values()]
    won = sum((c < p) if better == "lower" else (c > p) for p, c in zip(pv, cv))
    pm, cm = quantile(pv, 0.5), quantile(cv, 0.5)
    print("%-20s %10.1f [%7.1f, %7.1f] %10.1f [%7.1f, %7.1f] %5d/%-2d %+9.1f%%  %s" % (
        name, pm, quantile(pv, 0.25), quantile(pv, 0.75),
        cm, quantile(cv, 0.25), quantile(cv, 0.75), won, len(pairs),
        100.0 * (cm - pm) / pm if pm else 0.0, verdict(pv, cv, better, bound)))

print()
print("per seed, parent -> change")
for name, _, _ in metrics:
    print("%-20s %s" % (name, ", ".join(
        "%s: %.4g -> %.4g" % (s, p["metrics"][name]["value"], c["metrics"][name]["value"])
        for s, (p, c) in pairs.items())))

details = {side: [d["named"] for d in (load(side, s, "detail.json") for s in seeds)
                  if isinstance(d, dict) and isinstance(d.get("named"), dict)]
           for side in ("parent", "change")}
names = sorted(set().union(*(n.keys() for runs in details.values() for n in runs)))
if names:
    print()
    print("named metrics (detail line; informational, no verdict)")
    print("%-36s %14s %14s %10s" % ("metric", "parent median", "change median", "unit"))
for name in names:
    meds, unit = [], ""
    for side in ("parent", "change"):
        vs = [n[name]["value"] for n in details[side]
              if name in n and isinstance(n[name].get("value"), (int, float))]
        unit = unit or next((n[name].get("unit", "") for n in details[side] if name in n), "")
        meds.append("%14.3f" % quantile(vs, 0.5) if vs else "%14s" % "-")
    print("%-36s %s %s %10s" % (name, meds[0], meds[1], unit))
EOF
