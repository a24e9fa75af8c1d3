"""Run one workload over several seeds and report each end-to-end metric's
median and spread, the distance between its first and third quartile as a
share of its median.

    python3 perfbench/spread.py --workload search_serial --seeds 1-10 \
        [--record perfbench/baseline.json --label <name> [--against <name>]]

A spread above a third of the metric's bound in BENCHMARK.json is flagged.
With --record, the per-seed values and the summary are stored under
`<label>/<workload>` in the given JSON file. With --against <label>, each
median is compared with the one recorded under that label, and a median
worse than it by more than the bound is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) by statistics.quantiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def worse_by(first, second, better):
    """How much worse `second` is than `first`, as a share of `first`."""
    change = (second - first) / first
    return change if better == "lower" else -change


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--record")
    ap.add_argument("--label", default="runs")
    ap.add_argument("--against")
    args = ap.parse_args(argv)
    recorded = {}
    if args.record and os.path.isfile(args.record):
        with open(args.record) as f:
            recorded = json.load(f)
    before = recorded.get(args.against, {}).get(args.workload, {}).get("summary", {}) \
        if args.against else {}
    if args.against and not before:
        print("nothing recorded under %s/%s" % (args.against, args.workload))
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = {}
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print("seed %d failed (exit %d):\n%s" % (seed, proc.returncode, proc.stderr[-2000:]))
            return 1
        out = json.loads(lines[-1])
        runs[seed] = out
        regime = next((json.loads(l[len("regime: "):]) for l in lines if l.startswith("regime: ")),
                      {})
        print("seed %d: correct=%s failed=%d %s wall=%ss steal=%s" % (
            seed, out["correct"], out["failed"], " ".join(
                "%s=%.4g" % (k, v["value"]) for k, v in out["metrics"].items()),
            regime.get("wall_s"), regime.get("cpu_steal")), flush=True)
    summary = {}
    steady = True
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs.values()]
        med, q1, q3, s = spread(vals)
        flag = s > m["bound"] / 3
        note = "  ABOVE bound/3" if flag else ""
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": s, "bound": m["bound"]}
        if m["name"] in before:
            worse = worse_by(before[m["name"]]["median"], med, m["better"])
            summary[m["name"]]["worse_than_" + args.against] = worse
            note += "  %+.3f vs %s" % (worse, args.against)
            if worse > m["bound"]:
                flag = True
                note += " ABOVE bound"
        steady &= not flag
        print("%-18s median %10.4f  spread %.3f  bound %.2f%s" % (m["name"], med, s, m["bound"], note))
    if args.record:
        recorded.setdefault(args.label, {})[args.workload] = {
            "runs": {str(k): v for k, v in runs.items()}, "summary": summary}
        with open(args.record, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0 if steady else 3


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
