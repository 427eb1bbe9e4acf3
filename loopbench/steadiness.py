"""Summarise untraced run records the way the steadiness check reads them.

    python3 loopbench/steadiness.py --workload serve --seeds 101-110 [--seeds 201-210 ...]

For each seed range (one set of runs), prints every end-to-end metric's
median and quartile spread (IQR / median, from
statistics.quantiles(values, n=4)), the host evidence of the set, and how
far each set's medians moved from the first set's; then the same for the
wall times the record keeps beside them (not gated). Then, over all runs
given, the correlation of each metric with the run's CPU steal share and
with its host speed probe. Reads .loopbench/records/ in the checkout; the
newest record of each seed counts.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def records(workload, seeds):
    newest = {}
    for path in glob.glob(os.path.join(ROOT, ".loopbench", "records", "%s-seed*-trace0-*.json" % workload)):
        with open(path) as f:
            rec = json.load(f)
        if rec["seed"] in seeds and (rec["seed"] not in newest or path > newest[rec["seed"]][0]):
            newest[rec["seed"]] = (path, rec)
    return [newest[s][1] for s in sorted(newest)]


def spread(values):
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def corr(xs, ys):
    mx, my = statistics.mean(xs), statistics.mean(ys)
    sx = sum((x - mx) ** 2 for x in xs) ** 0.5
    sy = sum((y - my) ** 2 for y in ys) ** 0.5
    return float("nan") if sx == 0 or sy == 0 else sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / (sx * sy)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", action="append", required=True, help="first-last, one per set")
    a = p.parse_args()
    sets = []
    for r in a.seeds:
        lo, hi = (int(x) for x in r.split("-"))
        recs = records(a.workload, set(range(lo, hi + 1)))
        if len(recs) < 2:
            print("seeds %s: %d records, need at least 2" % (r, len(recs)), file=sys.stderr)
            return 1
        sets.append((r, recs))
    names = list(sets[0][1][0]["result"]["metrics"])
    walls = [n for n in ("op1_p50_s", "op2_p50_s", "setup_wall_s") if n not in names]

    def value(rec, n):
        if n in rec["result"]["metrics"]:
            return rec["result"]["metrics"][n]["value"]
        if n == "setup_wall_s":
            return statistics.median(rec["setup_reps_s"])
        return rec[n]
    first = {}
    for label, recs in sets:
        steal = [x["host"]["steal_share"] for x in recs]
        probe = [x["host"]["speed_probe_s_median"] for x in recs]
        failed = sum(x["ops_failed"] for x in recs)
        print("%s seeds %s: %d runs, ops failed %d, steal %.3f-%.3f, speed probe %.4f-%.4f s"
              % (a.workload, label, len(recs), failed, min(steal), max(steal), min(probe), max(probe)))
        for n in names + walls:
            med, iqr = spread([value(x, n) for x in recs])
            first.setdefault(n, med)
            print("  %-22s median %10.4f  IQR/median %.3f  vs first set %+.3f%s"
                  % (n, med, iqr, med / first[n] - 1, "" if n in names else "  (wall, not gated)"))
    runs = [x for _, recs in sets for x in recs]
    steal = [x["host"]["steal_share"] for x in runs]
    probe = [x["host"]["speed_probe_s_median"] for x in runs]
    print("over %d runs: correlation with steal share / with speed probe" % len(runs))
    for n in names + walls:
        v = [value(x, n) for x in runs]
        print("  %-22s %+.2f / %+.2f" % (n, corr(steal, v), corr(probe, v)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
