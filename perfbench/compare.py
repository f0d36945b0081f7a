"""Compare benchmark runs of a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py RUNS_DIR

Each directory holds one file per run, named `<workload>-<seed>.json`,
containing the last line `perfbench/run.py` printed for that run. A parent
file and a change file with the same name form a pair; run the two sides
of each pair back to back, alternating which goes first. The seeds must
include the held-out seed when a gain is claimed (see NOTES.md).

For every workload and metric the helper prints each side's median and
quartiles. For the end-to-end metrics of BENCHMARK.json it gives a
verdict:

- gain: the change wins at least 9 of every 10 pairs (ties count for
  neither) and the medians differ by more than the parent's quartile
  spread;
- regression: the change's median is worse than the parent's by more
  than the metric's bound;
- unresolved: the parent's quartile spread, as a share of its median,
  exceeds the bound, unless every change run beats every parent run;
- no regression: otherwise.

A run that failed any operation makes its side's verdicts void: the
helper reports it and exits 1.

Given one directory, the helper reports steadiness instead: for every
workload and metric, the median, the quartiles, and the quartile spread as
a share of the median next to the metric's bound.
"""

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def load(d):
    runs = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                runs[name[:-5]] = json.load(f)
    return runs


def verdict(p, c, better, bound):
    pq1, pm, pq3 = quartiles(p)
    _, cm, _ = quartiles(c)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
    all_better = (min(c) > max(p)) if better == "higher" else (max(c) < min(p))
    if len(p) >= 10 and wins >= 0.9 * len(p) and abs(cm - pm) > (pq3 - pq1):
        return f"gain ({wins}/{len(p)} pairs)"
    if sign * (cm - pm) < -bound * abs(pm):
        return f"regression (worse by {abs(cm / pm - 1):.1%}, bound {bound:.0%})"
    if (pq3 - pq1) > bound * abs(pm) and not all_better:
        return f"unresolved (parent spread {(pq3 - pq1) / abs(pm):.1%} > bound {bound:.0%})"
    return f"no regression ({wins}/{len(p)} pairs won)"


def workloads(keys):
    return sorted({k.rsplit("-", 1)[0] for k in keys})


def steadiness(runs, gated):
    for w in workloads(runs):
        keys = [k for k in runs if k.rsplit("-", 1)[0] == w]
        print(f"{w}: {len(keys)} runs, {sum(runs[k]['failed'] for k in keys)} failed ops")
        for metric in runs[keys[0]]["metrics"]:
            xs = [runs[k]["metrics"][metric]["value"] for k in keys]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / abs(med) if med else 0.0
            bound = f"  bound {gated[metric]['bound']:.0%}" if metric in gated else ""
            print(f"  {metric:<40} {med:.6g} [{q1:.6g}, {q3:.6g}]  spread {spread:.1%}{bound}")


def main(argv):
    if len(argv) not in (2, 3):
        raise SystemExit(__doc__.split("\n\n")[1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    gated = {m["name"]: m for m in spec["end_to_end"]}
    if len(argv) == 2:
        steadiness(load(argv[1]), gated)
        return 0
    parent, change = load(argv[1]), load(argv[2])
    pairs = sorted(set(parent) & set(change))
    if not pairs:
        raise SystemExit("no run appears in both directories")
    bad = [f"{side} {k}" for side, runs in (("parent", parent), ("change", change))
           for k in pairs if runs[k]["failed"] or not runs[k]["correct"]]
    for w in workloads(pairs):
        keys = [k for k in pairs if k.rsplit("-", 1)[0] == w]
        print(f"{w}: {len(keys)} pairs")
        for metric in parent[keys[0]]["metrics"]:
            p = [parent[k]["metrics"][metric]["value"] for k in keys]
            c = [change[k]["metrics"][metric]["value"] for k in keys]
            unit = parent[keys[0]]["metrics"][metric]["unit"]
            pq = quartiles(p)
            cq = quartiles(c)
            line = (f"  {metric:<40} parent {pq[1]:.6g} [{pq[0]:.6g}, {pq[2]:.6g}]  "
                    f"change {cq[1]:.6g} [{cq[0]:.6g}, {cq[2]:.6g}] {unit}")
            if metric in gated:
                line += "  " + verdict(p, c, gated[metric]["better"], gated[metric]["bound"])
            print(line)
    if bad:
        print("runs with failed operations, verdicts void:", ", ".join(bad))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
