#!/usr/bin/env python3
"""Compare two result sets of the benchmark: a parent and a change.

    python3 perfbench/compare.py parent.jsonl change.jsonl
    python3 perfbench/compare.py runs.jsonl        # one set: its spreads

A result set is the JSON-lines file that `run.py --record FILE` appends
to, one run per line. Run the two sides in alternating order (parent,
change, parent, change, ...) with the same seeds; runs pair up by
(workload, seed) in the order they were recorded. For each workload the
table has one row per end-to-end metric of BENCHMARK.json:

    each side's median [q1, q3];
    worse   how much worse the change's median is than the parent's, as a
            share of the parent's (negative: better);
    >bound  whether that exceeds the metric's bound;
    9/10    whether the change wins at least 9 of 10 pairs;
    verdict regressed / improved / same, or unresolved where either
            side's spread (q3 - q1 over the median) is wider than the bound.

Exits 1 when any metric regressed. Given one set, prints each end-to-end
metric's median and spread per workload, with the spread as a share of
the metric's bound (keep it under a third).
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def by_key(runs):
    out = {}
    for r in runs:
        if r.get("trace"):
            continue
        out.setdefault((r["workload"], r["seed"]), []).append(r)
    return out


def spreads(runs, metrics):
    work = {}
    for r in runs:
        if not r.get("trace"):
            work.setdefault(r["workload"], []).append(r)
    for w, rs in sorted(work.items()):
        print(f"== {w} ({len(rs)} runs)")
        for m in metrics:
            vs = [r["metrics"][m["name"]]["value"] for r in rs]
            if len(vs) < 2:
                continue
            sp = stats.spread(vs)
            print(f"{m['name']:<18} median {stats.quartiles(vs)[1]:<10.4g} spread {sp:6.1%}"
                  f"  bound {m['bound']:.0%}  ({sp / m['bound']:.2f} of it)")


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    if len(argv) == 2:
        spreads(load(argv[1]), metrics)
        return 0
    parent, change = by_key(load(argv[1])), by_key(load(argv[2]))
    regressed = False
    for w in sorted({k[0] for k in parent} | {k[0] for k in change}):
        pairs = []
        for key in sorted(k for k in parent if k[0] == w):
            pairs += list(zip(parent[key], change.get(key, [])))
        if len(pairs) < 2:
            print(f"{w}: fewer than two (parent, change) pairs")
            continue
        print(f"== {w} ({len(pairs)} pairs)")
        print(f"{'metric':<18} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30}"
              f" {'worse':>7} {'>bound':>6} {'9/10':>5}  verdict")
        for m in metrics:
            name = m["name"]
            pv = [p["metrics"][name]["value"] for p, _ in pairs]
            cv = [c["metrics"][name]["value"] for _, c in pairs]
            row = stats.compare_metric(pv, cv, list(zip(pv, cv)), m["better"], m["bound"])
            regressed |= row["regressed"]

            def fmt(q):
                return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{name:<18} {fmt(row['parent']):<30} {fmt(row['change']):<30}"
                  f" {row['worse_by']:>+7.1%} {'yes' if row['regressed'] else 'no':>6}"
                  f" {'yes' if row['wins_9_of_10'] else 'no':>5}  {row['verdict']}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
