#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by workload.

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are runs.jsonl files written by perfbench/run.py (or
directories holding one), normally the parent commit and the change, each
with ten or more seeds. Runs are paired by seed. For each (workload,
metric) the tool prints each side's median and quartiles, how many pairs
the change won, and a verdict:

  improved    the change wins at least 9/10 of the pairs and the medians
              differ by more than the base's own quartile spread;
  regressed   the change's median is worse than the base's by more than
              the metric's bound in BENCHMARK.json (per-layer metrics have
              no bound: the change loses 9/10 of the pairs and the medians
              differ by more than the base's quartile spread);
  unresolved  the base's quartile spread is wider than the bound and not
              every change run beats every base run, or, for a per-layer
              metric, neither of the above holds;
  unchanged   none of the above: no worse than the bound allows.

It also prints the error rate (failed / attempted operations) of each side.
"""
import json
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def better_than(a, b, better):
    return a < b if better == "lower" else a > b


def verdict(base, change, better, bound):
    """Verdict for paired samples: base[i] and change[i] share a seed."""
    _, bmed, _ = stats.quartiles(base)
    _, cmed, _ = stats.quartiles(change)
    q1, _, q3 = stats.quartiles(base)
    iqr = q3 - q1
    pairs = list(zip(base, change))
    wins = sum(better_than(c, b, better) for b, c in pairs)
    losses = sum(better_than(b, c, better) for b, c in pairs)
    moved = abs(cmed - bmed) > iqr
    if pairs and wins >= 0.9 * len(pairs) and moved:
        return "improved"
    if bound is None:
        return "regressed" if pairs and losses >= 0.9 * len(pairs) and moved else "unresolved"
    worse = (cmed - bmed) if better == "lower" else (bmed - cmed)
    worse_share = worse / abs(bmed) if bmed else float("inf")
    all_better = all(better_than(c, b, better) for c in change for b in base)
    if stats.spread(base) > bound and not all_better:
        return "unresolved"
    if worse_share > bound:
        return "regressed"
    return "unchanged"


def load(path):
    p = Path(path)
    if p.is_dir():
        p = p / "runs.jsonl"
    with open(p) as f:
        return [json.loads(line) for line in f if line.strip()]


def paired(base_runs, change_runs, workload, trace, metric):
    """Values of `metric` on both sides, paired by seed."""
    def by_seed(runs):
        out = defaultdict(list)
        for r in runs:
            m = r["result"]["metrics"].get(metric)
            if r["workload"] == workload and r["trace"] == trace and m:
                out[r["seed"]].append(m["value"])
        return out
    b, c = by_seed(base_runs), by_seed(change_runs)
    bs, cs = [], []
    for seed in sorted(set(b) & set(c)):
        n = min(len(b[seed]), len(c[seed]))
        bs += b[seed][:n]
        cs += c[seed][:n]
    return bs, cs


def error_rate(runs, workload):
    rs = [r["result"] for r in runs if r["workload"] == workload]
    att = sum(r["attempted"] for r in rs)
    return sum(r["failed"] for r in rs) / att if att else None


def compare(base_runs, change_runs, spec):
    rows = []
    metrics = [(m, 0, m["bound"]) for m in spec["end_to_end"]] + \
              [(m, 1, None) for m in spec["per_layer"]]
    for w in spec["workloads"]:
        for m, trace, bound in metrics:
            bs, cs = paired(base_runs, change_runs, w["name"], trace, m["name"])
            if not bs:
                continue
            rows.append({
                "workload": w["name"], "metric": m["name"], "unit": m["unit"],
                "pairs": len(bs),
                "base": stats.quartiles(bs), "change": stats.quartiles(cs),
                "wins": sum(better_than(c, b, m["better"]) for b, c in zip(bs, cs)),
                "verdict": verdict(bs, cs, m["better"], bound)})
    return rows


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base_runs, change_runs = load(sys.argv[1]), load(sys.argv[2])
    with open(HERE.parent / "BENCHMARK.json") as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        print(f"[{w['name']}] error_rate base {error_rate(base_runs, w['name'])} "
              f"change {error_rate(change_runs, w['name'])}")
    fmt = "{:16s} {:36s} {:>5s} {:>34s} {:>34s} {:>5s}  {}"
    print(fmt.format("workload", "metric", "pairs", "base q1/median/q3",
                     "change q1/median/q3", "wins", "verdict"))
    for r in compare(base_runs, change_runs, spec):
        q = lambda t: "/".join(f"{x:.4g}" for x in t)  # noqa: E731
        print(fmt.format(r["workload"], r["metric"], str(r["pairs"]), q(r["base"]),
                         q(r["change"]), str(r["wins"]), r["verdict"]))


if __name__ == "__main__":
    main()
