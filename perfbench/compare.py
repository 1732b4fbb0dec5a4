#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BEFORE.jsonl AFTER.jsonl

Each file holds the last two stdout lines of each run of
perfbench/run.py, in run order (the detail line, then the result line).
Collect them with, for example:

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 perfbench/run.py --workload candle --seed $s --seconds 10 --trace 0 | tail -2
    done >> BEFORE.jsonl

Within each (workload, traced) group, the i-th run of BEFORE pairs with
the i-th run of AFTER, so run both sides with the same seed order. For each
workload and metric the report gives each side's median and quartiles,
the change of the medians, and the pair win rate of AFTER (ties count
for neither side). An end-to-end metric is

- "unresolved" when BEFORE's own spread (quartile distance over median)
  exceeds the metric's bound, unless every AFTER run beats every BEFORE
  run;
- "regressed" when AFTER's median is worse than BEFORE's by more than
  the bound;
- "improved" when AFTER wins at least 9 in 10 pairs and the medians
  differ by more than BEFORE's quartile distance;
- otherwise "same".

Per-layer metrics of traced runs have no bound: a layer is flagged as
moved only when both its busy_s and its task_s medians move by more
than 10% and more than BEFORE's own spread.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs, detail = [], None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "metrics" in obj:
                if detail is not None:
                    runs.append((detail["workload"], detail["traced"], detail["seed"], obj))
                detail = None
            else:
                detail = obj
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def better(a, b, direction):
    """1 when b beats a, -1 when a beats b, 0 on a tie."""
    if a == b:
        return 0
    return 1 if (b < a) == (direction == "lower") else -1


def main(before_path, after_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kinds = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    before, after = load(before_path), load(after_path)
    groups = sorted({(w, t) for w, t, _, _ in before} & {(w, t) for w, t, _, _ in after})
    for w, traced in groups:
        b_runs = [r for r in before if r[0] == w and r[1] == traced]
        a_runs = [r for r in after if r[0] == w and r[1] == traced]
        pairs = list(zip(b_runs, a_runs))
        print(f"\n== {w} ({'traced' if traced else 'untraced'}): "
              f"{len(b_runs)} before, {len(a_runs)} after, {len(pairs)} pairs")
        print(f"{'metric':44} {'before q1/med/q3':>30} {'after q1/med/q3':>30} {'change':>8} {'wins':>6}  verdict")
        medians = {}
        for name in sorted(b_runs[0][3]["metrics"]):
            m = kinds.get(name, {"better": "lower"})
            bx = [r[3]["metrics"][name]["value"] for r in b_runs if name in r[3]["metrics"]]
            ax = [r[3]["metrics"][name]["value"] for r in a_runs if name in r[3]["metrics"]]
            if not bx or not ax:
                continue
            bq, aq = quartiles(bx), quartiles(ax)
            change = (aq[1] - bq[1]) / abs(bq[1]) if bq[1] else float("nan")
            medians[name] = (bq, aq, spread(bx))
            wins = [better(p[0][3]["metrics"][name]["value"], p[1][3]["metrics"][name]["value"],
                           m["better"]) for p in pairs]
            decided = [x for x in wins if x != 0]
            rate = sum(1 for x in wins if x > 0) / len(wins) if wins else float("nan")
            verdict = ""
            if "bound" in m:
                worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
                all_better = all(better(b, a, m["better"]) > 0 for b in bx for a in ax)
                if spread(bx) > m["bound"] and not all_better:
                    verdict = "unresolved"
                elif worse:
                    verdict = "regressed"
                elif rate >= 0.9 and decided and abs(aq[1] - bq[1]) > (bq[2] - bq[0]):
                    verdict = "improved"
                else:
                    verdict = "same"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"{name:44} {fmt(bq):>30} {fmt(aq):>30} {change:>+8.1%} {rate:>6.0%}  {verdict}")
        if traced:
            layers = sorted({n.rsplit(".", 1)[0] for n in medians if n.endswith(".busy_s")})
            for layer in layers:
                moved = []
                for part in ("busy_s", "task_s"):
                    bq, aq, sp = medians.get(f"{layer}.{part}", ((0, 0, 0), (0, 0, 0), 0))
                    rel = (aq[1] - bq[1]) / abs(bq[1]) if bq[1] else 0.0
                    moved.append(abs(rel) > max(0.10, sp))
                if all(moved):
                    print(f"layer moved: {layer} (busy_s and task_s)")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
