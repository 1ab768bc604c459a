"""Alternating A/B pairs of perfbench runs: parent checkout vs change.

    python tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload doc_stream \
        --pairs 10 --first-seed 11

Pair i runs one untraced ``perfbench/run.py`` child (15 s window) in
each checkout at seed first_seed + i; the parent goes first in even
pairs and the change in odd ones, so both sides sample the same host
windows. For every end-to-end metric of BENCHMARK.json it prints the
per-pair change/parent ratios, the change's win count (ties count for
neither side), each side's median and quartiles, and two readings:

- claim: the change wins >= 9/10 of the pairs and the medians differ,
  in the better direction, by more than the parent's interquartile
  range;
- bound: the change's median is worse than the parent's by no more
  than the metric's bound; "unresolved" when the parent's own spread
  (IQR / median) exceeds the bound, unless every change run beats
  every parent run.

A pair in which either child failed (crashed, or reported a wrong
answer) is left out of every metric's comparison — a crashed run has
no metrics to compare — and its seed is listed; the exit code is then 1.
The last line of stdout is one JSON object with every run's metrics.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def compare(parent: list[float], change: list[float], higher: bool,
            bound: float) -> dict:
    """Paired runs of one metric: win count, medians and quartiles, the
    claim rule and the bound reading (see the module docstring)."""
    sign = 1 if higher else -1
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    qp, qc = quartiles(parent), quartiles(change)
    iqr = qp[2] - qp[0]
    gap = sign * (qc[1] - qp[1])
    worse = -gap / abs(qp[1]) if qp[1] else 0.0
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if qp[1] and iqr / abs(qp[1]) > bound and not all_better:
        reading = "unresolved"
    else:
        reading = "ok" if worse <= bound else "worse"
    return {
        "ratios": [c / p if p else float("nan")
                   for p, c in zip(parent, change)],
        "wins": wins,
        "pairs": len(parent),
        "parent_q": qp,
        "change_q": qc,
        "claim": 10 * wins >= 9 * len(parent) and gap > iqr,
        "bound": reading,
        "worse_by": worse,
    }


def complete_pairs(parent: list[dict], change: list[dict]):
    """The (parent run, change run) pairs in which both runs were
    correct, and the seeds of the other pairs."""
    kept, dropped = [], []
    for p, c in zip(parent, change):
        if p["correct"] and c["correct"]:
            kept.append((p, c))
        else:
            dropped.append(p["seed"])
    return kept, dropped


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True,
                    choices=list(bench.WORKLOADS))
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]
    sides = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    runs = {side: [] for side in sides}
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = list(sides) if i % 2 == 0 else list(sides)[::-1]
        for side in order:
            rec = bench.run_child(args.workload, seed, root=sides[side])
            runs[side].append({"seed": seed, **rec})
    report = {}
    kept, dropped = complete_pairs(runs["parent"], runs["change"])
    if dropped:
        print(f"{args.workload}: pairs dropped (a run failed), seeds "
              + " ".join(map(str, dropped)))
    for m in spec if kept else []:
        name = m["name"]
        par = [p["metrics"][name] for p, _ in kept]
        chg = [c["metrics"][name] for _, c in kept]
        r = compare(par, chg, m["better"] == "higher", m["bound"])
        report[name] = r
        print(f"{args.workload} {name} ({m['better']} is better, bound "
              f"{m['bound']}):\n"
              f"  ratios change/parent: "
              + " ".join(f"{x:.3f}" for x in r["ratios"])
              + f"\n  change wins {r['wins']}/{r['pairs']}\n"
              f"  parent q1/median/q3: "
              + " / ".join(f"{x:,.4g}" for x in r["parent_q"])
              + "\n  change q1/median/q3: "
              + " / ".join(f"{x:,.4g}" for x in r["change_q"])
              + f"\n  claim rule: {'met' if r['claim'] else 'not met'}; "
              f"bound: {r['bound']} (median worse by {r['worse_by']:+.3f})")
    correct = all(r["correct"] for side in runs.values() for r in side)
    print(json.dumps({"workload": args.workload, "correct": correct,
                      "runs": runs, "report": report}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
