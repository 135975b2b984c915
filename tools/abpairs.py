#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark between two checkouts.

    python3 tools/abpairs.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B

For each seed in A..B (inclusive) it runs
`python3 perfbench/run.py --workload W --seed S --seconds N --trace 0`
once from each checkout, alternating which side goes first, and reads
only the last line of each run's standard output (the benchmark's JSON
result). It then prints, for every end-to-end metric BENCHMARK.json
lists: each side's median and quartiles, the pairs the change won (ties
count for neither side), and the median gap against the parent's
interquartile range. A metric shows a gain only when the change wins at
least nine tenths of the pairs and the median gap, in the better
direction, exceeds the parent's IQR. The last line is one JSON object
with the same figures and every pair's values.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if not lines:
        sys.exit(f"abpairs: {checkout} seed {seed}: no output "
                 f"(exit {r.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def seeds_of(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="A-B, inclusive")
    p.add_argument("--seconds", type=float, default=5)
    a = p.parse_args()
    sides = {"parent": Path(a.parent).resolve(),
             "change": Path(a.change).resolve()}
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    metrics = spec["end_to_end"]
    pairs = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {s: run_once(sides[s], a.workload, seed, a.seconds)
               for s in order}
        pairs.append({"seed": seed, "first": order[0], **got})
        print(f"seed {seed} ({order[0]} first): " + "  ".join(
            f"{m['name']} {got['parent']['metrics'][m['name']]['value']:.4g}"
            f"/{got['change']['metrics'][m['name']]['value']:.4g}"
            for m in metrics), flush=True)
    n = len(pairs)
    summary = {"workload": a.workload, "pairs": n, "metrics": {},
               "failed": {s: sum(r[s]["failed"] for r in pairs)
                          for s in sides},
               "attempted": {s: sum(r[s]["attempted"] for r in pairs)
                             for s in sides},
               "correct": {s: all(r[s]["correct"] for r in pairs)
                           for s in sides}}
    print(f"\n{a.workload}: {n} pairs, parent/change "
          f"(median [Q1, Q3])")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [r[s]["metrics"][name]["value"] for r in pairs]
                for s in sides}
        med = {s: statistics.median(vals[s]) for s in sides}
        qs = {s: quartiles(vals[s]) for s in sides}
        wins = sum((c < p) if lower else (c > p)
                   for p, c in zip(vals["parent"], vals["change"]))
        losses = sum((c > p) if lower else (c < p)
                     for p, c in zip(vals["parent"], vals["change"]))
        iqr = qs["parent"][1] - qs["parent"][0]
        gap = (med["parent"] - med["change"]) if lower \
            else (med["change"] - med["parent"])
        gain = wins >= 0.9 * n and gap > iqr
        summary["metrics"][name] = {
            "parent": {"median": med["parent"], "q1": qs["parent"][0],
                       "q3": qs["parent"][1]},
            "change": {"median": med["change"], "q1": qs["change"][0],
                       "q3": qs["change"][1]},
            "ratio": med["change"] / med["parent"] if med["parent"] else None,
            "change_wins": wins, "change_losses": losses,
            "median_gap": gap, "parent_iqr": iqr, "gain": gain}
        print(f"  {name:13s} {med['parent']:.4g} [{qs['parent'][0]:.4g}, "
              f"{qs['parent'][1]:.4g}] / {med['change']:.4g} "
              f"[{qs['change'][0]:.4g}, {qs['change'][1]:.4g}]  "
              f"wins {wins}/{n} (losses {losses})  gap {gap:.4g} vs "
              f"IQR {iqr:.4g}  {'GAIN' if gain else '-'}")
    print(f"  failed/attempted: parent {summary['failed']['parent']}/"
          f"{summary['attempted']['parent']}, change "
          f"{summary['failed']['change']}/{summary['attempted']['change']}")
    summary["runs"] = [{"seed": r["seed"], "first": r["first"],
                        **{s: {k: v["value"]
                               for k, v in r[s]["metrics"].items()}
                           for s in sides}} for r in pairs]
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
