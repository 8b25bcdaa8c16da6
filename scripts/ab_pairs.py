#!/usr/bin/env python3
"""A/B the benchmark between two checkouts in alternating pairs.

    python3 scripts/ab_pairs.py --parent ../parent --change . \\
        --workload profile_fine --seed 7 --pairs 10 [--seconds 8] [--out ab.json] [--claim]
    python3 scripts/ab_pairs.py --replay ab.json [--claim]

Each pair runs `perfbench/run.py --trace 0` once in each checkout, one
after the other; which side runs first flips every pair, so a drift in
the box's load does not favour one side. Every run starts from its own
checkout's root, so each side builds and reads its own sources and data.

Prints each pair's values, then per end-to-end metric of BENCHMARK.json:
the median [q1-q3] of each side, the pairs the change wins, and whether
the median gap exceeds the parent's inter-quartile spread (the gate a
claimed gain must pass). A pair with a run that printed `BUSY BOX`
(steal or load over perfbench's limits), a failed check or failed ops is
flagged; its values still count, so read the flags before the verdict.

With --claim the run checks a claimed gain on the first metric, whose
win gate needs ceil(0.9 * N) of N pairs: it stops at the first loss that
leaves the gate out of reach and says so. A run that can still pass runs
every pair, because the gate's median-gap half needs all of them.
--replay re-reads a saved --out file instead of running anything, pair by
pair, so a rule can be checked against recorded values.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def run(checkout, a):
    """One benchmark run in `checkout`: (metrics, flags)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.splitlines()
    flags = [l for l in lines if l.startswith(("BUSY BOX", "CHECK FAILED"))]
    res = next((json.loads(l) for l in reversed(lines) if l.startswith("{")), None)
    if p.returncode != 0 or res is None:
        sys.exit(f"ab_pairs: run failed in {checkout} (exit {p.returncode}):\n{p.stderr[-2000:]}")
    if not res["correct"] or res["failed"]:
        flags.append(f"correct={res['correct']} failed={res['failed']}/{res['attempted']}")
    return {k: v["value"] for k, v in res["metrics"].items()}, flags


def quartiles(xs):
    """(q1, median, q3) with the inclusive method; one value repeats."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def wins_needed(n):
    """Pairs the change must win for a claimed gain: 9 of 10, ceil(0.9 n) of n."""
    return math.ceil(9 * n / 10)


def summarize(runs, metrics, a):
    print(f"\n{a.workload} seed {a.seed}, {len(runs)} of {a.pairs} pairs, {a.seconds:g} s window; "
          "median [q1-q3] per side")
    for name, better in metrics:
        par = [r["parent"]["metrics"][name] for r in runs if name in r["parent"]["metrics"]]
        chg = [r["change"]["metrics"][name] for r in runs if name in r["change"]["metrics"]]
        if len(par) != len(runs) or len(chg) != len(runs):
            print(f"{name}: missing from some runs")
            continue
        sign = 1 if better == "lower" else -1
        wins = sum(1 for p, c in zip(par, chg) if sign * (p - c) > 0)
        (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(par), quartiles(chg)
        gap, iqr = sign * (pm - cm), pq3 - pq1
        verdict = "gap > parent IQR" if abs(gap) > iqr else "gap within parent IQR"
        print(f"{name}: parent {pm:.4g} [{pq1:.4g}-{pq3:.4g}]  change {cm:.4g} [{cq1:.4g}-{cq3:.4g}]  "
              f"change wins {wins}/{len(runs)}  median gain {gap:+.4g} ({100 * gap / pm:+.1f} %), "
              f"{verdict} ({iqr:.4g})")
    busy = [i + 1 for i, r in enumerate(runs) if any(r[s]["flags"] for s in r)]
    print(f"flagged pairs: {busy if busy else 'none'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--out", help="write every run's metrics and flags here as JSON")
    ap.add_argument("--claim", action="store_true",
                    help="stop once the first metric's win gate can no longer pass")
    ap.add_argument("--replay", help="re-read the pairs of a saved --out file instead of running")
    a = ap.parse_args()
    if a.replay:
        saved = json.load(open(a.replay))
        a.workload, a.seed, a.seconds = saved["workload"], saved["seed"], saved["seconds"]
        replayed = saved["pairs"]
        a.pairs = len(replayed)
        spec_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    elif not (a.parent and a.change and a.workload and a.seed is not None):
        ap.error("--parent, --change, --workload and --seed are required unless --replay is given")
    else:
        sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
        spec_dir = sides["change"]
    spec = json.load(open(os.path.join(spec_dir, "BENCHMARK.json")))
    metrics = [(m["name"], m["better"]) for m in spec["end_to_end"]]
    gate, gate_better = metrics[0]
    gate_sign = 1 if gate_better == "lower" else -1
    need = wins_needed(a.pairs)

    runs, losses = [], 0
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        if a.replay:
            order = list(replayed[i])
            pair = {s: (replayed[i][s]["metrics"], replayed[i][s]["flags"]) for s in order}
        else:
            pair = {side: run(sides[side], a) for side in order}
        flags = [f"{s}: {f}" for s in order for f in pair[s][1]]
        runs.append({s: {"metrics": pair[s][0], "flags": pair[s][1]} for s in order})
        vals = " ".join(f"{s}={pair[s][0].get(gate, float('nan')):.3f}" for s in order)
        print(f"pair {i + 1}/{a.pairs} ({order[0]} first): {gate} {vals}"
              + (f"  FLAGGED {'; '.join(flags)}" if flags else ""), flush=True)
        p, c = pair["parent"][0].get(gate), pair["change"][0].get(gate)
        losses += p is None or c is None or gate_sign * (p - c) <= 0
        if a.claim and losses > a.pairs - need:
            print(f"curtailed after {i + 1} of {a.pairs} pairs: the change lost {losses} on {gate}, "
                  f"so it can no longer win the {need} of {a.pairs} a claimed gain needs")
            break

    summarize(runs, metrics, a)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                       "pairs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
