#!/usr/bin/env python3
"""Compare the executed plans that two perfbench runs dumped.

    python3 scripts/plan_diff.py PARENT_RUN CHANGE_RUN

A run directory is `.bench_build/runs/<workload>-trace<0|1>/` inside the
checkout that ran it; `plans/<tag>.txt` holds each op's formatted executed
plan. Before comparing, each side
  - maps every `#<id>` expression id to its first-seen order,
  - replaces its checkout's absolute root with `<checkout>`,
  - drops the `== Operator metrics ==` section (run-dependent values).
Prints a unified diff per differing plan. Exits 1 when a plan differs or
exists on one side only, 0 when every plan matches.
"""
import difflib
import os
import re
import sys

METRICS = "\n== Operator metrics =="


def normalised(path, root):
    text = open(path).read().split(METRICS, 1)[0].replace(root, "<checkout>")
    ids = {}
    return re.sub(r"#(\d+)", lambda m: "#%d" % ids.setdefault(m.group(1), len(ids)), text)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    runs = [os.path.abspath(r) for r in sys.argv[1:]]
    plans = []
    for run in runs:
        d = os.path.join(run, "plans")
        if not os.path.isdir(d):
            sys.exit(f"plan_diff: no plans/ in {run}")
        root = os.path.dirname(os.path.dirname(os.path.dirname(run)))
        plans.append({f[:-4]: normalised(os.path.join(d, f), root)
                      for f in os.listdir(d) if f.endswith(".txt")})
    parent, change = plans
    differ = 0
    for tag in sorted(parent.keys() | change.keys()):
        if tag not in parent or tag not in change:
            print(f"{tag}: only in the {'change' if tag in change else 'parent'} run")
            differ += 1
        elif parent[tag] != change[tag]:
            print(f"{tag}: DIFFERS")
            sys.stdout.writelines(difflib.unified_diff(
                parent[tag].splitlines(True), change[tag].splitlines(True),
                f"parent/{tag}.txt", f"change/{tag}.txt"))
            differ += 1
        else:
            print(f"{tag}: identical")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
