#!/usr/bin/env python3
"""Paired A/B of two checkouts on the interlinking benchmark.

    python3 linkbench/ab.py --parent ../parent --change . --pairs 10

`--parent` and `--change` are two checkouts of the repository (for
example `git archive` exports of two commits) whose `linkbench/`
directories are identical, so both sides run the same benchmark code and
settings. For every workload, pair i runs both sides once on seed
`--seed + i`, alternating which side goes first. Each row reports both
sides' medians and spreads, the pairs the change won and a verdict:

- gain: the change won at least 9 of 10 pairs (ties count for neither)
  and the medians differ by more than the parent's interquartile range;
- regression: the change's median is worse than the parent's by more
  than the metric's bound;
- unresolved: either side's spread exceeds the bound (unless every
  change run beats every parent run);
- no change: none of the above.

The rows are also written to `<change>/.bench_build/ab.json`.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

import stats


def tree_hash(root):
    """Hash of the benchmark's sources, skipping build outputs."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x not in ("target", "__pycache__")
                         and not (x == "project" and os.path.basename(d) == "project"))
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run(checkout, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join("linkbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"ab: {checkout} produced no result for {workload} seed {seed}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--workloads", default="", help="comma-separated; default all")
    args = ap.parse_args()
    if args.pairs < 10:
        sys.exit("ab: at least 10 pairs are needed to claim anything")
    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    if tree_hash(os.path.join(parent, "linkbench")) != tree_hash(os.path.join(change, "linkbench")):
        sys.exit("ab: the two checkouts carry different benchmark code")
    with open(os.path.join(change, "BENCHMARK.json")) as f:
        config = json.load(f)
    workloads = [w for w in args.workloads.split(",") if w] or \
        [w["name"] for w in config["workloads"]]
    sides = {"parent": parent, "change": change}
    rows = []
    for w in workloads:
        values = {s: {m["name"]: [] for m in config["end_to_end"]} for s in sides}
        failed = {s: 0 for s in sides}
        for i in range(args.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                line = run(sides[side], w, args.seed + i, config["run_seconds"])
                failed[side] += line["failed"]
                for name, m in line["metrics"].items():
                    if name in values[side]:
                        values[side][name].append(m["value"])
            print(f"{w}: pair {i + 1}/{args.pairs} done", file=sys.stderr, flush=True)
        for m in config["end_to_end"]:
            p, c = values["parent"][m["name"]], values["change"][m["name"]]
            row = {"workload": w, "metric": m["name"], "unit": m["unit"],
                   "failed_parent": failed["parent"], "failed_change": failed["change"]}
            if len(p) == len(c) == args.pairs:
                row.update(stats.verdict(p, c, m["better"], m["bound"]))
            else:
                row["verdict"] = "missing runs"
            rows.append(row)
            print(f"{w:20s} {m['name']:16s} {row.get('parent_median', float('nan')):12.5g} "
                  f"{row.get('change_median', float('nan')):12.5g} {m['unit']:8s} "
                  f"wins {row.get('wins', 0):2d}/{args.pairs}  {row['verdict']}", flush=True)
    os.makedirs(os.path.join(change, ".bench_build"), exist_ok=True)
    with open(os.path.join(change, ".bench_build", "ab.json"), "w") as f:
        json.dump(rows, f, indent=1)


if __name__ == "__main__":
    main()
