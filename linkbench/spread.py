#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics across seeds.

    python3 linkbench/spread.py --workload gia_boxes --seeds 1-10

Run from the repository root. Runs the workload once per seed (untraced)
and prints, per metric, the median and the interquartile distance as a
share of the median, next to the metric's bound from BENCHMARK.json.
The benchmark counts as steady when every spread except `setup_s` stays
below a third of its bound. Results go to
`.bench_build/spread-<workload>.json`.
"""
import argparse
import json
import os
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        config = json.load(f)
    values = {m["name"]: [] for m in config["end_to_end"]}
    failed = 0
    for seed in seed_range(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(config["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        line = json.loads(out.stdout.strip().splitlines()[-1])
        failed += line["failed"]
        for name, m in line["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}"
                                          for k, v in line["metrics"].items()), flush=True)
    rows = {}
    for m in config["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = stats.quartiles(xs)
        s = stats.spread(xs)
        steady = m["name"] == "setup_s" or s < m["bound"] / 3
        rows[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": s,
                           "bound": m["bound"], "steady": steady, "values": xs}
        print(f"{m['name']:16s} median {med:12.5g}  spread {s:6.3f}  "
              f"bound {m['bound']:.3f}  {'ok' if steady else 'TOO WIDE'}")
    print(f"failed operations: {failed}")
    with open(os.path.join(ROOT, ".bench_build", f"spread-{args.workload}.json"), "w") as f:
        json.dump(rows, f, indent=1)
    sys.exit(0 if failed == 0 and all(r["steady"] for r in rows.values()) else 1)


if __name__ == "__main__":
    main()
