#!/usr/bin/env python3
"""Merge per-family graft.Scale runs into one batch line per scale.

Round 11 split the batch Scale run into per-family fresh JVMs (the
ScaleStream precedent: 42 experiments in one JVM tax the late slots
with accumulated cache/GC load — gr1 measured 75.5 s in-Scale vs
18.6 s isolated at 100x). Each family run emits the same one-line-per-
scale JSON with a subset of `sec`/`rows`/`corpus`; this merges them
key-wise (disjoint keys by construction — the prefix filters do not
overlap) and keeps the spatial run's cc/a6 sections.

Usage: merge_scale.py out.jsonl in_A.log in_B.log ...
(The first input that carries a non-empty `a6`/non-(-1) cc wins
those sections.)
"""
import sys, json

def lines(path):
    out = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith('{"scale"'):
                d = json.loads(line)
                if d.get("kind") == "batch":
                    out[d["scale"]] = d
    return out

def main():
    outp, ins = sys.argv[1], sys.argv[2:]
    runs = [lines(p) for p in ins]
    scales = sorted({s for r in runs for s in r})
    merged = []
    for s in scales:
        base = None
        for r in runs:
            d = r.get(s)
            if d is None:
                continue
            if base is None:
                base = {k: d[k] for k in
                        ("scale", "kind", "base",
                         "cc_rounds", "cc_alt_rounds", "events")}
                base["corpus"], base["sec"], base["rows"], base["a6"] = \
                    {}, {}, {}, {"parts": 0}
                base["drifted"], base["host_drift"], base["isolated"] = \
                    [], [], {}
                base["loadavg"] = []
            # drift-arbitration evidence (round 14): union across the
            # per-family runs; loadavg kept per input line
            base["drifted"] += d.get("drifted", [])
            base["host_drift"] += d.get("host_drift", [])
            base["isolated"].update(d.get("isolated", {}))
            if "loadavg" in d:
                base["loadavg"].append(d["loadavg"])
            for k in ("corpus", "sec", "rows"):
                dup = set(base[k]) & set(d.get(k, {}))
                # corpus counts are shared facts (same corpora), not
                # measurements — equal values may repeat across runs
                if dup and k != "corpus":
                    raise SystemExit(f"overlapping {k} keys at {s}x: {dup}")
                base[k].update(d.get(k, {}))
            if d.get("a6", {}).get("parts", 0) > 0:
                base["a6"] = d["a6"]
            if d.get("cc_rounds", -1) != -1:
                base["cc_rounds"] = d["cc_rounds"]
                base["cc_alt_rounds"] = d["cc_alt_rounds"]
        merged.append(base)
    with open(outp, "w") as f:
        for d in merged:
            f.write(json.dumps(d) + "\n")
    print(f"wrote {outp}: {len(merged)} batch lines, "
          f"{[len(d['sec']) for d in merged]} sec keys per scale")

if __name__ == "__main__":
    main()
