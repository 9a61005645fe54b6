#!/usr/bin/env python3
"""Run one workload of the interlinking benchmark and print its result.

    python3 linkbench/run.py --workload gia_boxes --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt into `.bench_build/`; later
runs reuse that build while the sources are unchanged. The program runs
in one JVM with a local Spark session on every core.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the same line is written
to `.bench_build/result.json`, and the full record (per-repetition
samples, quartiles, failures and the host/run stamp) to
`.bench_build/records/<workload>-seed<seed>-trace<trace>.json`.

`--workload all` runs every workload in turn and prints a table; with
`--trace both` it runs each untraced and traced and prints the tracing
overhead (traced minus untraced warm time).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CONFIG = os.path.join(ROOT, "BENCHMARK.json")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"linkbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_files():
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def fingerprint():
    h = hashlib.sha256(ROOT.encode())
    for p in sorted(source_files()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die("engine sources not found: run from a checkout of the repository")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp = os.path.join(BUILD, "fingerprint")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except FileNotFoundError:
            die("sbt not found on PATH")
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed; see {log}")
    with open(stamp, "w") as f:
        f.write(fp)
    with open(cp_file) as c:
        return c.read().strip()


def heap():
    """JVM heap: a quarter of physical memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        gb = kb // (4 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{min(max(gb, 2), 6)}g"


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(cp, workload, seed, seconds, trace):
    """One JVM run; returns (exit code, full record or None)."""
    work = os.path.join(BUILD, "work", workload)
    records = os.path.join(BUILD, "records")
    os.makedirs(work, exist_ok=True)
    os.makedirs(records, exist_ok=True)
    out = os.path.join(records, f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # a fixed-size heap, so the warm repetitions do not also
           # measure the collector growing it
           + [f"-Xmx{heap()}", f"-Xms{heap()}", "-XX:+UseParallelGC",
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-cp", cp, "linkbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(cores()),
              "--work", work, "--out", out])
    log = os.path.join(BUILD, "records", f"{workload}-seed{seed}-trace{trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    record = None
    if os.path.exists(out):
        with open(out) as f:
            record = json.load(f)
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        print(f"linkbench: {workload} seed {seed} trace {trace} exited {rc}; log {log}\n{tail}",
              file=sys.stderr)
    return rc, record


def expected_metrics(config, trace):
    return [m["name"] for m in config["end_to_end" if trace == 0 else "per_layer"]]


def result_line(record, names):
    """The bare result: exactly the configured metrics, nothing else."""
    got = record.get("metrics", {})
    metrics = {n: got[n] for n in names if n in got}
    missing = [n for n in names if n not in got]
    failed = record["failed"] + (1 if missing else 0)
    return {"correct": bool(record["correct"]) and not missing,
            "attempted": max(1, record["attempted"]),
            "failed": failed,
            "metrics": metrics}, missing


def one(cp, config, workload, seed, seconds, trace):
    rc, record = run_jvm(cp, workload, seed, seconds, trace)
    if record is None:
        return rc, None, None
    line, missing = result_line(record, expected_metrics(config, trace))
    if missing:
        print(f"linkbench: metrics missing from the record: {missing}", file=sys.stderr)
    for f in record.get("failures", []):
        print(f"linkbench: failure: {f}", file=sys.stderr)
    return (rc if rc != 0 else (0 if line["correct"] else 1)), line, record


def describe(record):
    """Human-readable rows: metric, value, unit and the samples behind it."""
    rows = []
    samples = record.get("samples", {})
    for name, m in record["metrics"].items():
        s = samples.get(name)
        extra = (f"  n={s['n']} q1={s['q1']:.4g} q3={s['q3']:.4g}" if s else "  n=1")
        rows.append(f"  {name:32s} {m['value']:>14.6g} {m['unit']:8s}{extra}")
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", required=True, choices=["0", "1", "both"])
    args = ap.parse_args()

    if not os.path.exists(CONFIG):
        die("BENCHMARK.json not found: run from the repository root")
    with open(CONFIG) as f:
        config = json.load(f)
    names = [w["name"] for w in config["workloads"]]
    if args.workload != "all" and args.workload not in names:
        die(f"unknown workload {args.workload!r}; one of {names} or all")
    if args.trace == "both" and args.workload != "all":
        die("--trace both needs --workload all")
    cp = build()

    if args.workload != "all":
        trace = int(args.trace)
        rc, line, _ = one(cp, config, args.workload, args.seed, args.seconds, trace)
        if line is None:
            die(f"run produced no result (exit {rc})", 1)
        text = json.dumps(line)
        with open(os.path.join(BUILD, "result.json"), "w") as f:
            f.write(text + "\n")
        print(text, flush=True)
        sys.exit(rc)

    traces = [0, 1] if args.trace == "both" else [int(args.trace)]
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in names:
        warm = {}
        for t in traces:
            t0 = time.time()
            rc, line, record = one(cp, config, w, args.seed, args.seconds, t)
            worst = worst or rc
            if line is None:
                combined["correct"] = False
                combined["failed"] += 1
                combined["attempted"] += 1
                continue
            print(f"{w} (trace {t}, {time.time() - t0:.0f} s wall, "
                  f"{line['attempted']} checked, {line['failed']} failed)")
            print("\n".join(describe(record)))
            combined["correct"] &= line["correct"]
            combined["attempted"] += line["attempted"]
            combined["failed"] += line["failed"]
            for k, v in line["metrics"].items():
                combined["metrics"][f"{w}.{k}"] = v
            warm[t] = line["metrics"].get("warm_s" if t == 0 else "traced.warm_s")
        if 0 in warm and 1 in warm and warm[0] and warm[1]:
            over = warm[1]["value"] - warm[0]["value"]
            print(f"  tracing overhead: {over:+.4f} s on warm_s "
                  f"({100 * over / warm[0]['value']:+.1f} %)")
    text = json.dumps(combined)
    with open(os.path.join(BUILD, "result.json"), "w") as f:
        f.write(text + "\n")
    print(text, flush=True)
    sys.exit(worst or (0 if combined["correct"] else 1))


if __name__ == "__main__":
    main()
