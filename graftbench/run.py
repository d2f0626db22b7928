#!/usr/bin/env python3
"""Benchmark for graft's two roles: repeated graft_run serving and CDC replica apply.

Run from the repository root:

    python3 graftbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Workloads: serve, cdc_catchup (see graftbench/NOTES.md). The first run in a
checkout builds graft and the harness with sbt (offline); later runs reuse the
build while the sources are unchanged. The serve tables are generated once, in
a JVM of their own before the timed one, and kept under .bench_work/ while
ServeData.scala is unchanged. Each run starts a fresh JVM with its own work
directory under .bench_work/, removed afterwards.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with --trace 0,
the per-layer metrics of BENCHMARK.json with --trace 1.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
STAMP = HARNESS / "target" / "graftbench-build.json"
EXPECTED = HERE / "expected_serve.json"
SERVE_DATA_SRC = HARNESS / "src" / "main" / "scala" / "graftbench" / "ServeData.scala"
WORK = ROOT / ".bench_work"
WORKLOADS = ("serve", "cdc_catchup")
RUN_LIMIT_S = 150
DATA_LIMIT_S = 120
BUILD_LIMIT_S = 850

# Options the JVM needs for Spark 4 on JDK 17 outside spark-submit; the same
# list as graft's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        inputs += sorted(p for p in base.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    for needed in (ROOT / "build.sbt", ROOT / "src" / "main"):
        if not needed.exists():
            raise SystemExit(f"graftbench: {needed.relative_to(ROOT)} is missing; "
                             "run from the root of a graft checkout")
    digest = source_hash()
    if STAMP.exists():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [line for line in proc.stdout.splitlines() if line.strip()]
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"graftbench: sbt build failed (exit {proc.returncode})")
    classpath = lines[-1].strip()
    STAMP.parent.mkdir(parents=True, exist_ok=True)
    STAMP.write_text(json.dumps({"hash": digest, "classpath": classpath}))
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def java(classpath, work, main, *args):
    """The command line of a harness JVM with a fixed 3 GiB heap."""
    return (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, main] + [str(a) for a in args])


def wait(cmd, cwd, limit, what):
    """Run a harness JVM to its end, killing it after `limit` seconds."""
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=str(cwd / "ann_index"))
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"graftbench: {what} did not finish in {limit} s")
    if code != 0:
        raise SystemExit(f"graftbench: {what} exited with {code}")


def serve_data(classpath):
    """The serve tables, generated on first use and kept while ServeData.scala,
    which alone decides their contents, is unchanged."""
    key = hashlib.sha256(SERVE_DATA_SRC.read_bytes()).hexdigest()[:16]
    data = WORK / f"serve-data-{key}"
    if data.exists():
        return data
    work = WORK / f"serve-data-gen-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        log("generating the serve tables")
        wait(java(classpath, work, "graftbench.ServeData", "--out", work / "out", "--work", work),
             work, DATA_LIMIT_S, "serve table generation")
        (work / "out").rename(data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return data


def quantile(xs, q):
    """Linear-interpolated quantile; q=0.5 is the median."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(res):
    """The end-to-end metrics of one run; see NOTES.md for each workload's meaning."""
    op, rd = res["samples"]["op"], res["samples"]["read"]
    if not op or not rd:
        return None
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_s": (res["values"]["cold_s"], "s"),
        "p50_s": (quantile(op, 0.5), "s"),
        "p90_s": (quantile(op, 0.9), "s"),
        "throughput": (res["values"]["throughput"], "1/s"),
        "read_p50_s": (quantile(rd, 0.5), "s"),
        "read_p90_s": (quantile(rd, 0.9), "s"),
    }


def check_serve(res, write_expected):
    """Each mix key's row count and checksum must equal the stored table."""
    got = res["checks"]
    if write_expected:
        EXPECTED.write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")
        log(f"wrote {EXPECTED.relative_to(ROOT)}")
    want = json.loads(EXPECTED.read_text())
    bad = sorted(k for k in set(want) | set(got) if want.get(k) != got.get(k))
    for k in bad:
        log(f"serve check: {k}: got {got.get(k)}, expected {want.get(k)}")
    return not bad


def run(args, classpath):
    bench = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None
    data = ["--data", serve_data(classpath)] if args.workload == "serve" else []
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = java(classpath, work, "graftbench.Main",
               "--workload", args.workload, "--seed", args.seed, "--seconds", args.seconds,
               "--trace", args.trace, "--work", work, "--out", out, *data)
    try:
        wait(cmd, work, RUN_LIMIT_S, args.workload)
        if not out.exists():
            raise SystemExit("graftbench: the harness wrote no result")
        res = json.loads(out.read_text())
        if args.trace:
            traces = WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(work / "trace.json", traces / f"{args.workload}-{args.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = bool(res["correct"])
    if res["message"]:
        log(f"check: {res['message']}")
    if args.workload == "serve":
        correct = check_serve(res, args.write_expected) and correct
    e2e = end_to_end(res)
    if e2e is None:
        correct = False
        e2e = {}
    log("info " + json.dumps(res["info"], sort_keys=True))
    log("setup_reps_s " + json.dumps([round(x, 4) for x in res["setup_reps_s"]]))
    log("samples " + json.dumps({k: [round(x, 4) for x in v] for k, v in res["samples"].items()}))
    log("end_to_end " + json.dumps({k: v[0] for k, v in e2e.items()}, sort_keys=True))
    if args.trace:
        layers = res["layers"]
        log("self_s " + json.dumps(res["self_s"], sort_keys=True))
        log("layers " + json.dumps(layers, sort_keys=True))
        units = {m["name"]: m["unit"] for m in bench["per_layer"]} if bench else {k: "" for k in layers}
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit in units.items()}
    else:
        metrics = {name: {"value": float(v), "unit": unit} for name, (v, unit) in e2e.items()}
    return {"correct": correct, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="store this run's serve results as the expected table")
    args = ap.parse_args()
    os.chdir(ROOT)
    classpath = build()
    print(json.dumps(run(args, classpath)), flush=True)


if __name__ == "__main__":
    main()
