#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload single-pass --seed 1 --seconds 10 --trace 0

Builds the harness once per tree (sbt, cached under perfbench/out/build),
makes the workload's inputs, runs one JVM at local[N] (N = min(4, CPUs)),
checks the outputs, and prints
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Progress and check messages go to stderr.
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

import check
import feed

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
DATA = HERE / "data" / "sf0.1"
ORACLE_CACHE = OUT / "oracle"
WORKLOADS = ("single-pass", "graph-iterative", "view-maintenance")
MAX_CORES = 4
HEAP = "3g"
RUN_DEADLINE_S = 170
BUILD_TIMEOUT_S = 840
# Nominal seconds of one timed gate pass, and of one round of the
# view-maintenance feed. The timed phase is --seconds divided by these
# (at least one): sized from the argument, not from how fast the program
# runs, so every run of one length does the same work.
PASS_SECONDS = {"single-pass": 3.3, "graph-iterative": 10.0, "view-maintenance": 10.0}

# JVM flags Spark needs on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int = 2):
    log(msg)
    sys.exit(code)


def sources_digest() -> str:
    """Digest of everything the build reads, so one tree builds once."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java_cmd(classpath: str, tmp: Path) -> list:
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"]


def build() -> str:
    """Compile the library and the harness and prepare the oracle results
    the checker compares with; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"the graft sources are not next to {HERE.name}/ (expected {ROOT}/build.sbt and src/)")
    stamp_dir = OUT / "build"
    stamp, cp_file = stamp_dir / "sources.sha256", stamp_dir / "classpath.txt"
    digest = sources_digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text()
    log("building (once per tree)")
    stamp_dir.mkdir(parents=True, exist_ok=True)
    tmp = OUT / "tmp" / "sbt"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
           "compile", "export Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    (stamp_dir / "build.log").write_text(r.stdout + r.stderr)
    if r.returncode != 0:
        fail(f"build failed (rc={r.returncode}); see {stamp_dir / 'build.log'}")
    cp = [line for line in r.stdout.splitlines() if not line.startswith("[") and ":" in line
          and line.endswith(".jar")]
    if not cp:
        fail("build printed no classpath")
    oracles = stamp_dir / "oracle_sql.json"
    subprocess.run(java_cmd(cp[-1], tmp) + ["--oracles", str(oracles)], check=True,
                   stdout=subprocess.DEVNULL, timeout=120)
    check.prepare_oracles(DATA, ORACLE_CACHE, json.loads(oracles.read_text()))
    cp_file.write_text(cp[-1])
    stamp.write_text(digest)
    return cp[-1]


def verify_data() -> None:
    for line in (HERE / "data" / "SHA256SUMS").read_text().splitlines():
        want, name = line.split()
        got = hashlib.sha256((DATA / name).read_bytes()).hexdigest()
        if got != want:
            fail(f"input table {name} does not match its checksum")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    verify_data()
    classpath = build()
    started = time.monotonic()  # the deadline leaves out the once-per-tree build
    run_dir = OUT / "runs" / args.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)

    passes = max(1, round(args.seconds / PASS_SECONDS[args.workload]))
    if args.workload == "view-maintenance":
        feed.make(DATA, run_dir / "feed", args.seed, rounds=passes)

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    cmd = java_cmd(classpath, run_dir / "tmp") + [
            "--workload", args.workload,
            "--passes", str(passes), "--trace", str(args.trace),
            "--data", str(DATA), "--out", str(run_dir), "--cores", str(cores)]
    with open(run_dir / "jvm.log", "w") as jvm_log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jvm_log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, RUN_DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_DEADLINE_S} s; see {run_dir / 'jvm.log'}")
    if rc != 0 or not (run_dir / "result.json").is_file():
        fail(f"JVM exited with {rc}; see {run_dir / 'jvm.log'}")
    log(f"JVM done at {time.monotonic() - started:.1f} s")
    result = json.loads((run_dir / "result.json").read_text())
    for f in result["failures"]:
        log(f"failed operation: {f}")

    if args.workload == "view-maintenance":
        # a failed batch stops its query, so the final state is not checked
        problems = [] if result["failed"] else check.check_view_maintenance(run_dir)
    else:
        broken = {f.split(" ")[0].rstrip(":") for f in result["failures"]}
        problems = check.check_gates(DATA, ORACLE_CACHE, run_dir, broken)
    for p in problems:
        log(f"check failed: {p}")
    log(f"checked at {time.monotonic() - started:.1f} s")

    kind = "per_layer" if args.trace else "end_to_end"
    measured = result[kind]
    metrics = {}
    for m in json.loads((ROOT / "BENCHMARK.json").read_text())[kind]:
        # a layer the workload does not exercise reads 0
        value = measured.get(m["name"], 0.0) if args.trace else measured[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({
        "correct": not problems,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
