#!/usr/bin/env python3
"""End-to-end benchmark of the FHIR ETL.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload per_study --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source with sbt when the sources
changed since the last build (the first run in a checkout), then runs one
JVM that sets up, measures for --seconds and checks every op's output.
Each op's output digest is also kept, per build, under
`.bench_build/perfbench/digests/`, and an op whose digest differs from an
earlier op's over the same workload, seed and study counts as failed.
Prints a readable summary, then, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1).

Everything built or written goes under `.bench_build/` in the checkout. A
traced run also leaves its spans in `.bench_build/perfbench/traces/`, and
reports `trace.overhead_s`: its traced op's wall time minus the median op_s
of the untraced runs of the same build and workload in this checkout (0
until there is one).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("per_study", "load_http")

RUN_LIMIT_S = 170      # one run must end within 180 s
BUILD_LIMIT_S = 840    # the first run, which builds, within 900 s

# what spark-submit would pass to a Java 17 JVM
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the last build saw the same sources.
    Returns the runtime classpath."""
    stamp_file = OUT / "build.stamp"
    cp_file = HERE / "target" / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().split("\n"), stamp, False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        # resolve only from the local repositories, never the network
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    log = OUT / "build.log"
    with open(log, "w") as f:
        # sbt's own state goes under OUT too, so the build writes only to
        # the checkout (and reads the offline dependency caches)
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Dsbt.global.base={OUT / 'sbt-global'}", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (log: {log})")
    stamp_file.write_text(stamp)
    return cp_file.read_text().split("\n"), stamp, True


def run_jvm(classpath, args, work, result, digests, limit_s):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = [str(java), "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.EtlBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--result", str(result), "--digests", str(digests)]
    log = OUT / "run.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {limit_s:.0f} s (log: {log})")
    if code != 0 or not result.exists():
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"benchmark JVM exited with {code} (log: {log})")


def tracing_overhead(r, stamp, args):
    """Keeps untraced op times per build and workload; for a traced run,
    adds `trace.overhead_s` = traced op time minus their median."""
    path = OUT / "untraced" / f"{stamp[:16]}-{args.workload}.json"
    path.parent.mkdir(exist_ok=True)
    times = json.loads(path.read_text()) if path.exists() else []
    if not args.trace:
        if r["failed"] == 0:
            path.write_text(json.dumps(times + [r["metrics"]["op_s"]["value"]]))
        return
    traced = r["metrics"]["trace.op_s"]["value"]
    r["metrics"]["trace.overhead_s"] = {
        "value": traced - statistics.median(times) if times and traced else 0.0, "unit": "s"}


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    start = time.monotonic()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    if args.seconds <= 0:
        fail("--seconds must be positive")

    classpath, stamp, built = build()
    work = OUT / "work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result = work / "result.json"
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - start)
    digests = OUT / "digests" / f"{stamp[:16]}.json"
    digests.parent.mkdir(exist_ok=True)
    run_jvm(classpath, args, work, result, digests, limit)
    r = json.loads(result.read_text())
    shutil.rmtree(work, ignore_errors=True)
    tracing_overhead(r, stamp, args)

    want = expected_metrics(args.trace)
    got = {k: v["unit"] for k, v in r["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}, "
             f"unit mismatch {wrong}")

    if args.trace:
        traces = OUT / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{args.workload}-seed{args.seed}.json").write_text(
            json.dumps(r["spans"]))

    samples = r["op_s_samples"]
    print(f"workload {args.workload}, seed {args.seed}, trace {args.trace}: "
          f"{r['attempted']} ops attempted, {r['failed']} failed")
    if samples:
        # the highest percentile with at least ten samples beyond it
        n = len(samples)
        hi = f"p{100 * (n - 10) / n:.0f} = {sorted(samples)[n - 11]:.4f} s" if n > 10 \
            else f"none (needs 11 samples), max = {max(samples):.4f} s"
        print(f"op_s over {n} ops: median {statistics.median(samples):.4f} s; "
              f"highest supported percentile: {hi}")
    for e in r["errors"]:
        print(f"FAILED {e}")
    for name, m in r["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
