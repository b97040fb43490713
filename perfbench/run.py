#!/usr/bin/env python3
"""The repository's seeded benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1

Run from the root of a checkout. The first run builds the library and the
driver from source (sbt, into perfbench/target) and, as the last build step,
dumps a JVM class-data-sharing archive from one unmeasured training JVM;
later runs reuse both until a source file changes. Every measured JVM maps
the archive, which only shortens JVM start (set-up repetition 1, not part
of setup_s). One JVM per run: local[N] with N = the CPUs this process may
use and N shuffle partitions, one closed-loop client on the driver thread.
Set-up (session start, seeded input generation, staged layouts) runs once
from JVM start and once more warm; setup_s is the warm one.
The loop then measures whole rounds of the workload's op mix for at least
T seconds; every op's output is checked, and etl_api query variants are
replayed in DuckDB afterwards.

--trace 0 prints the end-to-end metrics. --trace 1 measures rounds in
threes: untraced, traced (spans around every library call, a SparkListener
keyed by per-call job groups), untraced; it prints the per-layer metrics of
the traced ops and their latency overhead over the untraced ones, and
keeps the raw spans and listener counts in perfbench/target/trace-*.json.
The last stdout line is one JSON object: correct, attempted, failed,
metrics. Workloads and metrics are listed in BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402

TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
CDS_ARCHIVE = os.path.join(TARGET, "bench.jsa")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 165

# Spark on JDK 17 outside spark-submit (same list as the library build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for base in (LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return max(newest, os.path.getmtime(os.path.join(HERE, "build.sbt")))


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build():
    """Compile once per source state; returns the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    log("building library + driver with sbt")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    # one set-up and one op of every workload load the classes a run needs
    work = os.path.join(TARGET, "work", "cds-training")
    rc = java(cp, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"],
              ["--workload", "cds-training", "--seed", "0", "--seconds", "0", "--trace", "0",
               "--cpus", str(len(os.sched_getaffinity(0))), "--work", work, "--out", work + ".json"],
              work, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        sys.exit(f"perfbench: the class-data-sharing training JVM failed (exit {rc})")
    if not os.path.exists(CDS_ARCHIVE):
        log("no class-data-sharing archive was written; runs start without one")
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def java(cp, jvm_opts, main_args, work, timeout=JVM_TIMEOUT_S):
    """Runs perfbench.Main in its own JVM; returns the exit code."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [exe, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xlog:cds=off",
           "-Xlog:cds+dynamic=off", "-Dlog4j2.level=WARN", *jvm_opts,
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
           "-cp", cp, "perfbench.Main", *main_args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return -1


def run_jvm(cp, args, cpus, work, out):
    """Runs perfbench.Main and returns its run record."""
    cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    rc = java(cp, cds, ["--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", str(args.seconds), "--trace", str(args.trace),
                        "--cpus", str(cpus), "--work", work, "--out", out], work)
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: the benchmark JVM failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


def report(rec, res, bad):
    """Human-readable lines before the result line."""
    print(f"workload {rec['workload']}  seed {rec['seed']}  cpus {rec['cpus']}  "
          f"unit {rec['unit']}  inputs {json.dumps(rec['inputs'], sort_keys=True)}")
    ops = rec["window"]["ops"]
    lat = [o["latency_s"] for o in ops if not o["traced"]]
    tail = metrics.tail_percentile(lat)
    print(f"{len(lat)} untraced ops; "
          + (f"op_p{tail[0]:g}_s {tail[1]:.6f} s" if tail else "too few for a tail percentile (needs 100)"))
    print(f"failed_ops_frac {res['failed'] / res['attempted']:.6f} ratio")
    cold, *warm = rec["setup_s"]
    print(f"set-up from JVM start {cold:.3f} s; warm set-up "
          + " ".join(f"{x:.3f}" for x in warm) + " s")
    print("ops: " + " ".join(f"{o['label']}{'*' if o['traced'] else ''}={o['latency_s']:.3f}" for o in ops))
    for name, v in res["metrics"].items():
        print(f"{name} {v['value']:.6g} {v['unit']}")
    for key, why in sorted(bad.items()):
        print(f"ORACLE MISMATCH {key}: {why}")
    for o in ops:
        if o["error"]:
            print(f"FAILED op {o['k']} {o['label']}: {o['error']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        sys.exit("perfbench: the library sources (src/main/scala/graft) are not in this checkout")

    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(TARGET, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = work + ".json"
    try:
        rec = run_jvm(cp, args, cpus, work, out)
        rec["inputs"].update(oracle.input_summary(rec["input_dir"]))
        bad = oracle.failed_variants(rec["input_dir"], rec["oracle"])
        res = metrics.result(rec, trace=bool(args.trace), oracle_failed=bad)
        report(rec, res, bad)
        if args.trace:
            # the traced run's artifact: raw spans and listener counts + metrics
            artifact = os.path.join(TARGET, f"trace-{args.workload}-{args.seed}.json")
            with open(artifact, "w") as f:
                json.dump(dict(rec, result=res), f)
            print(f"trace artifact {os.path.relpath(artifact, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(out):
            os.remove(out)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
