#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload <alerts_etl|alert_windows|catalog_headline>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run it from the repository root. The first run builds the engine and the
benchmark with sbt (offline, from the local dependency cache) and keeps a
copy of the compiled classes and the classpath under
perfbench/target/build-<hash>/, keyed by a hash of every source and build
file; later runs of the same sources start the JVM on that copy directly, so
what they run does not depend on what was compiled in between. The last line
of standard output is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The exit code is 0 only when
every correctness check passed. perfbench/METRICS.md defines each metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("alerts_etl", "alert_windows", "catalog_headline")
# Catalog tables: one fixed seed, the one the expected digests were made with.
TABLES_SF, TABLES_SEED = 0.02, 42
# A fixed-size heap and the parallel collector: fewer GC threads competing
# with the executor threads on a small host, and steadier runs than G1 gave.
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256(str(ROOT).encode())
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath():
    """Builds engine + benchmark once per source state; returns a classpath
    whose class directories are this build's own copies.

    sbt compiles into directories that every source state shares, so a later
    build of other sources overwrites them; the copies do not change."""
    build = HERE / "target" / f"build-{source_hash()}"
    cache = build / "classpath.txt"
    if cache.exists():
        return cache.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g -XX:-UsePerfData"
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in lines[-1]:
        fail("build failed", 3)
    shutil.rmtree(build, ignore_errors=True)
    build.mkdir(parents=True)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if Path(entry).is_dir():
            copy = build / f"classes-{i}"
            shutil.copytree(entry, copy)
            entry = str(copy)
        entries.append(entry)
    cp = os.pathsep.join(entries)
    cache.write_text(cp)  # last: a cache hit finds every copy complete
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources at {ROOT}; run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = classpath()
    started = time.time()
    workload = "self_test" if a.self_test else a.workload
    work = HERE / "target" / f"work-{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    extra = []
    proc = None
    try:
        if workload == "catalog_headline":
            sys.path.insert(0, str(HERE))
            sys.dont_write_bytecode = True
            import gen_tables
            gen_tables.generate(work / "tables", TABLES_SF, TABLES_SEED)
            extra = ["--tables", str(work / "tables")]
        cmd = (["java", "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] +
               [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
               ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Dspark.local.dir={work / 'spark-local'}", f"-Djava.io.tmpdir={work / 'tmp'}",
                f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
                "-cp", cp, "perfbench.Main",
                "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", str(cpus), "--work", str(work),
                "--trace-file", str(HERE / "target" / "traces" / f"{workload}-seed{a.seed}.json"),
                "--started", repr(started)] + extra)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        env.pop("SPARK_GRAFT_MASTER", None)
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
        timed_out = threading.Event()
        watchdog = threading.Timer(JVM_TIMEOUT_S, lambda: (timed_out.set(), proc.kill()))
        watchdog.start()
        last = ""
        for line in proc.stdout:
            print(line, end="", flush=True)
            if line.strip():
                last = line.strip()
        code = proc.wait()
        watchdog.cancel()
        if timed_out.is_set():
            fail(f"the run exceeded {JVM_TIMEOUT_S} s", 4)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if workload == "self_test":
        sys.exit(code)
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"the JVM exited with code {code} without a result line", code or 5)
    sys.exit(code)


if __name__ == "__main__":
    main()
