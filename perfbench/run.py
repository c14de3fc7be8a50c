#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source with sbt (perfbench/build.sbt depends on the repository's
own build); later runs reuse the build while the sources are unchanged.
The program then runs in one JVM at local[N], N = min(2, nproc), and prints
every metric by name; the last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and writes the spans to
perfbench/work/results/.

`--record-expected` rewrites perfbench/expected.tsv, the exact per-op row
counts and checksums the output check compares against.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys
import threading

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
BUILD_STAMP = WORK / "build" / "classpath.txt"
WORKLOADS = ("relational_etl", "stream_ingest")
# set-up, warm-up, checks and the last pass's overrun, on top of --seconds
RUN_ALLOWANCE_S = 160
BUILD_TIMEOUT_S = 700
# C1 only: the engine generates and loads new classes on every pass, and
# C2 takes many passes to settle on them. C1 alone needs a larger code
# cache than its 48 MB default, or it flushes and recompiles mid-run.
# The serial collector runs no GC threads beside the tasks.
JVM_OPTS = ["-Xmx2g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
            "-XX:+UseSerialGC"]

# Spark on JDK 17 needs these opens when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_commit():
    if not (ROOT / ".git").exists():
        return "none"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = pathlib.Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compiles with sbt once per source digest; returns the classpath."""
    if BUILD_STAMP.exists():
        stamp_digest, cp = BUILD_STAMP.read_text().split("\n", 1)
        if stamp_digest == digest:
            return cp.strip()
    BUILD_STAMP.parent.mkdir(parents=True, exist_ok=True)
    build_log = BUILD_STAMP.parent / "sbt.log"
    log(f"building with sbt (log: {build_log.relative_to(ROOT)})")
    with open(build_log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = build_log.read_text().splitlines()
    if r.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: sbt build failed ({r.returncode})")
    cp = next((l for l in reversed(lines) if os.pathsep in l and ".jar" in l), None)
    if cp is None:
        raise SystemExit("perfbench: sbt printed no classpath")
    BUILD_STAMP.write_text(f"{digest}\n{cp}\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()

    missing = [p for p in ("build.sbt", "src/main/scala/graft/SparkEntry.scala")
               if not (ROOT / p).is_file()]
    if missing:
        raise SystemExit(f"perfbench: engine sources not found ({', '.join(missing)}); "
                         "run from the root of a full checkout")

    digest = source_digest()
    cp = build(digest)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}",
            f"-Dperfbench.commit={git_commit()}",
            f"-Dperfbench.source={digest}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", str(ROOT)]
           + (["--record-expected"] if args.record_expected else []))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL)
    watchdog = threading.Timer(RUN_ALLOWANCE_S + args.seconds, proc.kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        rc = proc.wait()
    if rc != 0 or result is None:
        raise SystemExit(f"perfbench: benchmark JVM exited {rc} without a result")
    print(result, flush=True)


if __name__ == "__main__":
    main()
