#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <ingest|search|maintain|dedup> \
        --seed <n> --seconds <s> --trace <0|1> [--sf <scale factor>]

Run it from the repository root. The first run builds the library and
the benchmark with sbt (offline) into `target/` and `perfbench/target/`
and caches the runtime classpath under `.bench_build/perfbench/`; later
runs rebuild only when a source file changed. Each run works in a
private directory under `.bench_build/perfbench/runs/` (removed at the
end) and leaves its result file, with a provenance stamp, under
`.bench_build/perfbench/results/`. The last line on stdout is the JSON
summary; everything else goes to stderr. Exits non-zero, without a
summary, when the run fails or an output check finds a mismatch.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BUILD_DIR = os.path.join(".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these module openings (the
# list org.apache.spark.launcher.JavaModuleOptions carries).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Files whose change requires a rebuild.
SOURCE_ROOTS = ["build.sbt", os.path.join("project", "build.properties"),
                os.path.join("src", "main"),
                os.path.join("perfbench", "build.sbt"),
                os.path.join("perfbench", "project", "build.properties"),
                os.path.join("perfbench", "src", "main")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for root in SOURCE_ROOTS:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles library and benchmark; returns the runtime classpath."""
    stamp = os.path.join(BUILD_DIR, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building library and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd="perfbench", stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln.strip() for ln in proc.stdout.splitlines()]
    cp = [ln for ln in lines if ln and not ln.startswith("[")
          and ("classes" in ln or ".jar" in ln)]
    sys.stderr.write("".join(ln + "\n" for ln in lines if ln not in cp))
    if proc.returncode != 0 or not cp:
        raise SystemExit(f"perfbench: build failed (sbt exit {proc.returncode})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "search", "maintain", "dedup"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--sf", type=float,
                    help="scale factor override (default: per workload)")
    args = ap.parse_args()

    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala",
                                                      "graft"),
                           os.path.join("perfbench", "build.sbt"))
               if not os.path.exists(p)]
    if missing:
        log("run from the repository root; missing " + ", ".join(missing))
        return 2

    digest = source_digest()
    cp = build(digest)

    run_dir = os.path.abspath(os.path.join(
        BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.source_digest={digest}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--run-dir", run_dir,
            "--out", os.path.abspath(os.path.join(BUILD_DIR, "results"))]
    if args.sf is not None:
        cmd += ["--sf", str(args.sf)]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {JVM_TIMEOUT_S} s and was stopped")
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.splitlines()
    sys.stderr.write("".join(ln + "\n" for ln in lines[:-1]))
    result = lines[-1] if lines else ""
    if proc.returncode != 0 or not result.startswith("{"):
        if result:
            sys.stderr.write(result + "\n")
        log(f"run failed (exit {proc.returncode})")
        return proc.returncode or 1
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
