#!/usr/bin/env python3
"""Build and run the engine benchmark.

    python3 perfbench/run.py --workload coverage|crawl_run \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine from the
checkout's sources together with the benchmark (sbt, the perfbench build);
later runs reuse the build while the sources are unchanged. The benchmark
JVM's last stdout line is the result JSON, and it is this script's last
stdout line too. Everything the run writes stays under .bench_build/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH = os.path.join(ROOT, "perfbench")
BUILD_TIMEOUT_S = 840
# A run must end within 180 s, traced or not; the JVM gets 170 s of that.
# The slowest run, a traced crawl_run, takes about 100 s.
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the engine build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath():
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building engine and benchmark (sbt)")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    sys.stderr.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in lines[-1]:
        raise SystemExit(f"[perfbench] build failed (exit {code})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["coverage", "crawl_run"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/Main.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no engine here: {need} is missing (run from the repository root)")
            return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java are required")
        return 2

    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cp = classpath()
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Run",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--dir", os.path.join(BUILD, "run")])
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 1
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    if lines:
        print(lines[-1], flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
