#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. The first run builds the program and
the benchmark with sbt (perfbench/build.sbt depends on the root build) and
records the classpath; later runs reuse it while the sources are unchanged.
The run itself is one JVM (perfbench.Main). Its stdout is passed through, so
the last line is the result object; Spark's log goes to perfbench/out/logs.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
BUILD = os.path.join(OUT, "build")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build.sbt).
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


def sources():
    """Every file the build reads, as paths relative to the root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(os.path.relpath(f, ROOT) for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s", 3)
    return proc.returncode, out


def classpath():
    """Build when the sources changed since the last build; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    for d in (BUILD, os.path.join(OUT, "tmp")):
        os.makedirs(d, exist_ok=True)
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as log:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
             "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True)
        log.write(out)
    cp = [l for l in out.splitlines() if l.endswith(".jar") and os.pathsep in l]
    if code != 0 or not cp:
        fail(f"build failed (exit {code}); see {os.path.relpath(log_path, ROOT)}", 4)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", choices=["0", "1"], default="0",
                    help="write the observed outputs to perfbench/expected.json")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json is not at the root of this checkout")
    cp = classpath()

    for d in ("logs", "tmp"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--record", a.record,
        "--bench-dir", os.path.relpath(HERE, ROOT), "--out", os.path.relpath(OUT, ROOT),
    ]
    log_path = os.path.join(OUT, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as log:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL, text=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    if code != 0:
        with open(log_path) as f:
            tail = f.read().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"{a.workload} exited {code}; log: {os.path.relpath(log_path, ROOT)}", code)


if __name__ == "__main__":
    main()
