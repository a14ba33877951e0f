#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <tick|ingest|corpus> \
        --seed <n> --seconds <s> --trace <0|1>

The first call builds the library and the benchmark from source with sbt
(perfbench/build.sbt depends on the repository's own build one directory
up) and records the runtime classpath; later calls reuse it until a source
file changes. Each run is one JVM started without sbt. Its last stdout line
is the JSON result; everything else on stdout is a human-readable report.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha1")

BUILD_TIMEOUT_S = 840
# A run's fixed part (JVM and session start, setup, the last op cycle,
# the final check); the timed loop adds --seconds to it.
RUN_TIMEOUT_S = 170

# What SparkSession needs on JDK 17 outside spark-submit; the same list the
# repository's build passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def sources_digest():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, timeout_s, stdout):
    """Run `cmd` in its own process group; kill the group on timeout or
    when this script is interrupted, and always wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print("perfbench: %s timed out after %ds" % (cmd[0], timeout_s), file=sys.stderr)
        stop()


def build():
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    print("perfbench: building library and benchmark with sbt", file=sys.stderr)
    t = time.time()
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.autostart=false", "writeClasspath"],
                     HERE, BUILD_TIMEOUT_S, sys.stderr)
    if code != 0 or not os.path.isfile(CLASSPATH):
        fail("build failed (sbt exit %s)" % code)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print("perfbench: built in %.0f s" % (time.time() - t), file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources next to the benchmark (expected build.sbt "
             "and src/main/scala/graft in %s)" % ROOT)
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(HERE, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dperfbench.dir=" + HERE,
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    sys.stdout.flush()
    code = run_child(cmd, ROOT, RUN_TIMEOUT_S + a.seconds, None)
    sys.exit(code)


if __name__ == "__main__":
    main()
