#!/usr/bin/env python3
"""Build and run the benchmark for one workload.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 1 --trace 0

Run from the repository root. The first run compiles the benchmark
package together with the program's sources (perfbench/build.sbt) into
.bench_build/; later runs reuse that build while the sources are
unchanged. The benchmark JVM prints its result as the last stdout line.
Extra flags (e.g. --record) are passed through to perfbench.Main.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(BENCH, "src", "main", "scala")]

HEAP = "2g"
# Spark on JDK 17 needs these when started outside spark-submit (the
# same list as the root build.sbt's javaOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME (no spark-submit on PATH)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def source_stamp():
    h = hashlib.sha256()
    for base in SOURCES + [os.path.join(BENCH, "build.sbt")]:
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames.sort()
            for name in sorted(filenames):
                p = os.path.join(dirpath, name)
                st = os.stat(p)
                h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        if os.path.isfile(base):
            st = os.stat(base)
            h.update(f"{base}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's output goes to stderr: stdout carries only the result
    rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                         cwd=BENCH, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"perfbench: build failed (sbt exit {rc})")
    os.makedirs(BUILD, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def main():
    # a terminated run takes its sbt or JVM child down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(SOURCES[0]):
        sys.exit("perfbench: run from the repository root (src/main/scala not found)")
    build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log4j = os.path.join(BENCH, "log4j2.properties")
    # A run measures a fresh process's first refresh. Inside one refresh
    # C2 compilation does not pay off (wall time is the same with C1
    # alone) but it doubles CPU time and the run-to-run spread of wall and
    # CPU time; the serial collector keeps heap growth, and so peak RSS,
    # repeatable on this small heap.
    cmd = (["java", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={log4j}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*", "perfbench.Main"]
           + sys.argv[1:])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait()
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        # the JVM removes its work directory itself unless it was killed
        for d in glob.glob(os.path.join(BUILD, "run", f"*-{proc.pid}")):
            shutil.rmtree(d, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
