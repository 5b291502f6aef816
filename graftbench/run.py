#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 graftbench/run.py --workload etl|ingest|admit --seed N \
        --seconds S --trace 0|1 [--trace-out FILE]

Run from the root of a checkout. The first run builds the library and the
benchmark program with sbt (graftbench/build.sbt) and records the classpath;
later runs rebuild only when a source file changed. The benchmark then runs in
one JVM; everything it writes lives under .bench_tmp/ in the checkout and is
removed when it exits. The last line of stdout is the result JSON, or
`setup failed: ...` with a non-zero exit code.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
# class-data sharing archive: the first run after a build writes it at exit,
# later runs map it and start the JVM and Spark several seconds faster
ARCHIVE = os.path.join(TARGET, "bench-classes.jsa")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# the child process (sbt or the JVM), stopped with its process group if
# this script is stopped
child = None


def stop_child(signum, _frame):
    if child is not None and child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    sys.exit(128 + signum)


def fail(msg, code=2):
    sys.stdout.flush()
    print("setup failed: " + msg, flush=True)
    sys.exit(code)


def sources():
    files = []
    for top in (LIB_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def build(env):
    want = stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    global child
    child = subprocess.Popen(
        [sbt, "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    try:
        out, _ = child.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        fail("build timed out")
    lines = out.splitlines()
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if child.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed (sbt exit %d)" % child.returncode)
    os.makedirs(TARGET, exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(CLASSPATH, "w") as fh:
        fh.write(want + "\n" + cps[-1].strip())
    return cps[-1].strip()


def main(argv):
    global child
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    if not os.path.isfile(os.path.join(LIB_SRC, "graft", "ddf", "DDF.scala")):
        fail("library sources not found under %s" % os.path.relpath(LIB_SRC, os.getcwd()))
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    cp = build(env)

    tmp = os.path.join(ROOT, ".bench_tmp", "run-%d" % os.getpid())
    os.makedirs(tmp, exist_ok=True)
    # Spark prefers this variable over spark.local.dir: keep shuffle files in the checkout too
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else shutil.which("java")
    # no hsperfdata file in the system temp dir: the run writes only in the checkout
    cmd = [java, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    cmd += [("-XX:SharedArchiveFile=" if os.path.exists(ARCHIVE) else "-XX:ArchiveClassesAtExit=") + ARCHIVE,
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + argv + ["--tmp", tmp]
    child = proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                                    start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S, 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(tmp))
    except OSError:
        pass
    lines = [ln for ln in out.splitlines() if ln.strip()]
    results = [ln for ln in lines if ln.startswith('{"correct"')]
    for ln in lines:
        if ln not in results and not ln.startswith("setup failed"):
            print(ln)
    if proc.returncode != 0 or not results:
        reason = next((ln for ln in reversed(lines) if ln.startswith("setup failed")), None)
        print(reason or "setup failed: benchmark JVM exited with code %d" % proc.returncode, flush=True)
        sys.exit(proc.returncode or 3)
    print(results[-1], flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
