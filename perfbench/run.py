#!/usr/bin/env python3
"""Runs one benchmark workload against graft and prints its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <inventory|compaction> \
        --seed <n> --seconds <s> --trace <0|1>

The first run builds graft and the harness from source with sbt (offline),
then a class-data sharing archive of the classes the workloads load (one
untimed set-up and warm-up of each), and keeps both in .bench_build/; later
runs reuse them until a source file changes. The run itself is one JVM
(graftbench.Main) on local[4]. The last line of standard output is the JSON
result; the line before it is the run's detail record, also kept under
.bench_out/.
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

WORKLOADS = ("inventory", "compaction")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 480
# Each of the archive's two steps: a class-list run and the dump.
ARCHIVE_TIMEOUT_S = 120
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SBT_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
               "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp(root):
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "perfbench", "build.sbt"),
              os.path.join(root, "perfbench", "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_home():
    """The Spark install whose jars graft compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install: set SPARK_HOME or put spark-submit on PATH")
    return home


def java_cmd(root, cp, work, jvm_opts, args):
    """The benchmark JVM: graftbench.Main with args, temporary files in work.

    It compiles with C1 only (TieredStopAtLevel=1). With C2 the JIT was
    still compiling through the third timed pass, on two to three of the
    four cores, so pass times kept falling and moved with the host's load;
    with C1 the passes after the warm-up are flat, at about the same wall
    time, and set-up is shorter.
    """
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            jvm_opts + ["-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                        "-Dlog4j.configurationFile=" + os.path.join(root, "perfbench", "conf", "log4j2.properties"),
                        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                        "-cp", cp, "graftbench.Main"] + args)


def run_java(root, cp, jvm_opts, args, timeout, **kw):
    """Runs the benchmark JVM in a fresh .bench_work/, removed afterwards."""
    work = os.path.join(root, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"))
    try:
        return run_group(java_cmd(root, cp, work, jvm_opts, args), timeout, cwd=root, env=env, **kw)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def archive(root, cp, bdir):
    """Builds the class-data sharing archive: JVM start and class loading
    are most of a fresh session's set-up, and the archive takes them off
    every run alike."""
    classes = os.path.join(bdir, "classes.lst")
    jsa = os.path.join(bdir, "classes.jsa")
    for f in (classes, jsa):
        if os.path.exists(f):
            os.remove(f)
    try:
        code, out = run_java(root, cp, [f"-XX:DumpLoadedClassList={classes}"],
                             ["--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "0"],
                             ARCHIVE_TIMEOUT_S, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        with open(os.path.join(bdir, "class-list.log"), "w") as f:
            f.write(out)
        if code != 0:
            sys.stderr.write(out[-4000:])
            fail(f"class-list run failed (exit {code}), see .bench_build/class-list.log")
        code, out = run_group(["java", "-Xshare:dump", f"-XX:SharedClassListFile={classes}",
                               f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=error", "-cp", cp],
                              ARCHIVE_TIMEOUT_S, cwd=root, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail("class-data sharing archive timed out")
    if code != 0 or not os.path.exists(jsa):
        sys.stderr.write(out[-4000:])
        fail(f"class-data sharing archive failed (exit {code})")
    return jsa


def build(root):
    """The runtime classpath and the class-data sharing archive, built from
    source unless .bench_build/ holds them for the same sources."""
    bdir = os.path.join(root, ".bench_build")
    stamp_file = os.path.join(bdir, "stamp")
    cp_file = os.path.join(bdir, "classpath")
    jsa = os.path.join(bdir, "classes.jsa")
    stamp = source_stamp(root)
    if all(os.path.exists(f) for f in (stamp_file, cp_file, jsa)):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), jsa
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", SBT_OFFLINE)
    t0 = time.time()
    try:
        code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "printClasspath"],
                              BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"), env=env,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    with open(os.path.join(bdir, "build.log"), "w") as f:
        f.write(out)
    cp = [l[len("CLASSPATH="):] for l in out.splitlines() if l.startswith("CLASSPATH=")]
    if code != 0 or not cp:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    cp = cp[-1].split(os.pathsep)
    if not all(p.endswith(".jar") for p in cp):
        fail("the runtime classpath holds more than jars")
    # The archive holds only while every jar keeps its size and mtime, so
    # the harness's own jar is copied out of sbt's reach (sbt test repacks it).
    target = os.path.join(root, "perfbench", "target") + os.sep
    for i, p in enumerate(cp):
        if p.startswith(target):
            cp[i] = os.path.join(bdir, os.path.basename(p))
            shutil.copyfile(p, cp[i])
    cp = os.pathsep.join(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    archive(root, cp, bdir)
    # Writes the archive out now rather than during the first runs.
    os.sync()
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, jsa


def main():
    # A SIGTERM unwinds through run_group, which kills the child's process
    # group before exiting.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/build.sbt", "perfbench/fixtures"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    cp, jsa = build(root)

    # Traced runs keep deep call sites, so a job can be traced to the
    # graft function that started it.
    trace_opts = ["-Dspark.callstack.depth=200"] if a.trace == "1" else []
    try:
        code, out = run_java(root, cp, [f"-XX:SharedArchiveFile={jsa}", "-Xshare:auto"] + trace_opts,
                             ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", a.trace],
                             RUN_TIMEOUT_S, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or len(lines) < 2:
        sys.stderr.write(out[-4000:])
        fail(f"run failed (exit {code})")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"malformed result line: {lines[-1][:500]}")
    print(lines[-2])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
