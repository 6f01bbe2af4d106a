#!/usr/bin/env python3
"""Run one bqfspark benchmark workload, or the benchmark's own self-test.

    python3 perfbench/run.py --workload build|ingest --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles src/main/scala and the
benchmark with the Scala compiler shipped in Spark's jars directory (found
through SPARK_HOME, else through spark-submit on PATH) into
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench), keyed by a hash
of the sources; later runs reuse that build. Everything a run writes (Spark
local dirs, warehouse, inputs, stores) lives in one run directory under the
same place and is removed when the run ends; a traced run's spans are kept
under traces/. The last line of standard output is the result object.
"""
import argparse
import fcntl
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

# A run must finish within this many seconds, not counting the build.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.exists(java):
        fail("no java found; set JAVA_HOME")
    return java


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala; run from the repository root")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(root, "perfbench/test/**/*.scala"), recursive=True))
    if not bench:
        fail("no benchmark sources under perfbench/")
    return main + bench


def jvm_flags(run_dir):
    nproc = os.cpu_count() or 1
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={nproc}",
             "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-Dspark.ui.enabled=false",
             "-Dlog4j.configurationFile=" + os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                         "log4j2.properties")]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def build(root, out, java, jars):
    """Compile the sources into out/build-<hash>/perfbench.jar, once per
    source state, plus a class-data-sharing archive that a training run of
    every op dumps: it cuts JVM and Spark start-up by several seconds.
    """
    srcs = sources(root)
    h = hashlib.sha256()
    for path in srcs + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(os.path.relpath(path, root).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    digest = h.hexdigest()
    bdir = os.path.join(out, "build-" + digest[:16])
    jar, archive, done = (os.path.join(bdir, n) for n in ("perfbench.jar", "app.jsa", "complete"))
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            return jar, archive, digest
        shutil.rmtree(bdir, ignore_errors=True)
        classes = os.path.join(bdir, "classes")
        os.makedirs(os.path.join(bdir, "tmp"))
        os.makedirs(classes)
        args = os.path.join(bdir, "sources.txt")
        with open(args, "w") as f:
            f.write("\n".join(srcs))
        t0 = time.time()
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        cmd = [java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(bdir, 'tmp')}",
               "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
               "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + args]
        if subprocess.run(cmd, timeout=BUILD_LIMIT_S).returncode != 0:
            fail("compilation failed")
        # the archive needs jars on the class path, not directories
        with zipfile.ZipFile(jar, "w") as z:
            for d, _, files in os.walk(classes):
                for name in sorted(files):
                    z.write(os.path.join(d, name), os.path.relpath(os.path.join(d, name), classes))
        shutil.rmtree(classes)
        print(f"perfbench: compiled in {time.time() - t0:.1f} s; training the class archive", file=sys.stderr)
        train = os.path.join(bdir, "train")
        os.makedirs(os.path.join(train, "tmp"))
        cmd = [java] + jvm_flags(train) + ["-Xlog:cds=off", f"-XX:ArchiveClassesAtExit={archive}",
                                           "-cp", os.pathsep.join([jar, os.path.join(jars, "*")]),
                                           "perfbench.Warm", train]
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        shutil.rmtree(train, ignore_errors=True)
        if r.returncode != 0 or not os.path.exists(archive):
            fail("the training run failed")
        open(done, "w").close()
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        for old in glob.glob(os.path.join(out, "build-*")):
            if old != bdir:
                shutil.rmtree(old, ignore_errors=True)
    return jar, archive, digest


def git_sha(root):
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.path.abspath(root)))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def run_jvm(cmd, limit_s):
    """Run cmd in its own process group; kill the group past the limit."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"run exceeded {limit_s} s and was stopped")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["build", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    jars = spark_jars()
    java = java_bin()
    out = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")), "perfbench")
    jar, archive, digest = build(root, out, java, jars)

    start = time.time()
    run_dir = os.path.join(out, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = [java] + jvm_flags(run_dir) + [
        f"-XX:SharedArchiveFile={archive}", f"-Dperfbench.gitSha={git_sha(root)}",
        f"-Dperfbench.sourceSha={digest}", "-cp", os.pathsep.join([jar, os.path.join(jars, "*")])]
    if a.self_test:
        cmd += ["perfbench.SelfTest", run_dir]
    else:
        cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", run_dir]
    try:
        code, stdout = run_jvm(cmd, RUN_LIMIT_S - (time.time() - start))
        trace = os.path.join(run_dir, "trace.jsonl")
        if os.path.exists(trace):
            keep = os.path.join(out, "traces", f"{a.workload}-seed{a.seed}-{int(time.time())}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.move(trace, keep)
            print(f"perfbench: spans and stage counts in {keep}", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(stdout)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
