#!/usr/bin/env python3
"""Run one graftbench workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 graftbench/run.py --workload curation_batch --seed 7 --seconds 24 --trace 0

The first run in a checkout builds graft and the harness from source with
sbt (graftbench/build.sbt) and caches the runtime classpath under
graftbench/.build/, keyed by a hash of every source and build file; later
runs start the JVM directly. The build ends with an untimed priming
run that dumps a class-data-sharing archive there, which every measured
run maps at start-up. Each run gets a fresh scratch directory under
graftbench/.work/ (JVM tmpdir, Spark local dirs, loop state, write-once
layouts) that is removed when the run ends. Full per-run records, and the
span trace of --trace 1 runs, are written to graftbench/out/.

Exit status is non-zero, with no result line, when the repository sources
are missing, the build fails, or the JVM fails or overruns its time limit.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 540  # with the priming and measured JVMs (170 s each): under 900 s
JVM_HEAP = "3g"

# What SparkSession needs on JDK 17 outside spark-submit (the root build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def alive(pid):
    """Whether a run with this pid (its scratch dir's suffix) still runs."""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False


def source_files():
    """Every file the build reads, relative to the repository root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.abspath(__file__),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(work):
    """Build once per source state; return the cached runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    cp_file = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    print(f"graftbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        os.remove(os.path.join(BUILD, old))
    # Class directories go into jars: the JVM's class-data-sharing archive
    # (see run_jvm) only covers classes loaded from jars.
    cp = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, names in sorted(os.walk(entry)):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, entry))
            entry = jar
        cp.append(entry)
    cp = os.pathsep.join(cp)
    prime = os.path.join(work, "prime")
    os.makedirs(prime)
    t0 = time.time()
    rc, _, log = run_jvm(cp, ["--prime", "--data", os.path.join(HERE, "data"),
                              "--work", prime, "--seed", "1",
                              "--expected", os.path.join(HERE, "expected", "digests.json")],
                         prime, archive_at_exit=True)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"priming run failed (JVM exit {rc})")
    print(f"graftbench: primed the class archive in {time.time() - t0:.0f}s",
          file=sys.stderr)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def run_jvm(cp, args, work, archive_at_exit=False):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    argfile = os.path.join(work, "jvm.args")
    with open(argfile, "w") as fh:
        fh.write("-cp\n" + cp + "\n")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Class-data sharing: the build's priming run dumps the classes it
    # loaded into an archive at exit; measured runs map it instead of
    # loading and verifying ~20k classes again (7 s less set-up at 4 cores).
    jsa = os.path.join(BUILD, "classes.jsa")
    if archive_at_exit:
        cmd.append(f"-XX:ArchiveClassesAtExit={jsa}")
    elif os.path.exists(jsa):
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    # JVM warnings (the archive dump's among them) belong on stderr: stdout
    # carries the result line.
    cmd += ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    cmd += [f"@{argfile}", "graft.bench.Main"] + args
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"JVM exceeded {JVM_TIMEOUT_S}s")
        finally:
            # Nothing the JVM started may outlive the run.
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    return proc.returncode, out, log


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True,
                    help="timed seconds (BENCHMARK.json's run_seconds)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="record expected digests instead of checking them")
    ap.add_argument("--oracle-out", metavar="DIR",
                    help="write every benchmark query's result and oracle SQL "
                         "to DIR for tools/check_oracle.py, checking digests")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}; run from a repository checkout")

    os.makedirs(WORK, exist_ok=True)
    for stale in os.listdir(WORK):
        if not alive(int(stale.split("-")[-1])):
            shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        cp = build(work)
        rc, out, log = run_jvm(cp, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(HERE, "data"), "--work", work,
            "--out", OUT, "--expected", os.path.join(HERE, "expected", "digests.json"),
        ] + (["--record"] if a.record else [])
          + (["--oracle-out", os.path.abspath(a.oracle_out)] if a.oracle_out else []),
            work)
        os.makedirs(OUT, exist_ok=True)
        shutil.copy(log, os.path.join(
            OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if a.oracle_out:
        print(out, end="")
        sys.exit(rc)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(out[-4000:])
        fail(f"JVM exited {rc} without a result line (log: graftbench/out/)")
    if rc != 0:
        fail(f"JVM exited {rc}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
