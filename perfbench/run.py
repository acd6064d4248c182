#!/usr/bin/env python3
"""graft benchmark entry point.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark from source with sbt, with one
class-data-sharing archive per workload (once per source tree: the
classpath is cached under .bench_build/ keyed on a hash of every build
input), then runs one workload in a single JVM on local[N],
N = the number of CPUs. The JVM prints an info line and, last, one JSON
object {"correct", "attempted", "failed", "metrics"}; this script passes
both through and makes the result the last line of its standard output.

Exits non-zero without printing a result when the engine sources are
missing, the build fails, the run fails or it overruns its time limit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("query_suite", "lakehouse_commits")
BUILD_DIR = ".bench_build"
RUN_LIMIT_S = 170          # a whole run, build excluded
# The first run in a fresh checkout builds: sbt, then one archive dump per
# workload, then its own run, within 900 s in all.
BUILD_LIMIT_S = 420
ARCHIVE_LIMIT_S = 150
# A fixed heap geometry (no adaptive resizing) so peak RSS follows what the
# program keeps live, not when the collector decided to grow the young
# generation.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1536m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]

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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs(root):
    """Every file whose content can change the built classpath."""
    files = [os.path.join(root, p) for p in (
        "build.sbt", "project/build.properties",
        "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/run.py")]
    for tree in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(root, tree)):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_stamp(root):
    h = hashlib.sha256()
    for f in build_inputs(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, stdout, stderr, env=None):
    """Run cmd in its own process group; kill the group on overrun and
    always wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def archive_path(root, workload):
    return os.path.join(root, BUILD_DIR, f"cds-{workload}.jsa")


def run_jvm(root, cp, args, jvm_extra, limit_s, log_path, extra_args=()):
    """Run one workload in its own JVM under `limit_s`; return (exit code
    or None on overrun, stdout lines). Its work directory is deleted
    unless --keep."""
    out = os.path.join(root, BUILD_DIR)
    work = os.path.join(out, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    stdout_path = os.path.join(work, "stdout.txt")
    # JVM log lines go to stderr, so the result stays the last stdout line
    cmd = ["java", *JVM_HEAP, *jvm_extra, "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-out", os.path.join(out, "trace"), *extra_args]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env["MALLOC_ARENA_MAX"] = "2"   # fewer native arenas: steadier peak RSS
    try:
        with open(stdout_path, "w") as so, open(log_path, "w") as se:
            rc = run_bounded(cmd, root, limit_s, so, se, env)
        with open(stdout_path) as fh:
            lines = [l.rstrip("\n") for l in fh if l.strip()]
    finally:
        if "--keep" not in extra_args:
            shutil.rmtree(work, ignore_errors=True)
    return rc, lines


def classpath(root):
    """Build once per source tree and return the runtime classpath.

    The build packages the engine and the benchmark as jars, then runs each
    workload's set-up and warm-up once with a class-data-sharing archive
    written at exit: later runs map the classes they load from it instead
    of loading Spark's classes from the jars again, which takes most of a
    run's session start.
    A dump that fails leaves no archive, and runs then start without one.
    """
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    log_path = os.path.join(out, "build.log")
    with open(log_path, "w") as log:
        rc = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspathAsJars"],
            os.path.join(root, "perfbench"), BUILD_LIMIT_S, log, subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log_path}")
    with open(log_path) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = lines[-1] if lines else ""
    if ".jar" not in cp or os.pathsep not in cp:
        fail(f"could not read the classpath from {log_path}")
    for w in WORKLOADS:
        archive = archive_path(root, w)
        if os.path.exists(archive):
            os.remove(archive)
        dump = argparse.Namespace(workload=w, seed=0, seconds=1, trace=0)
        rc, _ = run_jvm(root, cp, dump, [f"-XX:ArchiveClassesAtExit={archive}"], ARCHIVE_LIMIT_S,
                        os.path.join(out, f"archive-{w}.log"), ("--warmup-only",))
        if rc != 0 and os.path.exists(archive):
            os.remove(archive)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the generated inputs under .bench_build/")
    ap.add_argument("--write-pins", metavar="FILE",
                    help="query_suite only: write the pinned result table instead of checking it")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    cp = classpath(root)

    archive = archive_path(root, args.workload)
    jvm_extra = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    extra_args = (["--keep"] if args.keep else []) + \
        (["--write-pins", os.path.abspath(args.write_pins)] if args.write_pins else [])
    jvm_log = os.path.join(root, BUILD_DIR, f"{args.workload}-{args.seed}-{args.trace}.log")
    rc, lines = run_jvm(root, cp, args, jvm_extra, RUN_LIMIT_S, jvm_log, extra_args)
    if rc is None:
        fail(f"run exceeded {RUN_LIMIT_S}s; see {jvm_log}")
    if rc != 0 or not lines:
        fail(f"run failed (exit {rc}); see {jvm_log}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not JSON; see {jvm_log}")
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("result line has unexpected keys")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
