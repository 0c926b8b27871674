#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness together with the program's sources (sbt, once per
source change, into .bench_build/), then runs one measurement in a fresh
JVM with its scratch data under .bench_work/. The last line of stdout is
the JSON result: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "perfbench.stamp")
WORKLOADS = ["records_catchup", "records_http"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """SPARK_HOME, or the first Spark installation (a directory with bin/
    and jars/) that a `spark-submit` on PATH belongs to."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found (set SPARK_HOME)")


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties"))]
    return out


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(spark):
    """Compile with sbt unless the classes match the current sources."""
    fp = fingerprint()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == fp:
        return
    env = dict(os.environ, SPARK_HOME=spark)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    if os.path.exists(STAMP):
        os.remove(STAMP)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"build failed (see {os.path.relpath(BUILD, ROOT)}/build.log)")
    with open(STAMP, "w") as f:
        f.write(fp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    spark = spark_home()
    os.makedirs(BUILD, exist_ok=True)
    build(spark)

    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # A 1 GiB heap floor: G1 sizes the heap from pause and GC-time goals, so
    # without one the resident heap of a run follows the host's timing
    # (VmHWM spread ±25% across runs). The floor is above the records
    # workloads' peak heap use, so peak_rss_mb moves with native, metaspace
    # and code memory and with heap growth past 1 GiB; jvm.live_heap_mb
    # (traced) follows the heap below it.
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms1g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false",
            "-cp", f"{CLASSES}:{spark}/jars/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir])
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           stdin=subprocess.DEVNULL, timeout=170)
    except subprocess.TimeoutExpired:
        fail("the measurement did not finish within 170 s")
    finally:
        if a.trace:  # keep the span file next to the run directory
            for f in os.listdir(run_dir) if os.path.isdir(run_dir) else []:
                if f.startswith("trace-"):
                    shutil.copy(os.path.join(run_dir, f), os.path.join(WORK, f))
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stdout[-4000:])
        fail(f"measurement exited with {p.returncode} and no result")
    print(lines[-1])


if __name__ == "__main__":
    main()
