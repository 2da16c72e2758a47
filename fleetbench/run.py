#!/usr/bin/env python3
"""Fleet benchmark launcher.

Builds the engine (src/main/scala) together with the benchmark sources
(fleetbench/src) with the Scala compiler that ships in Spark's jar
directory, then runs one workload in a single JVM and relays its output.
The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}.

    python3 fleetbench/run.py --workload fleet_ingest --seed 1 --seconds 1 --trace 0

Build outputs, staged inputs and trace files go under .bench_build/ in the
checkout. The build is skipped when the sources hash to the same stamp as
the last build.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("fleet_ingest", "dashboard_refresh", "curation_batch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"fleetbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "fleetbench", "src", "**", "*.scala"),
                             recursive=True))
    return engine, bench


def source_stamp(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(",".join(sorted(os.path.basename(j) for j in jars)).encode())
    return h.hexdigest()


def build(root, build_dir, jars_dir, files, stamp):
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    compiler = [glob.glob(os.path.join(jars_dir, f"scala-{n}-2.13*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail(f"no Scala 2.13 compiler jars in {jars_dir}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-classpath", os.path.join(jars_dir, "*"),
           "-d", tmp, "-nowarn", "@" + argfile]
    print(f"fleetbench: compiling {len(files)} sources", file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


def git_sha(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return "none"
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke tests' small inputs")
    ap.add_argument("--negative-tests", action="store_true",
                    help="run the correctness checks against corrupted outputs")
    a = ap.parse_args()
    if not a.negative_tests and a.workload is None:
        ap.error("--workload is required")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    engine, bench = sources(root)
    if not engine or not os.path.exists(os.path.join(root, "build.sbt")):
        fail(f"engine sources not found under {root}/src/main/scala")
    spark_home = os.environ.get("SPARK_HOME")
    jars_dir = os.path.join(spark_home, "jars") if spark_home else ""
    jars = glob.glob(os.path.join(jars_dir, "*.jar"))
    if not jars:
        fail("SPARK_HOME must point at a Spark installation with jars/")

    build_dir = os.path.join(root, ".bench_build", "fleetbench")
    os.makedirs(build_dir, exist_ok=True)
    stamp = source_stamp(root, engine + bench, jars)
    classes = build(root, build_dir, jars_dir, engine + bench, stamp)

    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    heap = "3g"
    props = {
        "java.io.tmpdir": tmp_dir,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "fleetbench.work": run_dir,
        "fleetbench.out": build_dir,
        "fleetbench.git": git_sha(root),
        "fleetbench.source": stamp[:16],
    }
    # no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap}", f"-Xmx{heap}"] + [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", classes + ":" + os.path.join(jars_dir, "*")]
    if a.negative_tests:
        cmd += ["graft.fleetbench.NegativeTests"]
    else:
        cmd += ["graft.fleetbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--size", a.size]
    proc = subprocess.Popen(cmd, cwd=run_dir)

    def interrupted(signum, frame):
        raise KeyboardInterrupt

    signal.signal(signal.SIGTERM, interrupted)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except (subprocess.TimeoutExpired, KeyboardInterrupt) as e:
        proc.kill()
        proc.wait()
        code = 3
        print(f"fleetbench: run stopped ({type(e).__name__})", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
