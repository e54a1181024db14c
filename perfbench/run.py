#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library together with the harness (sbt, offline) when the
sources changed since the last build, and with it a class-data archive
of the classes the harness loads (a training run that sets up and warms
up every workload), so each run's JVM starts and warms up faster. Then
runs the harness on a fresh Spark session. All scratch data goes to a directory under .bench_work/
in the checkout, which is removed afterwards; the traced run keeps its
span file in .bench_work/spans/. The last line printed is the result
object; the exit code is 0 only when a result was produced.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
LIB = ROOT / "src" / "main" / "scala"
JAR = HERE / "target" / "scala-2.13" / "perfbench_2.13-0.1.0.jar"
STAMP = HERE / "target" / "sources.sha256"
ARCHIVE = HERE / "target" / "perfbench.jsa"
WORKLOADS = ("ingest", "analyst")
RUN_TIMEOUT_S = 170
# the first run in a checkout builds, trains and runs within 900 s
BUILD_TIMEOUT_S = 480
TRAIN_TIMEOUT_S = 180
# JVM log output goes to stderr, so the last line on stdout is always
# the result
JVM = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
       "-Xlog:all=warning:stderr"]
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        fail("no Spark installation: set SPARK_HOME")
    return pathlib.Path(home)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(LIB.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(spark):
    digest = sources_digest()
    if JAR.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    env = dict(os.environ, SPARK_HOME=str(spark))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(pathlib.Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    done = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "package"], BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if done is None or done.returncode != 0 or not JAR.exists():
        sys.stderr.write((done.stdout if done else "")[-4000:])
        fail("build failed")
    train(spark)
    STAMP.write_text(digest)


def harness(spark, work, args, jvm=()):
    return [*JVM, *jvm, *ADD_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", f"{JAR}{os.pathsep}{spark / 'jars' / '*'}", "perfbench.Main",
            *args, "--work", str(work)]


def run_group(cmd, timeout, cwd=ROOT, **kw):
    """Run cmd in its own process group; on timeout kill the group and
    wait for it. Returns the completed process, or None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    return subprocess.CompletedProcess(cmd, proc.returncode, out)


def train(spark):
    """Write the class-data archive; without one the runs still work,
    only slower to start."""
    ARCHIVE.unlink(missing_ok=True)
    work = ROOT / ".bench_work" / f"train-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        cmd = harness(spark, work, ["--workload", "train", "--seed", "1", "--seconds", "1",
                                    "--trace", "0"], [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
        done = run_group(cmd, TRAIN_TIMEOUT_S, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL)
        if done is None or done.returncode != 0:
            ARCHIVE.unlink(missing_ok=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (LIB / "graft").is_dir():
        fail(f"library sources not found under {LIB}")
    spark = spark_home()
    build(spark)

    work = ROOT / ".bench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = ROOT / ".bench_work" / "spans" / f"{args.workload}-seed{args.seed}.csv"
    spans.parent.mkdir(parents=True, exist_ok=True)
    jvm = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []
    cmd = harness(spark, work, ["--workload", args.workload, "--seed", str(args.seed),
                                "--seconds", str(args.seconds), "--trace", str(args.trace),
                                "--spans", str(spans)], jvm)
    log = work.parent / f"run-{os.getpid()}.log"
    try:
        with open(log, "w") as err:
            done = run_group(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE, stderr=err, text=True)
        if done is None:
            fail(f"run exceeded {RUN_TIMEOUT_S}s")
        out = done.stdout
        lines = [l for l in out.splitlines() if l.strip()]
        if done.returncode != 0 or not lines:
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"harness exited with {done.returncode}")
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail("harness printed no result")
        print("\n".join(lines))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        log.unlink(missing_ok=True)


if __name__ == "__main__":
    main()
