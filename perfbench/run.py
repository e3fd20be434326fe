#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the repository's
sources together with the benchmark (sbt, offline) into .bench_build/;
later runs reuse the build while the sources are unchanged. The JVM
prints the result as the last line of standard output; this script
passes it through and exits with the JVM's code.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
TARGET = BUILD / "perfbench"
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("sync_diff_1pct", "sync_multi_fk", "curate_lm")
HEAP = "2g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classes_dir():
    return TARGET / "scala-2.13" / "classes"


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(*tasks, timeout=880):
    """Runs sbt tasks in the benchmark project; output goes to stderr.
    On timeout the whole process group goes, not just the launcher."""
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                            cwd=BENCH, env=sbt_env(), stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        raise subprocess.CalledProcessError(code, proc.args)


def build():
    """Compiles unless the last build is of the same sources."""
    stamp = TARGET / "source.sha256"
    digest = source_hash()
    if classes_dir().is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return
    sbt("compile")
    stamp.write_text(digest)


def java_cmd(main, *args, work):
    return ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            # no hsperfdata file in /tmp: the run writes only inside the checkout
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work / 'derby'}",
            f"-Dderby.stream.error.file={work / 'derby.log'}",
            f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{classes_dir()}:{SPARK_JARS}/*", main, *args]


def run_jvm(cmd, timeout):
    """Runs the JVM in its own process group; kills the group on timeout
    and waits for it. Returns (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.splitlines()


def main():
    # a terminated run still takes its JVM down (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("the repository's sources (src/main/scala) are not in this checkout")
    if not Path(SPARK_JARS).is_dir():
        fail(f"Spark jars not found at {SPARK_JARS}")
    try:
        build()
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")

    work = BUILD / "run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        code, lines = run_jvm(java_cmd(
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--root", str(ROOT), "--work", str(work), work=work), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l)
    if not result:
        fail(f"the JVM exited with code {code} and printed no result")
    print(result[-1])
    sys.exit(code)


if __name__ == "__main__":
    main()
