#!/usr/bin/env python3
"""Validation benchmark for the graft engine.

Usage (from the root of a checkout):

    python3 valbench/run.py --workload verdict_full --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from the checkout's sources with sbt
(once per source tree; later runs reuse the classpath), then runs one
workload in a fresh JVM. The last line of standard output is the result
JSON; the line before it carries the run's context. See README.md.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"

WORKLOADS = ("verdict_full", "run_resume_one")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
HEAP = "1g"
YOUNG = "256m"

# Spark on JDK 17 needs these when the session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"valbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256(str(ROOT).encode())
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = Path.home() / ".sbt" / "repositories"
    if "-Dsbt.repository.config" not in opts and repos.is_file():
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def java_cmd(cp, *jvm_args):
    # a fixed, pre-touched heap keeps the resident set from depending on
    # when the collector chose to grow it or which pages it reused
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={WORK / 'tmp'}",
           # JVM warnings go to stderr: stdout carries the result lines
           "-Xlog:all=warning:stderr", *jvm_args]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "valbench.Main"]


def train_archive(cp):
    """Record the classes a short run loads into a class-data-sharing
    archive; later runs map it instead of loading and verifying each class
    again, which cuts JVM and Spark start-up by seconds. Without an archive
    runs are correct, only slower to start."""
    archive = BUILD / "classes.jsa"
    archive.unlink(missing_ok=True)
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    cmd = java_cmd(cp, f"-XX:ArchiveClassesAtExit={archive}") + [
        "--workload", "run_resume_one", "--seed", "0", "--seconds", "1",
        "--trace", "0", "--work", str(WORK)]
    try:
        subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                       stdout=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if not archive.is_file():
        print("valbench: no class-data archive; runs start slower",
              file=sys.stderr)


def classpath():
    """Build if the sources changed since the last build; return the
    runtime classpath (jars, so the class-data archive can cover them)."""
    stamp = source_hash()
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    BUILD.mkdir(parents=True, exist_ok=True)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export valbench/Runtime/fullClasspathAsJars"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    lines = [ln for ln in out.stdout.splitlines()
             if os.pathsep in ln and ".jar" in ln and not ln.startswith("[")]
    if not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build printed no classpath")
    cp_file.write_text(lines[-1])
    train_archive(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1], stamp


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to the benchmark in {ROOT}")
    cp, stamp = classpath()

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    archive = BUILD / "classes.jsa"
    cmd = java_cmd(cp, *([f"-XX:SharedArchiveFile={archive}"]
                         if archive.is_file() else []))
    cmd += ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(WORK)]
    env = dict(os.environ, VALBENCH_GIT_SHA=git_sha(),
               VALBENCH_SOURCE_SHA256=stamp)
    # on SIGTERM, unwind through the `finally` below so the JVMs stop too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # own process group: the run's local[1] JVM is stopped with it
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"valbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
