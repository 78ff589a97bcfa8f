#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload logger|registry \
        --seed N --seconds S --trace 0|1

Builds the benchmark (perfbench/build.sbt compiles the program's sources
with the benchmark's) when the sources changed since the last build, runs
the workload in one JVM, and prints the workload's JSON result as the last
line of stdout. The report (every metric with its unit, the output checks)
goes to stderr. Exits non-zero, printing no result, when the checkout does
not hold the program, the build fails, or the run fails or times out.

    python3 perfbench/run.py --selftest

runs the benchmark's own tests instead.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
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


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [p for r in roots if r.is_dir() for p in r.rglob("*") if p.is_file()]
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_env():
    env = dict(os.environ)
    if not env.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        env["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
    return env


def run_group(cmd, cwd, env, timeout, stdout):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=subprocess.PIPE if stdout is subprocess.PIPE else stdout,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None, None
    return proc.returncode, out, err


def build(env):
    """Compiles when the sources changed; returns the runtime classpath."""
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    log = BUILD / "build.log"
    with open(log, "wb") as out:
        rc, _, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            BENCH, env, BUILD_TIMEOUT_S, out)
    text = log.read_text(errors="replace").splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(text[-40:]) + "\n")
        fail(f"build failed (rc={rc}); log in {log}", 3)
    cp = [l for l in text if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if not cp:
        fail(f"build printed no classpath; log in {log}", 3)
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(want)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["logger", "registry"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT / 'src/main/scala/graft'}")
    if not (BENCH / "build.sbt").is_file():
        fail("perfbench/build.sbt is missing")
    env = spark_env()
    if a.selftest:
        rc, _, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                             BENCH, env, BUILD_TIMEOUT_S, None)
        sys.exit(1 if rc is None else rc)
    if a.workload is None:
        fail("--workload is required")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = build(env)
    work = WORK / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    java = str(Path(env["JAVA_HOME"]) / "bin" / "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
            "--data", str(BENCH / "data" / "sf0.01")]
    t0 = time.time()
    try:
        rc, out, err = run_group(cmd, ROOT, env, RUN_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"{a.workload} timed out after {RUN_TIMEOUT_S} s", 4)
    sys.stderr.write(err.decode(errors="replace"))
    lines = out.decode(errors="replace").strip().splitlines()
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"{a.workload} failed (rc={rc})", 5)
    for line in lines[:-1]:
        sys.stderr.write(line + "\n")
    sys.stderr.write(f"perfbench: {a.workload} ran {time.time() - t0:.1f} s\n")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
