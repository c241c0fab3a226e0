#!/usr/bin/env python3
"""C-Tran pipeline benchmark.

Builds the program and the benchmark from source (once per source state),
runs one workload in one JVM and prints its result as the last stdout line:

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 6 --trace 0

Workloads: trickle, analyst_mix (see perfbench/README.md).
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones.
Extra options for the benchmark's own tests: --scale F (input volume
factor), --corrupt 1 (damage outputs before checking), --gen-only DIR
(write the inputs to DIR/inputs and stop).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("day_load", "trickle", "analyst_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources() -> list:
    """Every file the build reads from the checkout."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def run_group(cmd: list, timeout: float, **kw) -> subprocess.CompletedProcess:
    """subprocess.run in its own process group, all of which a timeout, an
    error or SIGTERM (see main) kills."""
    with subprocess.Popen(cmd, start_new_session=True, text=True, **kw) as p:
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise
        return subprocess.CompletedProcess(cmd, p.returncode, out)


def build() -> str:
    """Compile program + benchmark with sbt (offline); return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no program sources next to the benchmark in {ROOT}")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "classpath.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        classpath = cp_file.read_text()
        if all(Path(e).exists() for e in classpath.split(os.pathsep)):
            return classpath
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    (BUILD / "tmp").mkdir(exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        proc = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout)
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def java_cmd(classpath: str, work: Path, args: list) -> list:
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseG1GC", *opens,
             f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
             "-cp", classpath, "perfbench.Main", "--work", str(work)] + args)


def run_jvm(classpath: str, work: Path, args: list) -> subprocess.CompletedProcess:
    """Run the benchmark JVM in a fresh work dir; the dir is removed after."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        return run_group(java_cmd(classpath, work, args), RUN_TIMEOUT_S,
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr)
    finally:
        trace = work / "trace.json"
        if trace.is_file():
            (BUILD / "traces").mkdir(parents=True, exist_ok=True)
            shutil.copy(trace, BUILD / "traces" / f"{work.name}.json")
        shutil.rmtree(work, ignore_errors=True)


def result_line(stdout: str) -> dict:
    lines = [l for l in stdout.splitlines() if l.strip()]
    res = json.loads(lines[-1]) if lines else {}
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"malformed result line: {lines[-1:] }")
    return res


def main() -> None:
    # a terminated benchmark stops the JVM or build it started, too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--corrupt", choices=("0", "1"), default="0")
    ap.add_argument("--gen-only", metavar="DIR")
    a = ap.parse_args()
    classpath = build()
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--scale", str(a.scale), "--corrupt", a.corrupt]
    if a.gen_only:
        work = Path(a.gen_only).resolve()
        (work / "tmp").mkdir(parents=True, exist_ok=True)
        proc = run_group(java_cmd(classpath, work, args + ["--gen-only", "1"]),
                         RUN_TIMEOUT_S, cwd=ROOT, stderr=sys.stderr)
        sys.exit(proc.returncode)
    work = BUILD / "work" / f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    try:
        proc = run_jvm(classpath, work, args)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        res = result_line(proc.stdout)
    except ValueError as e:
        fail(str(e))
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
