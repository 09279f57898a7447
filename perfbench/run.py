#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload <lifecycle|curate> \
        --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from the sources of the checkout this
directory sits in (sbt, only when the sources changed since the last
build), then runs the benchmark JVM directly. All files it writes stay in
the checkout: build outputs under `target/` directories, run data and
results under `perfbench/.work/`. The last stdout line is the result
object; the line before it records provenance. Exits non-zero without a
result if the checkout has no graft sources or the build or run fails.
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
LAUNCH = HERE / "target" / "launch.txt"
STAMP = HERE / "target" / "launch.stamp"
WORK = HERE / ".work"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# the parallel collector: on a 4-core host a run takes about 10% less wall
# time than with G1, most of it in the cold-JVM warm-up; the metaspace size
# spares the session start five full collections
JVM = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=256m"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """The files a build depends on, in a stable order."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def git_sha():
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=30)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group. The group is killed, and waited
    for, on timeout and whenever this script stops early."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        die(f"{cmd[0]} timed out after {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def build(sha):
    if LAUNCH.exists() and STAMP.exists() and STAMP.read_text() == sha:
        return
    code, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "writeLaunch"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not LAUNCH.exists():
        die(f"build failed (sbt exit {code})")
    STAMP.write_text(sha)


def main():
    # a SIGTERM unwinds like an exception, so child process groups are killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no graft sources next to {HERE.name}/ (expected build.sbt and src/main/scala/graft)")
    sha = source_sha()
    build(sha)

    lines = LAUNCH.read_text().splitlines()
    classpath, jvm_opts = lines[0], lines[1:]
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *JVM, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}", *jvm_opts,
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work-dir", str(work),
           "--out-dir", str(WORK / "out"),
           "--git-sha", git_sha(), "--source-sha", sha]
    try:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch space inside the run directory either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                                text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        die(f"benchmark exited {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("benchmark printed no result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
