#!/usr/bin/env python3
"""CDC pipeline benchmark: builds the engine with the benchmark harness,
runs one workload in a fresh JVM and prints its result as the last line.

    python3 cdcbench/run.py --workload cdc_trickle_mor --seed 1 --seconds 12 --trace 0
    python3 cdcbench/run.py --selftest

Run it from the repository root. The first run compiles (sbt, offline);
later runs reuse the build while the sources are unchanged. A traced run
compares its latencies with the untraced run of the same workload and
seed, and makes that run first when this build has not made it yet.
Everything it writes stays under `cdcbench/target` and `.cdcbench/`. See
`cdcbench/README.md` for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main"  # everything cdcbench/build.sbt compiles
WORKLOADS = ("cdc_trickle_mor", "cdc_bulk_flat", "sql_mor_dml")
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "cdcbench.stamp"
STATE = ROOT / ".cdcbench"
RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory, as the engine's own build.sbt names it."""
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if not m:
        fail(2, "the engine's build.sbt names no unmanagedBase")
    return Path(m.group(1))


def sources_digest():
    """A digest of every input of the build: the engine's build file and
    sources, and the harness's."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ENGINE, HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt(task, timeout):
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", task], cwd=HERE, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(3, f"sbt {task} timed out after {timeout} s")
    return proc.returncode, out


def build():
    """Compile unless the stamped build matches the sources; returns the
    sources' digest."""
    digest = sources_digest()
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == digest:
        return digest
    code, out = sbt("compile", BUILD_LIMIT_S)
    if code != 0:
        print(out[-4000:], file=sys.stderr)
        fail(3, "build failed")
    STAMP.write_text(digest)
    return digest


def run_jvm(args, trace, ops_file, deadline):
    work = STATE / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{CLASSES}{os.pathsep}{spark_jars()}/*",
            "graft.cdcbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(trace), "--work", str(work), "--ops", str(ops_file)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(4, f"{args.workload} did not finish within {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    results = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if proc.returncode != 0 or not results:
        fail(5, f"{args.workload} exited {proc.returncode} without a result")
    return results[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests instead")
    args = ap.parse_args()
    if not ENGINE.is_dir() or not (ROOT / "build.sbt").is_file():
        fail(2, f"engine sources not found under {ROOT}")
    if args.selftest:
        code, out = sbt("test", BUILD_LIMIT_S)
        print(out)
        sys.exit(code)
    if not args.workload:
        ap.error("--workload is required")
    digest = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    STATE.mkdir(exist_ok=True)
    # the untraced run's median latency per operation kind, for this build
    ops_file = STATE / (f"untraced-{args.workload}-{args.seed}-{args.seconds}"
                        f"-{digest[:16]}.ops")
    if args.trace and not ops_file.exists():
        untraced = run_jvm(args, 0, ops_file, deadline)
        if not json.loads(untraced)["correct"]:
            print(untraced, flush=True)
            return
    print(run_jvm(args, args.trace, ops_file, deadline), flush=True)


if __name__ == "__main__":
    main()
