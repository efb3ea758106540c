#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script

1. builds the engine and the benchmark from source with sbt (the benchmark's
   own build in perfbench/ depends on the root build), unless the sources are
   unchanged since the last build in this checkout;
2. generates the input tables and model files once per build (they depend on
   no seed; the seed picks the ner_sql_base panel and the analytics_mix
   query order);
3. runs the workload in a fresh JVM inside a temp directory that holds every
   file the run writes, and removes it at exit.

Standard output carries progress lines and, as its last line, the result
JSON. Build products, inputs and traces live under .bench_build/perfbench/.
The exit code is 0 only if every operation succeeded and every output check
passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

START = time.monotonic()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ["ner_sql_tiny", "ner_sql_base", "analytics_mix"]
DEFAULT_SEED = 1
# A run must end within this many seconds; a run that builds gets longer.
RUN_LIMIT_S, BUILD_LIMIT_S = 175, 880

JVM_OPTS = [
    "--add-modules=jdk.incubator.vector",
    # A fixed-size heap with a fixed young generation under the parallel
    # collector: the process's resident high-water mark then tracks what the
    # program keeps live, not how far an adaptive collector grew the heap.
    "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
    # no hsperfdata file outside the checkout
    "-XX:-UsePerfData",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fingerprint(paths):
    """Hash of the names and contents of every file under `paths`."""
    h = hashlib.sha256()
    for p in paths:
        files = sorted(f for f in p.rglob("*") if f.is_file()) if p.is_dir() else [p]
        for f in files:
            if f.exists():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build_inputs():
    return [ROOT / "build.sbt", ROOT / "project" / "build.properties",
            ROOT / "src" / "main", BENCH / "build.sbt",
            BENCH / "project" / "build.properties", BENCH / "src" / "main"]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file() and "SBT_OPTS" not in env:
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build(stamp):
    """Compile with sbt and return the runtime classpath."""
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "build.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file():
        classpath = cp_file.read_text().strip()
        if all(Path(p).exists() for p in classpath.split(os.pathsep)):
            return classpath, False
    log("building with sbt (first run in this checkout)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S - 120)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("sbt build failed")
    OUT.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1], True


def fixtures(classpath, stamp):
    """Generate the inputs into .bench_build/perfbench/fixtures-<stamp>,
    unless they are there already."""
    target = OUT / f"fixtures-{stamp}"
    if (target / "DONE").is_file():
        return target, False
    for old in OUT.glob("fixtures-*"):
        shutil.rmtree(old, ignore_errors=True)
    log("generating input tables and model files")
    tmp = Path(tempfile.mkdtemp(prefix="fixtures-tmp-", dir=OUT))
    try:
        subprocess.run(["java", *JVM_OPTS, "-cp", classpath,
                        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
                        f"-Djava.io.tmpdir={tmp}",
                        "graft.perfbench.Fixtures", str(tmp / "data")],
                       cwd=tmp, check=True, stdout=sys.stderr, timeout=300)
        shutil.rmtree(tmp / "data" / "spark-tmp", ignore_errors=True)
        (tmp / "data" / "DONE").write_text(stamp)
        (tmp / "data").rename(target)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return target, True


def fixture_inputs():
    """What the generated inputs depend on: the generator, the model code it
    writes through, and the build."""
    own = BENCH / "src" / "main" / "scala" / "graft" / "perfbench"
    return [ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft" / "ner",
            own / "Fixtures.scala", own / "Session.scala"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", metavar="FILE",
                    help="write the analytics_mix digests to FILE instead of checking them")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"no engine sources next to {BENCH.name}/ (expected build.sbt and src/main/scala)")
        return 2

    stamp = fingerprint(build_inputs())
    classpath, built = build(stamp)
    data, generated = fixtures(classpath, fingerprint(fixture_inputs()))

    (OUT / "runs").mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=OUT / "runs"))
    proc = None

    def stop(signum, _frame):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    limit = BUILD_LIMIT_S if built or generated else RUN_LIMIT_S
    try:
        (work / "tmp").mkdir()
        cmd = ["java", *JVM_OPTS, "-cp", classpath,
               f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
               f"-Djava.io.tmpdir={work / 'tmp'}",
               "graft.perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--data", str(data), "--work", str(work),
               "--cpus", str(len(os.sched_getaffinity(0))),
               "--expected", str(BENCH / "expected_digests.txt")]
        if args.trace:
            cmd += ["--spans", str(OUT / "traces" / f"{args.workload}.spans.jsonl")]
        if args.record_digests:
            cmd += ["--record", str(Path(args.record_digests).resolve())]
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
        watchdog = threading.Timer(max(1, limit - (time.monotonic() - START)), proc.kill)
        watchdog.daemon = True  # never keeps this script alive after a signal
        watchdog.start()
        last = None
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        code = proc.wait()
        watchdog.cancel()
        if code == -signal.SIGKILL:
            log("run exceeded its time limit")
            return 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    try:
        result = json.loads(last or "")
    except json.JSONDecodeError:
        result = None
    if code != 0 or not isinstance(result, dict) or not result.get("correct"):
        log(f"run failed (exit code {code})")
        return code or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
