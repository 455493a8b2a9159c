#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result.

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline),
then starts one JVM that drives the workload at local[4]. Human-readable
lines go to stdout first; the last stdout line is the JSON result
{"correct", "attempted", "failed", "metrics"}. Exits non-zero, printing no
result, when the build or the run fails. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = BENCH / "target"
CLASSPATH_FILE = TARGET / "runtime-classpath.txt"
STAMP_FILE = TARGET / "build-stamp.txt"
WORK = ROOT / ".perfbench-work"
WORKLOADS = ("link_batch", "link_stream", "topk_query")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ENGINE_SRC, BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, **kw):
    """Run cmd in its own process group and return its exit code; kill the
    whole group and return None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build(spark_home):
    stamp = source_stamp()
    if CLASSPATH_FILE.exists() and STAMP_FILE.exists() and STAMP_FILE.read_text() == stamp:
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    print("[perfbench] building engine and benchmark (sbt compile)", flush=True)
    t0 = time.time()
    log = WORK / "build.log"
    with open(log, "w") as out:
        code = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            BENCH, env, BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL, stdout=out,
            stderr=subprocess.STDOUT)
    if code != 0 or not CLASSPATH_FILE.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {code}), log in {log}")
    STAMP_FILE.write_text(stamp)
    print(f"[perfbench] build took {time.time() - t0:.1f} s", flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation: set SPARK_HOME")
    return home


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="toy: tiny inputs, for the smoke test only")
    a = ap.parse_args()

    if not ENGINE_SRC.is_dir() or not (BENCH / "build.sbt").is_file():
        fail(f"engine sources not found under {ROOT}")
    want = expected_metrics(a.trace)
    WORK.mkdir(exist_ok=True)
    home = spark_home()
    build(home)

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dperfbench.fingerprints={BENCH / 'fingerprints.tsv'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH_FILE.read_text().strip(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", a.scale, "--work", str(run_dir)]
    env = dict(os.environ, SPARK_HOME=home, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))

    result = None
    log = WORK / "last-run.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True,
                                stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        timed_out = threading.Event()

        def kill():
            timed_out.set()
            os.killpg(proc.pid, signal.SIGKILL)

        watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
                else:
                    sys.stdout.write(line)
                    sys.stdout.flush()
            code = proc.wait()
        finally:
            watchdog.cancel()
    if timed_out.is_set():
        fail(f"run exceeded {RUN_TIMEOUT_S} s; JVM log in {log}")
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or result is None:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"run failed (exit {code}); JVM log in {log}")

    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: got {sorted(got)}, want {sorted(want)}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
