#!/usr/bin/env python3
"""Crawl-engine benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine sources of
that checkout together with the harness in perfbench/src (sbt, offline) into
.bench_build/; later runs reuse the build while no source file changed. The
harness runs one workload in one JVM at local[nproc] and prints, as the last
line of standard output, one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. BENCHMARK.json names both lists; a run whose output
disagrees with it fails.

Developer mode, not used by measurement runs:
    python3 perfbench/run.py --record <dump-dir>
re-records perfbench/expected/queries.tsv and dumps every query result as
parquet for tools/check_oracle.py (see perfbench/README.md).
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

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
CLASSES = BUILD / "target" / "scala-2.13" / "classes"

def spark_home():
    """SPARK_HOME, else the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    return pathlib.Path(submit).resolve().parent.parent if submit else None


SPARK_HOME = spark_home()
SPARK_JARS = SPARK_HOME / "jars" if SPARK_HOME else None
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(stamp):
    stamp_file = BUILD / "stamp"
    if CLASSES.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_BUILD=str(BUILD),
               SPARK_HOME=str(SPARK_HOME))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(3, f"build timed out; see {log}")
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(3, f"build failed; see {log}")
    stamp_file.write_text(stamp)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def heap():
    """A fixed-size heap (-Xms = -Xmx), so heap resizing does not vary the runs."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{max(2, min(3, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", help="developer mode: re-record query fingerprints")
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail(2, f"{spec_file} not found: run from the root of a checkout")
    spec = json.loads(spec_file.read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    if a.record is None and a.workload not in workloads:
        fail(2, f"unknown workload {a.workload!r}; one of {workloads}")
    if not (ENGINE_SRC / "graft" / "SparkEntry.scala").is_file():
        fail(2, f"engine sources not found under {ENGINE_SRC}: nothing to benchmark")
    if SPARK_JARS is None or not SPARK_JARS.is_dir():
        fail(2, f"Spark jars not found: set SPARK_HOME (looked at {SPARK_JARS})")

    stamp = source_hash()
    build(stamp)

    tag = "record" if a.record else f"{a.workload}-{a.seed}-{a.trace}"
    work = BUILD / "work" / f"{tag}-{os.getpid()}"
    results = BUILD / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{SPARK_JARS / '*'}", "perfbench.Main",
            "--workload", a.workload or "query-suite", "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
            "--out", str(results), "--bench-dir", str(BENCH), "--data", str(BENCH / "data"),
            "--commit", git_commit(), "--source-hash", stamp]
    if a.record:
        cmd += ["--record", a.record]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(128 + signum, "stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=None if a.record else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(4, f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(5, f"harness exited with {proc.returncode}")
    if a.record:
        print(out)
        return
    result = json.loads(lines[-1])
    declared = spec["per_layer" if a.trace == "1" else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(6, f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
                f"undeclared {sorted(set(got) - set(want))}, "
                f"unit mismatch {sorted(k for k in want if k in got and got[k] != want[k])}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
