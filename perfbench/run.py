#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 perfbench/run.py --workload serve-read --seed 1 --seconds 18 --trace 0

Run from the repository root. The first run compiles the engine
(../src/main/scala) together with the benchmark with sbt, offline; later
runs reuse the build while no source is newer. Diagnostics go to stderr;
the last line of stdout is the JSON result. Exits non-zero, printing no
result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main" / "scala" / "graft"
CLASSPATH = HERE / "target" / "classpath.txt"
WORK = HERE / "work"
WORKLOADS = ("serve-read", "batch-ann")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the same list the
# engine's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ENGINE, HERE / "src" / "main"):
        files.extend(d.rglob("*.scala"))
    return max(f.stat().st_mtime for f in files if f.exists())


def spark_home():
    """The installation of the first `spark-submit` on PATH that has jars."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = (Path(d) / "spark-submit").resolve().parent.parent
        if (Path(d) / "spark-submit").is_file() and (home / "jars").is_dir():
            return home
    return None


def build():
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= newest_source():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        home = spark_home()
        if home is None:
            raise SystemExit("no Spark installation: set SPARK_HOME")
        env["SPARK_HOME"] = str(home)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt exportClasspath)")
    done = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "exportClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if done.returncode != 0 or not CLASSPATH.exists():
        raise SystemExit("build failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not ENGINE.is_dir():
        log(f"engine sources not found at {ENGINE}; run from a checkout of the repository")
        return 2
    build()
    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", CLASSPATH.read_text().strip(), "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", str(work)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 1
    lines = [line for line in out.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines:
        log(f"run failed (exit {proc.returncode})")
        return 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        log(f"last line is not JSON: {lines[-1][:200]}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
