#!/usr/bin/env python3
"""Benchmark of the wafer pipeline and the query catalog.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json and README.md for why each exists):
  wafer_canonical  WaferMain's sequence over a 63,909-row generated CSV
  catalog_sf01     four catalog queries over perfbench/data/sf0.1
                   (fixed data: the seed is accepted and ignored)

The first run builds the engine and the harness with sbt (offline) into
perfbench/target. Each run is one fresh JVM: set-up, a cold pass, warm
passes adding up to --seconds, output checks. The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1 (spans are
also written to .bench_build/traces/).

Options for the smoke test only: --rows N (wafer input size), --sf DIR
(catalog data directory under perfbench/data), --corrupt 1 (damage each
output before it is checked).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
BUILD_DIR = os.path.join(ROOT, ".bench_build")

WORKLOADS = {
    "wafer_canonical": {"kind": "wafer", "rows": 63909},
    "catalog_sf01": {"kind": "catalog", "sf": "sf0.1"},
}

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

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


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("SPARK_HOME is not set and spark-submit is not on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs a child process, killing it (and waiting) on timeout."""
    p = subprocess.Popen(cmd, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        sys.exit(f"{cmd[0]} did not finish within {timeout} s")
    return p.returncode, out


def build_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    return env


def build(env):
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    log("building engine + harness with sbt")
    sbt_tmp = os.path.join(BUILD_DIR, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    sbt_env = dict(env)
    sbt_env.setdefault("COURSIER_MODE", "offline")
    sbt_env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    # -Xss: scalac recurses once per `++` of SparkEntry.allDefs' long
    # catalog chain; the default 1 MB thread stack can overflow on it
    code, _ = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={sbt_tmp}", "-J-Xss16m", "-J-XX:-UsePerfData", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0:
        sys.exit(f"sbt build failed with exit code {code}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def java_cmd(classpath, work, args):
    """The benchmark JVM's command line; `work` holds its temporary files."""
    return (["java", "-Xmx3g", "-XX:-UsePerfData"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-cp", classpath, "perfbench.Main"] + list(args))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rows", type=int, help="smoke test: wafer input rows")
    ap.add_argument("--sf", help="smoke test: catalog data directory name")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"engine sources not found under {ENGINE_SRC}; "
                 "run from a checkout of the whole repository")
    wl = WORKLOADS[a.workload]
    env = build_env()
    classpath = build(env)

    work = os.path.join(BUILD_DIR, f"work-{os.getpid()}")
    traces = os.path.join(BUILD_DIR, "traces")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    args = ["--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--corrupt", str(a.corrupt), "--kind", wl["kind"]]
    if wl["kind"] == "wafer":
        args += ["--rows", str(a.rows or wl["rows"]), "--seed", str(a.seed)]
    else:
        sf = a.sf or wl["sf"]
        args += ["--sf-dir", os.path.join(HERE, "data", sf),
                 "--expect", os.path.join(HERE, "expect", f"catalog_{sf}.tsv")]
    if a.trace:
        args += ["--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
    try:
        code, out = run_child(java_cmd(classpath, work, args), RUN_TIMEOUT_S, cwd=work,
                              env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                              text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.exit(f"benchmark JVM exited with code {code}")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
