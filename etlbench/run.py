#!/usr/bin/env python3
"""Run one workload of the tracker ETL benchmark and print its result.

Usage (from the repository root):

    python3 etlbench/run.py --workload etl_backfill --seed 1 --seconds 16 --trace 0

The first run in a checkout builds the program and the harness from source
with sbt (see build.sbt next to this file); later runs reuse that build while
the sources are unchanged. Each run then starts one JVM with a pinned heap and
core count, which generates its inputs from the seed, times the workload,
checks the outputs and writes a result object. The last line printed is that
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Everything a run writes stays inside the checkout.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, "work")
OUT = os.path.join(BENCH, "out")
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")

HEAP = "3g"
CORES = 4
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(ROOT, "src", "main", "resources"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building first when sources changed."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
    # A clean build: nothing compiled by an earlier harness version survives.
    shutil.rmtree(os.path.join(BENCH, "target"), ignore_errors=True)
    print("etlbench: building", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[error]" in r.stdout:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def expected_digests(scale, workload, seed):
    with open(os.path.join(BENCH, "expected.json")) as f:
        return json.load(f).get(scale, {}).get(workload, {}).get(str(seed), [])


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_backfill", "etl_incremental"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: a 2000-issue corpus for the benchmark's own tests")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(PROGRAM, "graft", "pipeline", "IssuePipeline.scala")):
        fail(f"program sources not found under {PROGRAM}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    want = declared_metrics(a.trace)
    cp = build()

    shutil.rmtree(WORK, ignore_errors=True)
    for d in (WORK, os.path.join(WORK, "tmp"), OUT):
        os.makedirs(d, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(WORK, "result.json")
    expect = os.path.join(WORK, "expect.txt")
    with open(expect, "w") as f:
        f.write("\n".join(expected_digests(a.scale, a.workload, a.seed)) + "\n")

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={CORES}",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "etlbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", a.scale, "--work", WORK, "--result", result,
            "--trace-out", os.path.join(OUT, f"spans-{tag}.json"), "--expect", expect,
            "--started-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(OUT, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    sys.stdout.write(out)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(WORK, ignore_errors=True)

    # The JVM reports every metric it measured; keep the ones declared for
    # this mode, with the declared units.
    if res["correct"]:
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        missing = [k for k, u in want.items() if got.get(k) != u]
        if missing:
            fail(f"metrics missing or with other units than BENCHMARK.json declares: {missing}")
    res["metrics"] = {k: v for k, v in res["metrics"].items() if k in want}
    print(json.dumps(res))


if __name__ == "__main__":
    main()
