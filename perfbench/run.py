#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, one workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first call builds the program from
the checkout's own sources together with the harness in perfbench/src (sbt,
offline); later calls reuse the build while no source changed. Each call
starts one JVM running Spark local[4], stages seeded inputs, measures for
--seconds, checks every output, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones; their names and units are declared there and nowhere else.
The exit status is 0 only when every check passed.

Everything the run writes stays under .bench_build/ in the checkout.
Extra flags: --sabotage (corrupt one expected value; the run must fail)
and --record (print the ops fingerprints instead of checking them).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with RUN_TIMEOUT_S, keeps a first (building) call under 900 s
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(jars):
    """Compile with sbt (offline) and return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, GRAFT_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build timed out; log in {log_path}")
        log.write(out)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed; log in {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["workloads"], spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sabotage", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    workloads, metrics = declared_metrics(a.trace == 1)
    if a.workload not in [w["name"] for w in workloads]:
        fail(f"unknown workload {a.workload}")

    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    cp = build(jars)

    work = os.path.join(BUILD, "perfbench", "work")
    tmp = os.path.join(work, "tmp")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # The parallel collector with a fixed young generation: under G1 the
        # peak RSS followed heap-sizing choices and varied by up to 40 %
        # between identical runs.
        f"-Xmx{JVM_HEAP}", "-Xms1g", "-Xmn384m", "-XX:+UseParallelGC",
        "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
    ] + (["--sabotage"] if a.sabotage else []) + (["--record"] if a.record else [])
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"),
               SPARK_GRAFT_CPUS="4", SPARK_LOCAL_IP="127.0.0.1")
    err_path = os.path.join(BUILD, "perfbench", f"{a.workload}.stderr.log")
    os.makedirs(os.path.dirname(err_path), exist_ok=True)
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; stderr in {err_path}", 3)
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    lines = out.splitlines()
    result = None
    for line in lines[:-1]:
        print(line)
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            print(lines[-1])
    if result is None:
        with open(err_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"no result line (exit {proc.returncode})", proc.returncode or 4)
    # BENCHMARK.json is the only declaration of the metrics: attach their
    # units here. A per-layer metric the workload does not exercise reads 0;
    # an end-to-end metric must be measured, and above 0, on every workload.
    values = result["metrics"]
    if a.trace == 0:
        unmeasured = [m["name"] for m in metrics if not values.get(m["name"], 0) > 0]
        if unmeasured:
            print(f"perfbench: end-to-end metrics not measured: {unmeasured}", file=sys.stderr)
            result["correct"] = False
    result["metrics"] = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                         for m in metrics}
    print(json.dumps(result))
    sys.stdout.flush()
    sys.exit(proc.returncode if proc.returncode else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
