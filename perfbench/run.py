#!/usr/bin/env python3
"""Run benchmark workloads of the graft dedup engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the benchmark (``perfbench/build.py``) if a source
changed, then starts one JVM that generates the seeded inputs, runs the
workload and checks its outputs. The JVM's last stdout line is the result
object (``correct``, ``attempted``, ``failed``, ``metrics``); it is
relayed as this script's last line (with ``all``, every workload runs in
turn and each result line follows a ``== <name>`` line). Exit status is
nonzero when the build fails, the JVM fails, or an output check fails.

Everything the run writes stays under ``perfbench/.run`` (removed at the
end) and ``perfbench/.build``.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_cmd(cp, main_args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "perfbench.Main"] + main_args)


def run_one(cp, workload, seed, seconds, trace):
    """One JVM, one workload; relays its output, returns its exit status."""
    run_dir = os.path.join(HERE, ".run")
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    cmd = jvm_cmd(cp, ["--workload", workload, "--seed", str(seed),
                       "--seconds", str(seconds), "--trace", str(trace),
                       "--work", os.path.join(run_dir, "work")], tmp)
    # SPARK_LOCAL_DIRS wins over spark.local.dir: shuffle and spill files
    # stay inside the checkout whatever the caller's environment holds
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=run_dir, env=env)
    try:
        out, _ = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("[perfbench] run exceeded its time limit", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln)
    if not lines or not lines[-1].startswith('{"correct"'):
        print(f"[perfbench] no result (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(lines[-1], flush=True)
    return proc.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    if a.workload != "all":
        return run_one(cp, a.workload, a.seed, a.seconds, a.trace)
    # every workload of BENCHMARK.json in turn, each result line after its name
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    status = 0
    for name in names:
        print(f"== {name}", flush=True)
        status = max(status, run_one(cp, name, a.seed, a.seconds, a.trace))
    return status


if __name__ == "__main__":
    sys.exit(main())
