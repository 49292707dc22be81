#!/usr/bin/env python3
"""Runs one benchmark workload in a fresh JVM and prints one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload lifecycle|curation \\
      --seed N --seconds S --trace 0|1

Builds the program and the benchmark first (perfbench/build.py) when
their sources changed. Each run works in its own directory under
.bench_build/runs, which holds the JVM's java.io.tmpdir, Spark's local
dir, the Derby home and every input and output, and is removed at exit.
The last line of standard output is
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ("lifecycle", "curation")
HEAP = "2g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def java(args, run_dir, deadline, on_checks=None):
    """Runs perfbench.Main with every scratch location inside run_dir.
    When the JVM writes checks.json, on_checks(checks) runs while the JVM
    goes on with its warm-up; its result lands in checks.result.json."""
    for d in ("tmp", "spark-local", "derby"):
        os.makedirs(f"{run_dir}/{d}", exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = f"{run_dir}/spark-local"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    # a fixed set of JIT compiler threads: none ends during a run
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss16m", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/spark-local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}/derby",
            f"-Dderby.stream.error.file={run_dir}/derby/derby.log",
            f"-Dperfbench.clk_tck={os.sysconf('SC_CLK_TCK')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "perfbench.Main"] + args
    with open(f"{run_dir}/jvm.out", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out)
        try:
            while proc.poll() is None:
                if time.monotonic() > deadline:
                    sys.exit("perfbench: run exceeded its deadline")
                if on_checks and os.path.exists(f"{run_dir}/checks.json"):
                    with open(f"{run_dir}/checks.json") as f:
                        res = on_checks(json.load(f))
                    with open(f"{run_dir}/checks.result.json", "w") as f:
                        json.dump(res, f)
                    open(f"{run_dir}/checks.done", "w").close()
                    on_checks = None
                time.sleep(0.2)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(f"{run_dir}/jvm.out") as f:
        sys.stdout.write(f.read())
    if proc.returncode != 0:
        sys.exit(f"perfbench: JVM exited with code {proc.returncode}")


def run_checks(cs):
    """DuckDB checks of the cold output; returns the failed operations."""
    bad = []
    for c in cs:
        t0 = time.monotonic()
        why = checks.run(c)
        print(f"# check {c['kind']} {c['op']}: {why or 'ok'} "
              f"({time.monotonic() - t0:.2f} s)", flush=True)
        if why is not None:
            bad.append(c["op"])
    return bad


def main():
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()
    os.makedirs(build.BUILD, exist_ok=True)
    build.build()
    deadline = start + DEADLINE_S
    run_dir = os.path.abspath(
        f"{build.BUILD}/runs/{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        java(["run", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--dir", run_dir], run_dir, deadline,
             on_checks=run_checks)
        with open(f"{run_dir}/result.json") as f:
            res = json.load(f)
        with open(f"{run_dir}/checks.result.json") as f:
            duck_bad = json.load(f)
        if a.trace and os.path.exists(f"{run_dir}/spans.jsonl"):
            os.makedirs(f"{build.BUILD}/traces", exist_ok=True)
            shutil.copy(f"{run_dir}/spans.jsonl",
                        f"{build.BUILD}/traces/{a.workload}-{a.seed}.jsonl")
        # A failed check of the cold output fails every pass of that
        # operation: each later pass matched the cold output's digest.
        bad = set(res["check_failed"]) | set(duck_bad)
        ops = res["ops"]
        attempted = sum(n for n, _ in ops.values())
        failed = sum(n if name in bad else f for name, (n, f) in ops.items())
        print(f"# attempted={attempted} failed={failed}")
        # Every operation is either checked or counted in failed, so the
        # outputs of the operations that did not fail are correct.
        print(json.dumps({"correct": True, "attempted": attempted,
                          "failed": failed, "metrics": res["metrics"]}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
