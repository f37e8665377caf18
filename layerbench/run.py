#!/usr/bin/env python3
"""Layer benchmark of conecta's JDBC -> Arrow load path.

    python3 layerbench/run.py --workload jdbc_bulk --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark from source (see build.py), then runs
one JVM that sets the seeded inputs up, runs ops in a closed loop for
--seconds, checks every op's output and writes its metrics. The last line of
standard output is the result object; the line before it is the run's
host-contention record. The full run artifact (every op, and with --trace 1
every span and the perf-logger lines) is kept under
.bench_build/layerbench/artifacts/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

WORKLOADS = ("jdbc_bulk", "jdbc_small")
# A run must end within this many seconds, build included.
DEADLINE_S = 175
# The first run in a checkout also compiles.
FIRST_DEADLINE_S = 880
# The JVM heap, as scripts/run_main.sh sets it.
HEAP = "8g"

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def task_threads():
    """Spark task threads: one fewer than the cores this process may use,
    leaving one for the driver thread, JIT and GC."""
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        cores = os.cpu_count() or 2
    return max(1, cores - 1)


def java_command(cp, args, workdir, out, artifact):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # The heap and code cache graft's own mains run with
    # (scripts/run_main.sh). The heap is committed up front and the young
    # generation fixed: with G1 sizing both adaptively, op times differed
    # by up to 30% between otherwise identical JVMs.
    return (["java"] + opens + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC",
        "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn1g",
        "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(workdir, "tmp"),
        "-Dderby.system.home=" + workdir,
        # 25,000 4 KB pages: the whole table and its index stay in Derby's
        # buffer pool, as a 600k-row table would in a server's default one
        "-Dderby.storage.pageCacheSize=25000",
        # room for every statement a run repeats (jdbc_small's 16 windows
        # take about 7 each); Derby compiles each statement it does not
        # hold into a new class, which the JIT then compiles again
        "-Dderby.language.statementCacheSize=1000",
        "-Dderby.stream.error.file=" + os.path.join(workdir, "derby.log"),
        "-cp", cp, "layerbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--partitions", str(task_threads()),
        "--workdir", workdir, "--out", out, "--artifact", artifact])


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    start = time.monotonic()
    children = build.CHILDREN

    def stop(*_):
        for c in list(children):
            try:
                os.killpg(c.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            c.wait()

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    first = not os.path.isdir(build.OUT)
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"layerbench: {e}", file=sys.stderr)
        return 2
    deadline = start + (FIRST_DEADLINE_S if first else DEADLINE_S)

    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    workdir = os.path.join(build.OUT, "runs", name)
    artifact = os.path.join(build.OUT, "artifacts", name + ".json")
    out = os.path.join(workdir, "result.json")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(artifact), exist_ok=True)
    cmd = java_command(cp, args, workdir, out, artifact)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both in
    # the run's directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    children.add(proc)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop()
        print("layerbench: run exceeded its time limit", file=sys.stderr)
        shutil.rmtree(workdir, ignore_errors=True)
        return 3
    except BaseException:
        stop()
        raise
    try:
        with open(out) as f:
            result_line, host_line = f.read().splitlines()[:2]
        result = json.loads(result_line)
    except (OSError, ValueError) as e:
        print(f"layerbench: JVM exited {rc} without a result ({e})",
              file=sys.stderr)
        return rc or 4
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if rc != 0:
        print(f"layerbench: JVM exited {rc}", file=sys.stderr)
        return rc
    print(host_line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
