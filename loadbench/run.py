#!/usr/bin/env python3
"""Day-load benchmark: one command per workload.

    python3 loadbench/run.py --workload day_fresh --seed 1 --seconds 10 --trace 0

Builds the loader and the benchmark (`build.py`), then runs one JVM
(`graft.loadbench.LoadBench`) that generates the seeded day for the
workload and runs the workload against it. All files go under
`.bench_build/` at the repository root. The last line of standard output
is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (see BENCHMARK.json). The line before it carries
percentiles, sample counts, self-time shares and window health; the same
two lines are kept in `.bench_build/results/`.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# BENCHMARK.json lists day_fresh and day_rerun; stream_catchup runs by
# name only: its per-run medians spread too widely to gate on.
WORKLOADS = ("day_fresh", "day_rerun", "stream_catchup")
DEADLINE_S = 170  # a run, build excluded, ends well within 180 s
# a fixed-size heap: no resizing between loads
HEAP = ["-Xms3g", "-Xmx3g"]

# The JDK 17 module openings Spark needs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classes, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-XX:-UsePerfData",
        "-XX:+UseParallelGC", *HEAP, "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        f"-Dderby.system.home={os.path.join(work, 'derby-home')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        # Derby stays on disk but skips log syncs, whose latency is the
        # disk's, not the loader's
        "-Dderby.system.durability=test",
        "-Dlog4j2.configurationFile="
        + os.path.join(build.HERE, "log4j2.properties"),
    ]
    return ["java"] + opts + ["-cp", build.classpath([classes]), main] + args


def run_jvm(cmd, work, log_name, deadline):
    """Run one JVM in its own process group; kill the group at the
    deadline. Returns its standard output, or raises with the log tail."""
    log_path = os.path.join(work, log_name)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"{log_name}: timed out")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"{log_name}: exit {proc.returncode}\n{tail}")
    return out


def stop(signum, _frame):
    # unwinds through run_jvm, which kills the JVM's process group
    sys.exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--rows", type=int,
                    help="override the workload's day size (smoke tests)")
    a = ap.parse_args()

    try:
        classes = build.ensure()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"loadbench: build failed: {e}", file=sys.stderr)
        return 2

    deadline = time.time() + DEADLINE_S
    work = os.path.join(build.BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    day = os.path.join(work, "day")
    n = cores()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--dir", day,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(n)]
    if a.rows:
        args += ["--rows", str(a.rows)]
    try:
        out = run_jvm(java_cmd(classes, work, "graft.loadbench.LoadBench", args),
                      work, "bench.log", deadline)
    except RuntimeError as e:
        print(f"loadbench: {e}", file=sys.stderr)
        return 1

    # the JVM's log goes away with the work directory: keep its verdicts
    with open(os.path.join(work, "bench.log"), errors="replace") as fh:
        for line in fh:
            if line.startswith("[loadbench]"):
                sys.stderr.write(line)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print("loadbench: no result line in the benchmark's output:\n" + out,
              file=sys.stderr)
        return 1

    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(results, name + ".json"), "w") as fh:
        fh.write(json.dumps(detail) + "\n" + lines[-1] + "\n")
    spans = os.path.join(day, "spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(results, name + "-spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
