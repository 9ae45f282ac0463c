"""Runs one benchmark workload and prints its result object as the last line.

    python3 perfbench/run.py --workload crawl_sparse --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark first when their sources changed (see
build.py), then runs graft.perfbench.BenchMain in one JVM. Everything the run
writes stays under .bench_build/ in the repository root; the run's own work
directory is removed at the end, its report is kept under
.bench_build/reports/. Exits non-zero, without a result line, when the build
or the run fails.
"""

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

# The JVM must finish inside the 180 s a run may take.
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the set build.sbt uses).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", action="store_true",
                    help="append a wrong triple to every output before it is "
                         "checked (self-test of the output check)")
    return ap.parse_args(argv)


def jvm_command(classes, args, work, report):
    out = build.OUT
    props = {
        "java.io.tmpdir": out / "tmp",
        "spark.local.dir": out / "spark-local",
        "spark.sql.warehouse.dir": out / "spark-warehouse",
        "spark.hadoop.hadoop.tmp.dir": out / "hadoop-tmp",
        "derby.system.home": out / "derby",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    for key in ("java.io.tmpdir", "spark.local.dir"):
        pathlib.Path(props[key]).mkdir(parents=True, exist_ok=True)
    # a fixed set of JIT compiler threads: the benchmark reads their CPU
    # time per thread (see Cost.jitCpuS)
    cmd = [build.java(), f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
            "graft.perfbench.BenchMain",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--report", str(report)]
    if args.inject_fault:
        cmd.append("--inject-fault")
    return cmd


def run(argv):
    args = parse_args(argv)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = build.OUT / "runs" / f"{tag}-{os.getpid()}"
    report = build.OUT / "reports" / f"{tag}.json"
    try:
        cmd = jvm_command(build.build(), args, work, report)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = str(build.OUT / "spark-local")
    last = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=build.ROOT, start_new_session=True)
    timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    # the JVM runs in its own process group: take it down with us
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda *_: sys.exit(1))
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code == -signal.SIGKILL:
        print(f"[perfbench] run killed after {RUN_TIMEOUT_S} s", file=sys.stderr)
    if code != 0:
        print(f"[perfbench] benchmark JVM exited with {code}", file=sys.stderr)
        return 1
    try:
        result = json.loads(last)
        assert set(result) == RESULT_KEYS
    except (TypeError, ValueError, AssertionError):
        print("[perfbench] no result object on the last line", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(run(sys.argv[1:]))
