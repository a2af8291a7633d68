#!/usr/bin/env python3
"""graft's benchmark: one command, one named workload, one JVM.

    python3 perfbench/run.py --workload search-ann --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a graft checkout. The first run builds graft and the
benchmark into .bench_build/ (see build.py). Each run works in a fresh
private directory under .bench_work/ that is deleted when the run ends;
traced runs leave their spans and per-layer table under .bench_out/.
The last line of standard output is the run's JSON result.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("search-ann", "sync-refresh", "pipeline-batch")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(work, main_args):
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dlog4j2.level=warn"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", build.classpath(), "perfbench.Main"] + main_args


def run_jvm(cmd, work):
    """Run the JVM in its own process group; relay its stdout; return
    (exit code, last JSON line of its stdout). The group is killed on timeout or when
    this process is told to stop."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, env=env)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *a: (stop(), sys.exit(3)))
    deadline = time.monotonic() + JVM_TIMEOUT_S
    last = ""
    try:
        import selectors
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s, killed",
                      file=sys.stderr)
                stop()
                proc.wait()
                return 124, ""
            if sel.select(timeout=min(left, 1.0)):
                line = proc.stdout.readline()
                if not line:
                    break
                line = line.rstrip("\n")
                if line.startswith("{"):
                    last = line
                else:
                    # Spark's console logger writes to stdout: keep it off
                    # ours, whose last line is the result
                    print(line, file=sys.stderr, flush=True)
        return proc.wait(), last
    finally:
        stop()
        proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the reference computations' own tests")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    build.build()
    work = os.path.abspath(os.path.join(
        ".bench_work", f"{a.workload or 'self-test'}-{os.getpid()}-{time.time_ns()}"))
    out = os.path.abspath(".bench_out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    try:
        if a.self_test:
            main_args = ["--self-test"]
        else:
            main_args = ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--cpus", str(len(os.sched_getaffinity(0))),
                         "--work", work, "--out", out]
        rc, last = run_jvm(jvm_command(work, main_args), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if rc != 0 or (not a.self_test and not last.startswith("{")):
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        sys.exit(rc or 1)
    if last.startswith("{"):
        print(last, flush=True)


if __name__ == "__main__":
    main()
