"""graft benchmark: two seeded workloads through graft's public functions.

    python3 perfbench/run.py --workload canary_catchup --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --steadiness [--runs 10] [--workloads a,b]
    python3 perfbench/run.py --selftest

A run builds the program and the benchmark once (see build.py), launches
one JVM on the compiled classpath, and prints one JSON object as the last
line of standard output: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("canary_catchup", "corpus_curate")
# task threads stay below the machine's 4 vCPUs so Spark's driver thread
# and the benchmark's checks keep a core; the heap is fixed
THREADS = 3
HEAP = "2g"
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_cmd(classes, work, args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    props = {
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "derby.system.home": work,
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "log4j2.configurationFile": os.path.join(HERE, "log4j2.properties"),
    }
    cp = classes + os.pathsep + os.path.join(build.SPARK_JARS, "*")
    # fixed JIT compiler threads, so that their CPU can be read per thread
    # and left out of cpu_ms_per_op
    return (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UseDynamicNumberOfCompilerThreads"]
            + opens
            + ["-D%s=%s" % kv for kv in props.items()]
            + ["-cp", cp, "graftbench.Main"] + args)


def launch(classes, work, args, deadline):
    """Runs one JVM; returns its standard output lines."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    argv = ["--t0-ms", str(int(time.time() * 1000)), "--threads", str(THREADS)] + args
    # the engine's log goes to a file: a reader of this process's stderr
    # that falls behind must not stall the run
    log = os.path.join(os.path.dirname(work), "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(jvm_cmd(classes, work, argv), cwd=ROOT,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        # a run stopped from outside stops its JVM too
        signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), proc.wait(), sys.exit(143)))
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("run: JVM exceeded its time limit; see " + log)
        except KeyboardInterrupt:
            proc.kill()
            proc.wait()
            raise
    if proc.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit("run: JVM exited with %d; see %s" % (proc.returncode, log))
    return out.splitlines()


def one_run(workload, seed, seconds, trace):
    t_start = time.time()
    classes = build.build(ROOT)
    # a run that had to build first gets its full time limit after the build
    deadline = max(t_start, time.time() - 10) + RUN_TIMEOUT_S
    work = os.path.join(build.build_dir(ROOT), "work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    try:
        lines = launch(classes, work, ["--workload", workload, "--seed", str(seed),
                                       "--seconds", str(seconds), "--trace", str(trace),
                                       "--work", work], deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    if a.steadiness:
        import steadiness
        steadiness.main(a, one_run)
    elif a.selftest:
        classes = build.build(ROOT)
        work = os.path.join(build.build_dir(ROOT), "work", "selftest-%d" % os.getpid())
        try:
            lines = launch(classes, work, ["--selftest", "1", "--work", work],
                           time.time() + RUN_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines))
    else:
        if not a.workload:
            ap.error("--workload is required")
        print(json.dumps(one_run(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
