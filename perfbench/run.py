"""Archive-path benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark
driver from source (perfbench/build.py), generates the workload's
inputs from the seed (perfbench/gen.py), runs one engine process that
sets up, measures whole units of work (all cycles of a fixed workload,
else whole rounds until the given seconds have passed) and records
what it did, then checks the outputs against the generator's own
answers.

Prints `name value unit` summary lines, then as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones
(every other round runs traced; the rest give the untraced baseline
for the tracing overhead). Exits non-zero when an output
check fails or the run cannot complete.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave the checkout as it was

import build  # noqa: E402
import evaluate  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

SETUPS = 3           # set-up repetitions per run; setup_s is their median
# The engine process keeps its busy threads within a 4-CPU share: two
# task slots, two JIT compiler threads, two collector threads and no
# concurrent collector. With four task slots the JIT (which compiles
# Spark's generated classes throughout a run) and the collector
# competed with the tasks and the driver thread, and runs of the same
# code spread by a quarter to a third; the fixed heap keeps its sizing
# the same in every run.
TASK_SLOTS = 2
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
             "-XX:CICompilerCount=2"]
JVM_TIMEOUT_S = 165  # the whole run must end within 180 s
ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def cores():
    """local[N] with N <= the CPUs this process may use, at most TASK_SLOTS."""
    return max(1, min(TASK_SLOTS, len(os.sched_getaffinity(0))))


def run_engine(cp, workload, inputs, work, seconds, trace, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JVM_FLAGS + ADD_OPENS +
           ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", cp, "perfbench.Main", workload, inputs,
            os.path.join(work, "run"), str(seconds), str(trace), str(SETUPS),
            str(cores()), out])
    log = os.path.join(work, "engine.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        raise RuntimeError("engine process failed (%s); log: %s" % (code, log))


def main():
    ap = argparse.ArgumentParser(description="archive-path benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(evaluate.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        cp = build.build(root)
    except build.BuildError as e:
        sys.exit("perfbench: cannot build: %s" % e)
    work = os.path.join(root, ".bench_build", "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = os.path.join(work, "inputs")
    gen.generate(a.workload, a.seed, inputs)
    out = os.path.join(work, "record.json")
    t0 = time.time()
    try:
        run_engine(cp, a.workload, inputs, work, a.seconds, a.trace, out)
    except RuntimeError as e:
        sys.exit("perfbench: %s" % e)
    with open(out) as f:
        rec = json.load(f)
    with open(os.path.join(inputs, "expected.json")) as f:
        expected = json.load(f)
    tally, e2e, named, timed = evaluate.evaluate(a.workload, rec, expected, inputs)
    print("perfbench %s seed=%d seconds=%g trace=%d cores=%d engine_wall_s=%.1f"
          % (a.workload, a.seed, a.seconds, a.trace, cores(), time.time() - t0))
    for p in tally.problems:
        print("CHECK FAILED: " + p)
    if a.trace:
        table = metrics.layer_table(rec["trace"])
        for span in sorted(table):
            row = table[span]
            print("%-32s " % span + " ".join(
                "%s=%s" % (m, metrics.fmt(row[m])) for m in
                ("calls", "p50_ms", "self_p50_ms", "jobs_per_call",
                 "tasks_per_call", "executor_cpu_s", "shuffle_mb",
                 "planning_ms", "driver_wait_frac", "max_task_over_median",
                 "rows_read_per_result", "files_listed", "bytes_written_mb")))
        overhead = metrics.overhead_pct(timed)
        print(metrics.summary_lines({metrics.OVERHEAD: (overhead, "%")})[0])
        result = metrics.per_layer_metrics(table, overhead)
    else:
        for line in metrics.summary_lines(dict(list(e2e.items()) + list(named.items()))):
            print(line)
        result = e2e
    print(metrics.result_line(tally.failed == 0, tally.attempted, tally.failed,
                              result))
    # keep the record (with the trace) and the log; drop the stores
    for d in ("run", "inputs", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    sys.exit(0 if tally.failed == 0 else 1)


if __name__ == "__main__":
    main()
