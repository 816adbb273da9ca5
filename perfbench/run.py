#!/usr/bin/env python3
"""posmspark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload spatial_checkpoint --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a posmspark checkout. One driver process runs
Spark on local[<cores>] and submits one job at a time.

--trace 0 launches the JVM, sets up the session SETUP_REPS times in
the running JVM (each set-up ends with a warm-up query on a slice of
the input), runs the workload's job once as a warm-up, then repeats it
for --seconds (at least MIN_JOBS times), checks every output against the
seed's reference, and reports the end-to-end metrics of BENCHMARK.json.

End-to-end metrics, each a median:

- setup_s: get_spark plus the workload's set-up, over SETUP_REPS
  set-ups in the running JVM (the JVM launch is printed but left out);
- wall_s: one job; docs_per_s: input rows over wall_s;
- cpu_s, peak_rss_mb: CPU seconds and peak resident memory of the
  process tree (this process, the JVM and its Python workers) per job.
  The JVM's heap is fixed and pre-touched (see DRIVER_MEM), so
  peak_rss_mb sees memory outside the heap only: Python workers, Arrow
  and other native buffers, JIT code and class metadata;
- exec_mem_mb: the heap memory Spark's shuffle, sort, aggregation and
  join buffers reserved, as Spark's peak execution memory summed over
  the job's tasks.

--trace 1 first measures as --trace 0 does, then restarts the session with Spark's event log on, times the
workload's cumulative layer prefixes and reports the per-layer metrics
of BENCHMARK.json, plus the tracing overhead against the untraced jobs.

Inputs, references, Spark scratch space and event logs live in
.perfbench_work/ at the checkout root. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
MIN_JOBS = 3
TRACE_REPS = 2
# the driver JVM's heap (spark.driver.memory; the shipped default is
# 16g), fixed and pre-touched. With a heap that grows and shrinks with
# each job, near_dup's wall_s varied by 0.44 of its median (quartile
# range) over five seeds on a 4-core host; with a fixed one, by 0.17
# over ten. 2g fits a host shared with other tenants.
DRIVER_MEM = "2g"


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    WORK, and let the workers import posmspark from this checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["POSMSPARK_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(event_log: str | None = None):
    from posmspark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cpus=cores(), extra_conf=conf)


def next_stage_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextStageId()


def exec_memory_bytes(spark, first_stage: int) -> int:
    """Peak execution memory summed over every task of the stages from
    first_stage on, read from Spark's status store (stages a job
    skipped read 0)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # the store is filled by a listener
    store = sc.statusStore()
    return sum(store.lastStageAttempt(sid).peakExecutionMemory()
               for sid in range(first_stage, next_stage_id(spark)))


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until no descendant is left."""
    from pyspark import SparkContext

    from perfbench import procfs

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while True:
        left = [p for p in procfs.tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.2)


class Runner:
    def __init__(self, args):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload](args.seed)
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def run_job(self) -> dict | None:
        """One checked job, with the CPU time and peak resident memory
        of the process tree while it ran; None when it raised or its
        output was wrong."""
        from perfbench.procfs import TreeSampler

        self.attempted += 1
        # start every job from a collected heap, so one job's garbage
        # does not land in the next one's time
        self.spark.sparkContext._jvm.System.gc()
        try:
            stage0 = next_stage_id(self.spark)
            with TreeSampler(os.getpid()) as tree:
                res = self.wl.job(self.spark)
            res.update(cpu_s=tree.cpu_s, peak_rss=tree.peak_rss,
                       procs=tree.max_procs,
                       exec_mem=exec_memory_bytes(self.spark, stage0))
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if not self.wl.check(res["digest"]):
            print(f"output mismatch: got {res['digest']}, "
                  f"expected {self.wl.meta['expected']}", file=sys.stderr)
            self.failed += 1
            return None
        return res

    def restart(self, event_log: str | None = None) -> float:
        """Stop the session and build a fresh one in the running JVM;
        returns the seconds get_spark took."""
        self.spark.stop()
        t0 = time.monotonic()
        self.spark = start_spark(event_log)
        return time.monotonic() - t0

    def setups(self) -> list[float]:
        """Launch the JVM and make or check the seed's inputs, then set
        up SETUP_REPS times; returns the set-up times. Each set-up is
        get_spark in the running JVM plus the workload's whole set-up.
        The JVM launch is left out: on a shared host it varies from run
        to run by more than any bound setup_s could keep. The first
        set-up runs with a cold JIT and takes 2-3 times as long as the
        others, so the median of SETUP_REPS (3) is a warm one."""
        from perfbench.inputs import Inputs

        t0 = time.monotonic()
        self.spark = start_spark()
        self.launch_s = time.monotonic() - t0
        t0 = time.monotonic()
        self.wl.prepare(Inputs(self.spark, WORK))
        self.input_s = time.monotonic() - t0
        out = []
        for _ in range(SETUP_REPS):
            t0 = time.monotonic()
            self.restart()
            self.wl.setup(self.spark)
            out.append(time.monotonic() - t0)
        return out

    def measure(self) -> dict:
        setups = self.setups()
        # the first full job still compiles code the set-ups' warm-up
        # slice did not reach (it took 1.3-1.7 times the next one):
        # its output is checked, its figures are not reported
        warm = self.run_job()
        jobs = []
        t0 = time.monotonic()
        while (len(jobs) < MIN_JOBS
               or time.monotonic() - t0 < self.args.seconds):
            res = self.run_job()
            if res is not None:
                jobs.append(res)
            if self.attempted > MIN_JOBS and not jobs:
                break
        if not jobs:
            raise RuntimeError("every job failed")
        wall = statistics.median(j["wall_s"] for j in jobs)
        report(f"{self.wl.name} seed={self.args.seed}: {len(jobs)} jobs "
               f"in {time.monotonic() - t0:.1f}s on local[{cores()}], "
               f"{self.wl.rows} input rows, up to "
               f"{max(j['procs'] for j in jobs)} processes per job")
        report(f"  input made or checked in {self.input_s:.1f}s (not timed), "
               "properties: " + json.dumps(self.wl.meta["props"]))
        report(f"  JVM launch {self.launch_s:.3f}s (not in setup_s); "
               "setup_s per set-up: " + " ".join(f"{s:.3f}" for s in setups))
        if warm is not None:
            report(f"  warm-up job (not reported): wall_s {warm['wall_s']:.3f}"
                   f", cpu_s {warm['cpu_s']:.2f}")
        for key, fmt, div in (("wall_s", "{:.3f}", 1), ("cpu_s", "{:.2f}", 1),
                              ("peak_rss", "{:.0f}", 2**20),
                              ("exec_mem", "{:.1f}", 2**20)):
            report(f"  {key} per job: " + " ".join(
                fmt.format(j[key] / div) for j in jobs))
        if "resume_s" in jobs[0]:
            report(f"  resume_s median "
                   f"{statistics.median(j['resume_s'] for j in jobs):.3f}, "
                   f"write_amp {jobs[0]['bytes_written'] / self.wl.meta['bytes']:.3f}")
        return {
            "setup_s": statistics.median(setups),
            "wall_s": wall,
            "docs_per_s": self.wl.rows / wall,
            "cpu_s": statistics.median(j["cpu_s"] for j in jobs),
            "peak_rss_mb": statistics.median(j["peak_rss"] for j in jobs) / 2**20,
            "exec_mem_mb": statistics.median(j["exec_mem"] for j in jobs) / 2**20,
        }

    def traced(self) -> dict:
        from perfbench.eventlog import EventLog

        untraced = self.measure()
        log_dir = os.path.join(WORK, "eventlog", self.wl.name)
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)  # Spark refuses to start without it
        get_spark_s = self.restart(event_log=log_dir)
        app_id = self.spark.sparkContext.applicationId
        self.wl.setup(self.spark)
        tr = self.wl.trace(self.spark, TRACE_REPS)
        self.attempted += len(tr.checks)
        self.failed += tr.checks.count(False)
        self.spark.stop()  # closes the event log
        m = self.wl.layer_metrics(tr, EventLog.load(log_dir, app_id))
        base = untraced["wall_s"]
        m.update({
            "session.get_spark_s": get_spark_s,
            "trace.untraced_wall_s": base,
            "trace.overhead_s": tr.med("full") - base,
            "trace.gap_s": m["trace.self_sum_s"] - base,
        })
        if hasattr(self.wl, "prepare_s"):
            m["joins.prepare_s"] = self.wl.prepare_s
        for note in tr.notes:
            report("  " + note)
        return m


def report(line: str) -> None:
    print(line, flush=True)


def table(metrics: dict, units: dict) -> None:
    width = max(map(len, metrics))
    for name, value in metrics.items():
        report(f"  {name:<{width}}  {value:>16.6g} {units[name]}")


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "posmspark", "__init__.py")):
        print("perfbench: no posmspark package beside perfbench/; run it "
              "from a posmspark checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    isolate_environment()
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    runner = Runner(args)
    try:
        measured = runner.traced() if args.trace else runner.measure()
    finally:
        if runner.spark is not None:
            shutdown(runner.spark)
    extra = sorted(set(measured) - set(units))
    if extra:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {extra}")
    # a layer the workload never calls did no work
    metrics = {name: float(measured.get(name, 0.0)) for name in units}
    table(metrics, units)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if runner.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
