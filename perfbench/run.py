"""Benchmark command: one seeded workload, timed end to end or traced.

    python3 perfbench/run.py --workload scheduled_day --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end figures, the same three CPU-second figures
on every workload; with --trace 1 they are the per-layer figures of a
traced run (see README.md here). The line before it is a noise record
(host steal, trivial-plan floors, wall times, pinned settings) that is
kept for diagnosis and never gated.

The program runs in this process on local[nproc]; each operation's
output is checked against the generator's ground truth and a failed
check counts as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "sequencing_integration_pipeline1_0_spark"

#: warm passes discarded before the median: the first warm pass still
#: spends about a third more CPU than the next while the JIT compiles
WARMUP_PASSES = 1
MIN_MEASURED_PASSES = 1
#: query batches discarded before the median
WARMUP_BATCHES = 4
MIN_TIMED_BATCHES = 7
#: set-ups per run (the first launches the JVM); setup_s is their median
SETUPS = 3
TRACED_PASSES = 1
TRACED_BATCHES = 2

WORKLOADS = ("scheduled_day", "corpus_search")
#: every workload reports the same end-to-end figures; a "pass" is one
#: scheduled day (linkage batch + QA suite) or one query batch against
#: the frozen index
END_TO_END = ("setup_s", "cold_pass_cpu_s", "pass_cpu_s")
#: dimensionless figures
RATIOS = {"pairs_per_match", "candidates_per_query"}

PER_LAYER = {
    "session": ("start_s", "jvm_peak_rss_mb"),
    "sources.ingest": ("build_s", "build_jobs", "exec_s", "rows"),
    "functions": ("exec_s",),
    "plans.pipelines": ("build_s", "build_jobs", "plan_s", "exec_s",
                        "exchanges", "tasks", "shuffle_write_bytes",
                        "spill_bytes", "route_rows"),
    "operators.fuzzy": ("exec_s", "block_pairs", "matches",
                        "pairs_per_match", "shuffle_write_bytes"),
    "operators.qa": ("exec_s", "flagged_rows"),
    "operators.dedup": ("exec_s",),
    "operators.cdc": ("exec_s", "shuffle_write_bytes", "diff_rows"),
    "operators.similarity": ("build_s", "build_jobs", "exec_s",
                             "candidates_per_query", "shuffle_write_bytes"),
    "sources.sinks": ("write_s", "read_s", "files_written", "bytes_written"),
    "trace": ("overhead_s",),
}
#: per-layer figures read from the Spark event log, by job group
EVENT_LOG = {"exchanges", "tasks", "shuffle_write_bytes", "spill_bytes"}


def per_layer_names() -> list[str]:
    return [f"{layer}.{m}" for layer, ms in PER_LAYER.items() for m in ms]


def _unit(name: str) -> str:
    metric = name.rsplit(".", 1)[-1]
    if metric in RATIOS:
        return "ratio"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    return "bytes" if "bytes" in metric else "count"


# ----------------------------------------------------------------------
# launch environment and noise diagnosis
# ----------------------------------------------------------------------

def _mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 8.0


def pin_environment(work: str, trace: bool) -> dict:
    """Pin the settings the package reads at launch, sized to this host,
    and keep Spark's scratch files inside the work directory. The event
    log is switched on here, for the traced run only."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = max(1, min(4, int(_mem_total_gib() // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell",
    }
    os.environ.update(env)
    return {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}


def steal_core_seconds() -> float:
    """Host CPU time stolen from this guest so far, all cores."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def floor_s(spark) -> float:
    """Trivial-plan floor: min of 3 noop writes of a one-row plan."""
    from tracing import noop
    df = spark.range(1).selectExpr("id", "id * 2 AS v")
    noop(df)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        noop(df)
        times.append(time.perf_counter() - t0)
    return min(times)


def jvm_peak_rss_mb() -> float:
    """Peak resident set of the JVM this process launched."""
    from pyspark import SparkContext
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = gw.proc
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ----------------------------------------------------------------------
# measurement
# ----------------------------------------------------------------------

class Run:
    def __init__(self, wl, seconds: float, trace: bool, run_id: str):
        self.wl = wl
        self.seconds = seconds
        self.trace = trace
        self.run_id = run_id
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.noise: dict = {}
        self.pass_wall_s = 0.0
        self.layer: list[dict] = []
        self.tracers: list = []

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def setup(self):
        from sequencing_integration_pipeline1_0_spark.session import get_spark
        from tracing import Stopwatch
        setups = []
        spark = None
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            with Stopwatch() as sw:
                t0 = time.perf_counter()
                spark = get_spark(f"perfbench:{self.wl.name}")
                if i == 0:
                    self.metrics["session.start_s"] = time.perf_counter() - t0
                self.wl.first_read(spark)
            setups.append((sw.wall, sw.cpu))
        self.noise["setup_samples_s"] = [w for w, _ in setups]
        self.noise["setup_cpu_samples_s"] = [c for _, c in setups]
        self.metrics["setup_s"] = statistics.median(c for _, c in setups)
        return spark

    def _report(self, cold, warm, discarded: int) -> None:
        """Record the cold sample and the median of the warm samples
        after `discarded` warm-ups; samples are (wall, cpu) seconds."""
        kept = warm[discarded:]
        self.metrics["cold_pass_cpu_s"] = cold[1]
        self.metrics["pass_cpu_s"] = statistics.median(c for _, c in kept)
        self.pass_wall_s = statistics.median(w for w, _ in kept)
        self.noise.update(
            warmup_discarded=discarded,
            cold_pass_wall_s=cold[0], pass_wall_s=self.pass_wall_s,
            pass_samples_s=[w for w, _ in warm],
            pass_cpu_samples_s=[c for _, c in warm],
            quality=getattr(self.wl, "quality", None))

    def passes(self, spark) -> None:
        wl = self.wl
        cold = wl.run_pass(spark, 0)
        self.op(wl.check(spark, 0))
        warm, k = [], 1
        t_end = time.perf_counter() + self.seconds
        while (time.perf_counter() < t_end
               or len(warm) < WARMUP_PASSES + MIN_MEASURED_PASSES):
            warm.append(wl.run_pass(spark, k))
            self.op(wl.check(spark, k))
            k += 1
        self._report(cold, warm, WARMUP_PASSES)
        if self.trace:
            from tracing import Tracer
            walls = []
            for i in range(TRACED_PASSES):
                tr = Tracer(spark, f"{self.run_id}-t{i}")
                self.layer.append(wl.traced_pass(spark, tr, k + i))
                self.tracers.append(tr)
                walls.append(tr.total("traced_pass"))
            self.metrics["trace.overhead_s"] = (
                statistics.median(walls) - self.pass_wall_s)

    def serve(self, spark) -> None:
        """Build the frozen index, then run query batches in a closed
        loop from one client. The cold pass is the index build plus the
        first batch: what a freshly started service spends before its
        first answer. A warm pass is one query batch."""
        wl = self.wl
        index = wl.build_index(spark)
        wall, cpu, ok = wl.query(spark, 0)
        self.op(ok)
        cold = (index[0] + wall, index[1] + cpu)
        n_batches = wl.sizes["batches"]
        warm, b = [], 1
        t_end = time.perf_counter() + self.seconds
        while b < n_batches and (time.perf_counter() < t_end or
                                 len(warm) < WARMUP_BATCHES + MIN_TIMED_BATCHES):
            wall, cpu, ok = wl.query(spark, b)
            self.op(ok)
            warm.append((wall, cpu))
            b += 1
        self._report(cold, warm, WARMUP_BATCHES)
        recall, ok = wl.recall()
        self.op(ok)
        self.noise.update(index_wall_s=index[0], quality={"recall_at_k": recall})
        if self.trace:
            from tracing import Tracer
            tr = Tracer(spark, f"{self.run_id}-index")
            index_counts = wl.traced_index(spark, tr)
            self.tracers.append(tr)
            walls = []
            for i in range(TRACED_BATCHES):
                tr = Tracer(spark, f"{self.run_id}-t{i}")
                counts = wl.traced_pass(spark, tr, i % n_batches)
                counts.update(index_counts)
                self.layer.append(counts)
                self.tracers.append(tr)
                walls.append(tr.total("traced_pass"))
            self.metrics["trace.overhead_s"] = (
                statistics.median(walls) - self.pass_wall_s)

    def layer_metrics(self, log_dir: str) -> dict[str, float]:
        """Median over the traced passes of every per-layer figure."""
        from tracing import EventLog
        log = EventLog(log_dir)
        traced = [tr for tr in self.tracers
                  if any(s.name == "traced_pass" for s in tr.spans)]
        out = {}
        for name in per_layer_names():
            layer, metric = name.rsplit(".", 1)
            if name in self.metrics:
                out[name] = self.metrics[name]
                continue
            vals = []
            for tr, counts in zip(traced, self.layer):
                if name in counts:
                    vals.append(counts[name])
                elif metric in EVENT_LOG:
                    vals.append(log.total(tr.groups(f"{layer}.exec"), metric))
                elif metric.endswith("_s"):
                    vals.append(tr.total(f"{layer}.{metric[:-2]}"))
                else:
                    vals.append(0)
            out[name] = statistics.median(vals) if vals else 0
        return out


def measure(args, work: str, run_id: str) -> tuple[dict, dict]:
    """Generate, set up, run and (when tracing) trace one workload;
    returns (result, noise record)."""
    from workloads import WORKLOADS
    steal0, t_run = steal_core_seconds(), time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed, args.scale)
    run = Run(wl, args.seconds, bool(args.trace), run_id)
    spark = None
    try:
        spark = run.setup()
        floor_start = floor_s(spark)
        if args.workload == "corpus_search":
            run.serve(spark)
        else:
            run.passes(spark)
        floor_end = floor_s(spark)
        run.metrics["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb()
    finally:
        stop_jvm(spark)
    if args.trace:
        names = per_layer_names()
        values = run.layer_metrics(os.path.join(work, "eventlog"))
        out_dir = os.path.join(os.getcwd(), ".perfbench-out")
        for i, tr in enumerate(run.tracers):
            tr.dump(os.path.join(out_dir, f"{run_id}-spans{i}.json"))
    else:
        names = END_TO_END
        values = run.metrics
    run.noise.update(
        workload=args.workload, seed=args.seed, sizes=wl.sizes,
        steal_core_s=steal_core_seconds() - steal0,
        wall_s=time.perf_counter() - t_run,
        floor_start_s=floor_start, floor_end_s=floor_end)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": values[n], "unit": _unit(n)}
                    for n in names},
    }
    return result, run.noise


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use a small one)")
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"{PACKAGE}/ not found under {root}: run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(root, ".perfbench-work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pinned = pin_environment(work, bool(args.trace))

    try:
        result, noise = measure(args, work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    noise.update(pinned)
    print(json.dumps({"noise": noise}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
